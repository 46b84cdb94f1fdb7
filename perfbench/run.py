#!/usr/bin/env python3
"""Frontier benchmark: one workload, one JSON result line.

    python3 perfbench/run.py --workload crawl_wide --seed 3 --seconds 20 --trace 0

Run from the root of a checkout. The launcher needs no environment from
the caller: it sizes the JVM heap from /proc/meminfo and hands it to the
engine through the existing ``SPARK_GRAFT_DRIVER_MEM`` override, points
every temp and scratch directory into ``perfbench/.work``, builds the crawl
corpora there once, and starts ``workload.py`` in its own process group
while sampling the group's resident memory from /proc.

``--trace 0`` prints the end-to-end metrics and records them in
``perfbench/.work``, keyed by a hash of the engine's and the benchmark's
sources. ``--trace 1`` runs the workload traced (Spark event log on, then
per-layer isolation timings) and prints the per-layer metrics plus the
traced run's overhead on each end-to-end metric: traced minus the median
of the untraced runs recorded for the same sources. The last stdout line
is the result; the line before it carries the details (heap, passes,
hashes, failures).

The first invocation with a given checkout and sources prepares: it
builds the corpora and makes one untraced seed-0 run of every workload,
so every traced run finds a baseline. Only a preparing invocation takes
longer than 180 s; all its work counts against one deadline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

from spec import (
    BENCH_DIR,
    DEFAULT_SEED,
    ROOT,
    RUN_SOURCES,
    RUNS_DIR,
    WORK_DIR,
    WORKLOADS,
    corpus_path,
    files_hash,
)

WORKLOAD_PY = os.path.join(BENCH_DIR, "workload.py")
#: metric names and units: the benchmark's definition at the checkout root
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _DEF = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _DEF["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _DEF["per_layer"]]
#: wall-clock budget of one invocation, which must end within 180 s, and
#: of one that prepares (the first in a checkout: 900 s allowed)
RUN_LIMIT_S = 175.0
PREPARE_LIMIT_S = 850.0


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


#: JVM heap the largest workload needs: with 2 GB, crawl_wide (explode 32)
#: spends 1.1-1.7 s of a 21 s pass in GC, and a 4 GB heap made no run
#: faster (README, "Sizes")
HEAP_MB = 2048


def heap_mb(cores: int) -> int:
    """``HEAP_MB``, but never more than what is available after room for
    the JVM's own overhead and one Python worker per core (~130 MB each
    observed; 256 MB allowed)."""
    info = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            info[key] = int(rest.split()[0]) // 1024  # kB -> MB
    room = info["MemAvailable"] - 1024 - 256 * cores
    return max(1024, min(HEAP_MB, room) // 256 * 256)


def group_rss_mb(pgid: int) -> float:
    """Resident memory of the process group, as proportional set size:
    pages shared by forked Python workers count once, not per worker."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            if int(stat.rsplit(")", 1)[1].split()[2]) != pgid:
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue  # the process ended while being read
    return total / 2**20


def stop_group(pgid: int) -> None:
    """Terminate what is left of the group and wait until it is gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def run_child(
    argv: list[str], env: dict, log_path: str, limit_s: float
) -> tuple[int, float]:
    """Run ``workload.py`` in its own process group; returns (exit code,
    peak resident MB of the group). Every process it started has ended
    when this returns."""
    peak = [0.0]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, WORKLOAD_PY, *argv], cwd=ROOT, env=env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        done = threading.Event()

        def sample() -> None:
            while not done.is_set():
                peak[0] = max(peak[0], group_rss_mb(proc.pid))
                done.wait(0.2)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            done.set()
            sampler.join()
            stop_group(proc.pid)
            proc.wait()
    return code, peak[0]


def child_env(run_dir: str, heap: int) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update(
        SPARK_GRAFT_DRIVER_MEM=f"{heap}m",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # keep the JVM's temp files (and its perf-data file) in the run dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def tail(path: str, n: int = 40) -> str:
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def corpora_built() -> bool:
    return all(
        os.path.exists(os.path.join(corpus_path(cfg), "_SUCCESS"))
        for cfg in WORKLOADS.values()
    )


def build_corpora(cores: int, heap: int, limit_s: float) -> None:
    """Build the crawl corpora once per checkout, outside measured runs."""
    run_dir = tempfile.mkdtemp(prefix="build-", dir=RUNS_DIR)
    try:
        log = os.path.join(run_dir, "log")
        code, _ = run_child(
            ["--build", "--cores", str(cores)], child_env(run_dir, heap),
            log, limit_s,
        )
        if code != 0:
            sys.stderr.write(tail(log))
            raise RuntimeError(f"corpus build failed (exit {code})")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_workload(
    workload: str, seed: int, seconds: int, cores: int, heap: int,
    trace: bool, limit_s: float,
) -> dict:
    """One measuring process; its result dict plus ``peak_rss_mb``."""
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=RUNS_DIR)
    try:
        env = child_env(run_dir, heap)
        out = os.path.join(run_dir, "result.json")
        argv = [
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(int(trace)),
            "--cores", str(cores), "--out", out,
            "--deadline-s", str(limit_s * 0.6),
        ]
        if trace:
            log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(log_dir)
            env["SPARK_GRAFT_EXTRA_CONF"] = (
                f"spark.eventLog.enabled=true;spark.eventLog.dir=file://{log_dir}"
                ";spark.eventLog.compress=false;spark.eventLog.rolling.enabled=false"
            )
            argv += ["--event-log", log_dir]
        log = os.path.join(run_dir, "log")
        t0 = time.monotonic()
        code, peak = run_child(argv, env, log, limit_s)
        elapsed = time.monotonic() - t0
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(tail(log))
            return {
                "attempted": 1, "peak_rss_mb": peak, "elapsed_s": elapsed,
                "failures": [{"op": "workload_process", "error": f"exit {code}"}],
            }
        with open(out) as f:
            res = json.load(f)
        res["peak_rss_mb"] = peak
        res["elapsed_s"] = elapsed
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def end_to_end(res: dict) -> dict:
    attempted = max(1, res.get("attempted", 1))
    return {
        "setup_s": res.get("setup_s", 0.0),
        "crawl_urls_per_s": res.get("crawl_urls_per_s", 0.0),
        "peak_rss_mb": res["peak_rss_mb"],
        "ops_ok_frac": (attempted - len(res.get("failures", []))) / attempted,
    }


def untraced_log(workload: str) -> str:
    """End-to-end metrics of every untraced run made in this checkout with
    the current engine and benchmark sources (any seed)."""
    return os.path.join(
        WORK_DIR, f"untraced-{workload}-{files_hash(RUN_SOURCES)}.jsonl"
    )


def untraced_baseline(workload: str) -> dict | None:
    """Median of each end-to-end metric over the recorded untraced runs."""
    try:
        with open(untraced_log(workload)) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return None
    if not rows:
        return None
    return {k: statistics.median(r[k] for r in rows) for k, _u in END_TO_END}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "logcrawler_spark")):
        sys.stderr.write(f"engine sources not found under {ROOT}\n")
        return 2

    # a terminated launcher still unwinds, so run_child stops its group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.monotonic()
    cores = host_cores()
    heap = heap_mb(cores)
    os.makedirs(RUNS_DIR, exist_ok=True)

    def untraced(workload: str, seed: int, limit_s: float) -> dict:
        res = run_workload(
            workload, seed, args.seconds, cores, heap, False, limit_s
        )
        if not res.get("failures"):
            with open(untraced_log(workload), "a") as f:
                f.write(json.dumps(end_to_end(res)) + "\n")
        return res

    # prepare: corpora and a baseline per workload, each made once per
    # checkout and sources, outside every run's clocks
    unrecorded = [
        w for w in WORKLOADS
        if untraced_baseline(w) is None and (args.trace or w != args.workload)
    ]  # an untraced invocation records its own workload itself
    build = not corpora_built()
    prepare = build or bool(unrecorded)
    deadline = t0 + (PREPARE_LIMIT_S if prepare else RUN_LIMIT_S)

    def left() -> float:
        return deadline - time.monotonic()

    runs = []
    if build:
        build_corpora(cores, heap, left() - RUN_LIMIT_S * (1 + len(unrecorded)))
    for w in unrecorded:
        limit_s = min(RUN_LIMIT_S, left() - RUN_LIMIT_S)
        runs.append(untraced(w, DEFAULT_SEED, limit_s))
    if args.trace:
        runs.append(run_workload(
            args.workload, args.seed, args.seconds, cores, heap, True,
            min(RUN_LIMIT_S, left()),
        ))
    else:
        runs.append(untraced(args.workload, args.seed, min(RUN_LIMIT_S, left())))
    res = runs[-1]
    attempted = sum(r.get("attempted", 1) for r in runs)
    failures = [f for r in runs for f in r.get("failures", [])]
    if args.trace:
        values = dict(res.get("layers", {}))
        base = untraced_baseline(args.workload)  # None if its run failed
        if base is not None:
            traced = end_to_end(res)
            values.update({f"overhead.{k}": traced[k] - base[k] for k in base})
        units = dict(PER_LAYER)
    else:
        values = end_to_end(res)
        units = dict(END_TO_END)
    missing = [k for k in units if k not in values]
    for k in missing:
        failures.append({"op": "metric", "error": "Missing", "msg": k})
        values[k] = 0.0
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        "runs": [
            {k: v for k, v in r.items() if k != "layers"} for r in runs
        ],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted + len(missing),
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
