"""Spark-side half of the frontier benchmark: one workload in one process.

``run.py`` starts this process with the heap size and temp directories
already in its environment, samples its memory, and reads the result JSON
this process writes to ``--out``. ``--build`` instead writes the crawl
corpora into the cache, outside any measured run.

A run: set up (session, inputs), then time crawl passes for ``--seconds``
(at least one; the first is the process's first crawl, with every cold
cost a one-shot crawl job pays), then check the output against the
pure-Python simulator, every later pass against the first, and the seed-0
output against the pinned hashes. The traced variant adds per-layer
isolation timings and, through the Spark event log, job/stage/task
attribution of the timed passes.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # setup_s counts from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from spec import (  # noqa: E402
    BENCH_DIR,
    DATA_PACK,
    DATA_SF01,
    DEFAULT_SEED,
    HTML_PAD,
    N_HOSTS,
    PACK_QUERIES,
    PINNED,
    WORKLOADS,
    corpus_path,
)

sys.path.insert(0, os.path.dirname(BENCH_DIR))  # the engine's sources

from pyspark.sql import functions as F  # noqa: E402

from logcrawler_spark.plans.frontier import run_crawl  # noqa: E402
from logcrawler_spark.session import get_spark  # noqa: E402
from logcrawler_spark.sources.pages import (  # noqa: E402
    _expanded_docs,
    canonical_url_expr,
    generate_pages,
    generate_robots_rules,
    priority_expr,
    trapped_url_expr,
)
from logcrawler_spark.utils import materialize  # noqa: E402

SCHED_COLS = ["round", "host", "priority", "canonical_url", "host_rank", "slot_ms"]


class Ops:
    """Counts operations (crawl passes, layer calls, checks) and records the
    error class of each failure instead of aborting the run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[dict] = []

    def run(self, name: str, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # one failed operation must not end the run
            traceback.print_exc()
            self.failures.append(
                {"op": name, "error": type(e).__name__, "msg": str(e)[:300]}
            )
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(
                {"op": name, "error": "CheckFailed", "msg": detail[:300]}
            )


def build_corpora(spark) -> None:
    from logcrawler_spark.functions.urls import canonicalize_url

    for cfg in WORKLOADS.values():
        path = corpus_path(cfg)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            continue
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # canonical key stored at ingest, as bench.py's corpus does
        generate_pages(
            spark, DATA_SF01, N_HOSTS, explode_factor=cfg["explode"],
            html_pad=HTML_PAD,
        ).withColumn("canonical_url", canonicalize_url(F.col("url"))).repartition(
            16
        ).write.parquet(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)


def seeded_seeds(spark, explode: int, seed: int):
    """Seed URLs drawn from the corpus by a seeded hash: the share and mix
    of ``sources.pages.generate_seeds`` (1 in 11 live pages, 1 in 101
    dead links), a different draw per benchmark seed."""
    import pyarrow.parquet as pq

    docs = _expanded_docs(spark, DATA_SF01, explode)
    path = os.path.join(DATA_SF01, "documents.parquet")
    n_docs = pq.ParquetFile(path).metadata.num_rows * explode  # no Spark job
    d = F.col("doc_id")
    live = docs.filter(F.pmod(F.xxhash64(d, F.lit(seed)), F.lit(11)) == 0).select(
        trapped_url_expr(d, N_HOSTS).alias("url"),
        priority_expr(d).alias("priority"),
    )
    dead = docs.filter(
        F.pmod(F.xxhash64(d, F.lit(seed), F.lit(1)), F.lit(101)) == 0
    ).select(
        canonical_url_expr(d + F.lit(n_docs), N_HOSTS).alias("url"),
        priority_expr(d + F.lit(n_docs)).alias("priority"),
    )
    return live.unionByName(dead)


def _sha(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def sched_lines(rows) -> list[str]:
    """Schedule rows as text in the defined crawl order
    (round, host, -priority, canonical_url)."""
    rows = sorted(rows, key=lambda r: (r[0], r[1], -r[2], r[3]))
    return [
        f"{int(r[0])}\t{r[1]}\t{float(r[2])!r}\t{r[3]}\t{int(r[4])}\t{int(r[5])}"
        for r in rows
    ]


def outputs(state) -> dict:
    """Hashes of a finished crawl's schedule and url_seen set, plus the
    raw candidate URLs per round that the throughput metric counts."""
    sched = state.schedule.select(*SCHED_COLS).toPandas()
    seen = state.url_seen.select("canonical_url").toPandas()
    raw = state.metrics.select("round", "urls_raw_total").toPandas()
    return {
        "schedule": _sha(sched_lines(sched.itertuples(index=False))),
        "url_seen": _sha(sorted(set(seen["canonical_url"]))),
        "scheduled": len(sched),
        "urls_raw": {
            str(int(r)): int(n)
            for r, n in raw.drop_duplicates().itertuples(index=False)
        },
    }


def simulator_check(ops: Ops, pages, seeds, robots, cfg: dict, ref: dict) -> None:
    """The crawl must equal the pure-Python simulator's crawl."""
    from logcrawler_spark.oracles.frontier_sim import simulate_crawl

    sim = simulate_crawl(
        pages.select("url", "warc_ts", "html").toPandas(),
        seeds.toPandas(),
        robots.toPandas(),
        rounds=cfg["rounds"],
        budget=cfg["budget"],
        ttl_rounds=cfg["ttl_rounds"],
    )
    got = {
        "schedule": _sha(sched_lines(sim.schedule)),
        "url_seen": _sha(sorted(sim.url_seen)),
    }
    for key in ("schedule", "url_seen"):
        ops.check(
            f"simulator_{key}", got[key] == ref.get(key),
            f"engine {ref.get(key)} != simulator {got[key]}",
        )


def scratch_mb(tmp: str) -> float:
    """Engine scratch (``utils.materialize`` dirs) left in the temp dir."""
    total = 0
    for name in os.listdir(tmp):
        if not name.startswith("logcrawler-mat-"):
            continue
        for dirpath, _dirs, files in os.walk(os.path.join(tmp, name)):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--deadline-s", type=float, default=120)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--event-log", help="Spark event-log dir (traced run)")
    ap.add_argument("--out")
    args = ap.parse_args()

    spark = get_spark(
        args.cores, "perfbench", shuffle_partitions=max(args.cores, 8)
    )
    if args.build:
        build_corpora(spark)
        spark.stop()
        return 0
    session_s = time.monotonic() - T_START
    cfg = WORKLOADS[args.workload]
    tmp = tempfile.gettempdir()  # the run's own dir (run.py sets TMPDIR)
    ops = Ops()
    kw = {
        "budget": cfg["budget"],
        "fuse_fetch": True,
        "filter_kind": cfg["filter_kind"],
        "ttl_rounds": cfg["ttl_rounds"],
    }

    # ---- set-up: the inputs
    pages = spark.read.parquet(corpus_path(cfg))
    robots = generate_robots_rules(spark, N_HOSTS)
    seeds = materialize(
        seeded_seeds(spark, cfg["explode"], args.seed).repartition(args.cores)
    )
    setup_s = time.monotonic() - T_START

    # ---- timed passes: closed loop, one call at a time
    walls: list[float] = []
    windows: list[tuple[float, float]] = []  # epoch seconds, for the event log
    ref: dict = {}
    t_loop = time.monotonic()
    while True:
        w0, t0 = time.time(), time.monotonic()
        state = ops.run(
            "crawl", run_crawl, spark, pages, seeds, robots,
            rounds=cfg["rounds"], **kw,
        )
        wall = time.monotonic() - t0
        windows.append((w0, w0 + wall))
        got = ops.run("crawl_outputs", outputs, state) if state else None
        if got is not None:
            if walls:
                ops.check("pass_agrees", got == ref, f"pass {got} != first {ref}")
            else:
                ref = got
            walls.append(wall)
        if not walls:
            break  # the workload cannot run here; report the failures
        now = time.monotonic()
        med = statistics.median(walls)
        if now - t_loop + med > args.seconds or now - T_START + med > args.deadline_s:
            break
    scratch = scratch_mb(tmp) / max(1, len(walls))

    # ---- checks, outside every timed region
    phase_s: dict = {}  # wall time of each untimed phase, for the detail line
    t0 = time.monotonic()
    if ref:
        ops.run("simulator", simulator_check, ops, pages, seeds, robots, cfg, ref)
    if args.seed == DEFAULT_SEED:
        with open(PINNED) as f:
            pinned = json.load(f).get(args.workload)
        ops.check("pinned_hashes", pinned == ref, f"{ref} != pinned {pinned}")
    phase_s["checks"] = time.monotonic() - t0

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "setup_s": setup_s,
        "session_start_s": session_s,
        "pass_s": walls,
        "outputs": ref,
        "phase_s": phase_s,
    }
    if walls:
        wall = statistics.median(walls)
        result["crawl_s"] = wall
        result["crawl_urls_per_s"] = sum(ref["urls_raw"].values()) / wall

    layers: dict = {}
    if args.trace:
        from layers import crawl_layers, pack_layers

        jvm = spark.sparkContext._jvm
        layers["session.start_s"] = session_s
        layers["session.heap_mb"] = (
            jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        )
        layers["utils.scratch_mb"] = scratch
        t0 = time.monotonic()
        layers.update(ops.run(
            "crawl_layers", crawl_layers, spark, pages, seeds, robots, cfg, tmp
        ) or {})
        phase_s["crawl_layers"] = time.monotonic() - t0
        t0 = time.monotonic()
        layers.update(ops.run(
            "pack_layers", pack_layers, spark, DATA_PACK, PACK_QUERIES
        ) or {})
        phase_s["pack_layers"] = time.monotonic() - t0
    spark.stop()  # flushes the event log
    if args.trace:
        from eventlog import attribute

        layers.update(ops.run("eventlog", attribute, args.event_log, windows) or {})
        result["layers"] = layers
    result["attempted"] = ops.attempted
    result["failures"] = ops.failures
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
