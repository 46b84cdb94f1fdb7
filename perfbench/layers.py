"""Per-layer isolation timings for the traced run.

Each layer's public functions are called on inputs captured from the
workload itself (one eager round of the workload's crawl: its round-2 raw
candidates, its url_seen after round 1 and its round-1 fetch), and the
result is written to Spark's ``noop`` sink so the whole plan runs without
a driver collect. A timing is the median of ``REPS`` calls.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logcrawler_spark.catalog import Catalog
from logcrawler_spark.extraction import extract_text_and_links
from logcrawler_spark.plans.bloom import build_bloom_table, filter_not_seen
from logcrawler_spark.plans.cuckoo import (
    SLOTS_PER_ROW,
    build_cuckoo_table,
    delete_keys,
    filter_not_seen_cuckoo,
    insert_keys,
)
from logcrawler_spark.plans.frontier import (
    apply_robots,
    canonicalize_candidates,
    dedup_batch,
    politeness_rank,
    robots_per_host,
    run_crawl,
)
from logcrawler_spark.utils import materialize

REPS = 2
N_BUCKETS = 32  # the crawl's default filter bucket count
KEYS = ["url_hash", "canonical_url"]


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_s(fn, reps: int = REPS) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    return statistics.median(walls)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's checksum and
    marker files."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith(".") or name.startswith("_"):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def crawl_layers(spark, pages, seeds, robots, cfg: dict, tmp: str) -> dict:
    """Isolation metrics for every crawl layer, on captured inputs."""
    out: dict[str, float] = {}
    cap = run_crawl(
        spark, pages, seeds, robots, rounds=1, budget=cfg["budget"],
        filter_kind=cfg["filter_kind"], ttl_rounds=cfg["ttl_rounds"],
    )
    cands = cap.candidates  # round-2 raw candidates (materialized)
    seen = cap.url_seen
    sched = cap.schedule
    budget = cfg["budget"]

    # functions.urls
    n_raw = cands.count()
    t = _median_s(lambda: _noop(canonicalize_candidates(cands)))
    out["urls.canonicalize_s"] = t
    out["urls.rows_per_s"] = n_raw / t
    keyed = materialize(canonicalize_candidates(cands))

    # plans.frontier: dedup -> (exact seen filter) -> robots -> politeness
    out["frontier.dedup_s"] = _median_s(lambda: _noop(dedup_batch(keyed)))
    dedup = materialize(dedup_batch(keyed))
    n_dedup = dedup.count()
    out["frontier.dedup_out_ratio"] = n_dedup / n_raw
    unseen = materialize(
        dedup.join(seen.select(*KEYS), on=KEYS, how="left_anti")
    )
    n_unseen = unseen.count()
    rules = materialize(robots_per_host(robots))
    out["frontier.robots_s"] = _median_s(
        lambda: _noop(apply_robots(unseen, rules))
    )
    allowed = materialize(apply_robots(unseen, rules))
    n_allowed = allowed.count()
    out["frontier.robots_allowed_ratio"] = n_allowed / n_unseen
    out["frontier.politeness_s"] = _median_s(
        lambda: _noop(politeness_rank(allowed, budget))
    )
    out["frontier.admit_ratio"] = (
        politeness_rank(allowed, budget).count() / n_allowed
    )

    # plans.bloom: standing filter over url_seen, probed by the candidates
    out["bloom.build_s"] = _median_s(
        lambda: _noop(build_bloom_table(seen, n_buckets=N_BUCKETS))
    )
    bloom = materialize(build_bloom_table(seen, n_buckets=N_BUCKETS))
    out["bloom.probe_s"] = _median_s(
        lambda: _noop(
            filter_not_seen(
                dedup, seen, bloom, key_cols=KEYS, n_buckets=N_BUCKETS
            )
        )
    )
    fill, fp = [], []
    for r in bloom.collect():
        bits = np.unpackbits(np.frombuffer(r["bloom"], dtype=np.uint8))
        fill.append(bits.mean())
        fp.append(
            (1.0 - np.exp(-r["k"] * r["n_items"] / r["m_bits"])) ** r["k"]
        )
    out["bloom.fill_frac"] = float(np.mean(fill))
    out["bloom.est_fp_rate"] = float(np.mean(fp))

    # plans.cuckoo: insert the round's new keys, age out round 1, probe
    table = materialize(build_cuckoo_table(seen, n_buckets=N_BUCKETS))
    new_keys = unseen.select("url_hash")
    out["cuckoo.insert_s"] = _median_s(
        lambda: _noop(insert_keys(table, new_keys, n_buckets=N_BUCKETS))
    )
    out["cuckoo.delete_s"] = _median_s(
        lambda: _noop(
            delete_keys(table, seen.select("url_hash"), n_buckets=N_BUCKETS)
        )
    )
    out["cuckoo.probe_s"] = _median_s(
        lambda: _noop(
            filter_not_seen_cuckoo(
                dedup, seen, table, key_cols=KEYS, n_buckets=N_BUCKETS
            )
        )
    )
    grown = insert_keys(table, new_keys, n_buckets=N_BUCKETS).select(
        "m_rows", "n_items", F.coalesce(F.length("stash"), F.lit(0)).alias("st")
    ).agg(
        F.sum("m_rows").alias("m"), F.sum("n_items").alias("n"),
        F.sum("st").alias("st"),
    ).collect()[0]
    out["cuckoo.load_factor"] = grown["n"] / (grown["m"] * SLOTS_PER_ROW)
    out["cuckoo.stash_size"] = float(grown["st"] // 2)  # uint16 entries

    # extraction: the round-1 fetch (schedule joined with the corpus)
    fetched = materialize(
        pages.join(
            F.broadcast(sched.select("canonical_url")), on="canonical_url"
        ).select("html")
    )
    stats = fetched.agg(
        F.count("*").alias("n"), F.sum(F.length("html")).alias("b")
    ).collect()[0]
    ex = extract_text_and_links(F.col("html"))
    t = _median_s(lambda: _noop(fetched.select(ex.alias("x"))))
    out["extract.s"] = t
    out["extract.html_mb_per_s"] = stats["b"] / 1e6 / t
    n_links = fetched.select(F.explode(ex["hrefs"])).count()
    out["extract.outlinks_per_page"] = n_links / stats["n"]

    # catalog: the round's url_seen delta, appended bucketed as
    # plans.frontier commits it, then read back
    delta = unseen.select(
        "url_hash", "canonical_url", F.lit(2).alias("first_seen_round")
    )
    cat = Catalog(spark, os.path.join(tmp, "catalog"))
    walls = []
    for i in range(REPS):
        t0 = time.monotonic()
        cat.append(
            f"url_seen_{i}", delta, tag=2, n_buckets=N_BUCKETS,
            bucket_col="url_hash",
        )
        walls.append(time.monotonic() - t0)
    out["catalog.append_s"] = statistics.median(walls)
    out["catalog.read_s"] = _median_s(lambda: _noop(cat.read("url_seen_0")))
    n_files, n_bytes = _dir_bytes(os.path.join(tmp, "catalog", "url_seen_0"))
    user = delta.agg(
        F.sum(F.length("canonical_url") + F.lit(12)).alias("b")
    ).collect()[0]["b"]  # string bytes + int64 hash + int32 round
    out["catalog.files"] = float(n_files)
    out["catalog.bytes_per_user_byte"] = n_bytes / user

    # utils
    out["utils.materialize_s"] = _median_s(lambda: materialize(keyed))
    return out


def pack_layers(spark, sf_dir: str, names: list[str]) -> dict:
    """One noop-sink run of each operator-pack query (warm session)."""
    import __spark_entry__ as entry

    queries = entry.queries()
    return {
        f"pack.{n}_s": _median_s(lambda n=n: _noop(queries[n](spark, sf_dir)), 1)
        for n in names
    }
