"""What the frontier benchmark runs: workloads, metric names, file layout.

Standard library only, so the launcher (``run.py``) can read it without
starting Spark. The Spark-side half (``workload.py``) reads the same
tables, so a size changed here changes every run the same way.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
#: gitignored scratch under the benchmark's own directory: corpus cache
#: plus one directory per run (deleted when the run ends)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
CACHE_DIR = os.path.join(WORK_DIR, "cache")
RUNS_DIR = os.path.join(WORK_DIR, "runs")
#: input tables copied from the engine's synthetic test data (seed 42):
#: sf0.1 documents for the crawl corpus, all sf0.001 tables for the pack
DATA_SF01 = os.path.join(BENCH_DIR, "data", "sf0.1")
DATA_PACK = os.path.join(BENCH_DIR, "data", "sf0.001")
PINNED = os.path.join(BENCH_DIR, "pinned.json")

#: the seed whose output hashes are pinned in ``pinned.json``
DEFAULT_SEED = 0

N_HOSTS = 500
HTML_PAD = 32

#: both crawls run fused (round N's fetch executes inside round N+1's job),
#: the configuration ``bench.py`` measures
WORKLOADS: dict[str, dict] = {
    # Bloom probe, wide rounds: 4x crawl_recrawl's pages and URLs, so the
    # per-row kernels (canonicalize, probe, fetch join, extraction, outlink
    # explode) take their largest share of a pass here (README: "Sizes")
    "crawl_wide": {
        "explode": 16,
        "budget": 256,
        "rounds": 2,
        "filter_kind": "bloom",
        "ttl_rounds": None,
    },
    # cuckoo filter with TTL deletes (each round's URLs age out in the next
    # round), small rounds: more jobs per pass than crawl_wide, on a quarter
    # of its data per round, and the Bloom code is bypassed. Three rounds,
    # not two: the steadiest of 2, 3 and 4 in a five-seed comparison
    # (README, "Sizes")
    "crawl_recrawl": {
        "explode": 4,
        "budget": 64,
        "rounds": 3,
        "filter_kind": "cuckoo",
        "ttl_rounds": 1,
    },
}


@functools.cache
def files_hash(patterns: tuple[str, ...]) -> str:
    """Short hash of the contents of every file matching ``patterns``
    (globs relative to the checkout root), so a cache or record built from
    one version of those files is never used with another. Taken once per
    process: an invocation keeps one key even if a file changes under it."""
    h = hashlib.sha256()
    for pat in patterns:
        for path in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:12]


#: what a corpus is built from: the page generator, the canonicalizer
#: stored at ingest, and the documents table
CORPUS_SOURCES = (
    "logcrawler_spark/sources/pages.py",
    "logcrawler_spark/functions/urls.py",
    "perfbench/data/sf0.1/documents.parquet",
)
#: the code a measured run executes: the engine and the benchmark
RUN_SOURCES = ("logcrawler_spark/**/*.py", "perfbench/*.py")


def corpus_path(cfg: dict) -> str:
    """Cached pages corpus of one workload (built once per checkout and
    version of its sources)."""
    return os.path.join(
        CACHE_DIR,
        f"pages_e{cfg['explode']}_p{HTML_PAD}_h{N_HOSTS}"
        f"_{files_hash(CORPUS_SOURCES)}",
    )


#: the operator-pack queries ``bench.py`` names (per-layer timings only)
PACK_QUERIES = [
    "q_pricing_summary",
    "q_merge_join_large",
    "q_top_revenue_orders",
    "q_asof_nearest",
    "q_politeness_window",
    "q_dedup_exact",
    "q_minhash_lsh_pairs",
    "q_ann_topk_bruteforce",
    "q_text_stats",
    "q_corpus_curation",
    "q_image_stats",
    "q_tree_flatten",
]
