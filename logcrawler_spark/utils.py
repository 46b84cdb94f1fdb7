"""Small plan utilities."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame


_MAT_DIR: str | None = None
_MAT_SEQ = 0


def scratch_dir() -> str:
    """The process's ``logcrawler-mat-*`` scratch directory, created on
    first use and removed at interpreter exit.

    Not earlier: frames returned by :func:`materialize` (and so by
    ``run_crawl``) read from it for the rest of the session."""
    global _MAT_DIR
    if _MAT_DIR is None:
        _MAT_DIR = tempfile.mkdtemp(prefix="logcrawler-mat-")
        atexit.register(shutil.rmtree, _MAT_DIR, ignore_errors=True)
    return _MAT_DIR


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute and pin a DataFrame via a scratch-parquet round trip.

    Used where a derived column is expensive (minhash signatures, pandas-UDF
    fingerprints) AND the plan references it multiple times (self-joins,
    band explosion): Catalyst's CollapseProject would otherwise inline the
    expression into every consumer and recompute it per reference (measured
    16x slowdown on MinHash-LSH). On a cluster this is where the signature
    table would be persisted as a real artifact for reuse across runs.

    Deliberately NOT ``localCheckpoint``: its Dataset->RDD conversion drops
    WholeStageCodegen and re-evaluates the plan's expressions interpreted,
    measured up to 30x slower at 32 threads (see plans/frontier.py).
    """
    global _MAT_SEQ
    _MAT_SEQ += 1
    path = f"{scratch_dir()}/m{_MAT_SEQ:05d}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _local_paths(df: DataFrame) -> list[str] | None:
    """Local paths of the files backing ``df`` (URIs percent-decoded), or
    None when any of them is not a ``file:`` URI. Driver-side, no job."""
    uris = df.inputFiles()
    if not all(u.startswith("file:") for u in uris):
        return None
    return [unquote(urlparse(u).path) for u in uris]


def materialized_rows(df: DataFrame) -> int:
    """Row count of a frame :func:`materialize` returned, summed from its
    parquet footers on the driver — no Spark job. Only valid for such an
    unfiltered scan; files off the local filesystem fall back to
    ``count()``."""
    import pyarrow.parquet as pq

    paths = _local_paths(df)
    if paths is None:
        return df.count()
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def ensure_min_partitions(
    df: DataFrame,
    n: int | None = None,
    min_split_bytes: int | None = None,
) -> DataFrame:
    """Round-robin repartition iff the input has fewer partitions than the
    session's parallelism.

    Why: Spark packs small files into few input splits
    (``spark.sql.files.maxPartitionBytes``), so a compute-heavy per-row
    kernel (minhash signatures, simhash, embedding folds, extraction) over
    a small-file table would run on ONE core while 31 idle. At cluster
    scale inputs have enough splits and this is a no-op — the check costs
    one ``getNumPartitions`` on the logical plan, no job.

    ``min_split_bytes`` gates the repartition by *input size* for kernels
    whose per-row cost is small (e.g. one md5 per row): there the exchange
    only pays for itself when a single task would otherwise chew through
    many MB.  When set, the target partition count is derived from the
    on-disk bytes of the backing files (driver-side ``getsize``, no job) as
    ``bytes // min_split_bytes``, capped at ``n`` — so tiny local inputs
    skip the shuffle entirely while a 100-TB table still splits. The floor
    division is deliberate: inputs under 2x the gate stay on one task
    (moving this gate has shifted pack timings before). Inputs not wholly
    backed by local files, or whose size cannot be read, fall back to the
    unconditional behavior.
    """
    spark = df.sparkSession
    if n is None:
        n = spark.sparkContext.defaultParallelism
    if min_split_bytes is not None:
        paths = _local_paths(df)
        if paths:
            try:
                total = sum(os.path.getsize(p) for p in paths)
            except OSError:
                total = None  # size unknown -> keep the unconditional target
            if total is not None:
                n = min(n, max(1, total // min_split_bytes))
    if n <= 1:
        return df
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
