"""Partitioned cuckoo-filter URL-seen layer — the deletable sibling of
``plans.bloom``.

BASELINE.json's north star names a "Bloom/cuckoo-filter URL-seen set";
the Bloom layer (``plans/bloom.py``) covers the append-only fast path,
while this module adds what Bloom cannot: DELETION, the primitive a
recrawl policy needs ("forget this URL after its TTL so it can be
scheduled again") without rebuilding the filter.

Same layout contract as the Bloom layer: tables are hash-bucketed by
``pmod(url_hash, n_buckets)`` (power of two, so JVM signed pmod agrees
with the numpy uint64 modulo); one cuckoo table per bucket, built/updated
with ``applyInPandas`` and probed with a cogrouped bucket join — never a
driver collect or broadcast of the filter.

Cuckoo specifics (Fan et al., partial-key cuckoo hashing, public
algorithm): each key stores a 16-bit fingerprint in one of two candidate
rows of a (m x slots_per_row) uint16 table; row2 = row1 XOR
position-hash(fingerprint), so relocation needs only the fingerprint.
Zero is the empty sentinel (fingerprints are forced nonzero). Properties
relied on by the engine and pinned in tests:

- no false negatives for inserted keys;
- delete works only for previously-inserted keys (standard cuckoo caveat:
  deleting a never-inserted key may evict a colliding twin);
- positives remain "maybe" — the exact anti-join always confirms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logcrawler_spark.plans.bloom import _mix64

SLOTS_PER_ROW = 4
_FP_CONST = np.uint64(0x5BD1E9955BD1E995)  # odd multiplier for fp -> row hop
_TARGET_LOAD = 0.85  # auto-sizing aims below the ~95% cuckoo feasibility edge
_MIN_M_ROWS = 1 << 10

CUCKOO_SCHEMA = (
    "bucket int, table binary, m_rows long, n_items long, n_kicked long,"
    " stash binary"
)


def _auto_m_rows(n_keys: int) -> int:
    """Power-of-two row count sized for <= _TARGET_LOAD at n_keys."""
    need = max(_MIN_M_ROWS, int(n_keys / (SLOTS_PER_ROW * _TARGET_LOAD)) + 1)
    return 1 << (need - 1).bit_length()


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """Nonzero 16-bit fingerprints from fully-mixed hashes."""
    fp = (_mix64(hashes) >> np.uint64(48)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _row1(hashes: np.ndarray, m_rows: int) -> np.ndarray:
    return (_mix64(hashes ^ np.uint64(0xA5A5A5A5A5A5A5A5)) % np.uint64(m_rows)).astype(np.int64)


def _fp_hop(fp: np.ndarray, m_rows: int) -> np.ndarray:
    """Row displacement derived from the fingerprint alone (so eviction can
    relocate entries without the original key)."""
    return (
        _mix64(fp.astype(np.uint64) * _FP_CONST) % np.uint64(m_rows)
    ).astype(np.int64)


def _insert_many(
    table: np.ndarray, hashes: np.ndarray, max_kicks: int = 500
) -> tuple[int, list[int]]:
    """Insert each hash; returns (total eviction kicks, homeless
    fingerprints). A fingerprint whose eviction chain exhausts
    ``max_kicks`` goes to the caller's STASH instead of raising — the
    filter degrades gracefully (stash probes linearly) and the growth
    pass (:func:`grow_overfull_buckets`) rebuilds the bucket at the next
    size. Note the homeless fp is whatever the chain last displaced, not
    necessarily the incoming key's — set semantics are preserved either
    way (every displaced fp lands in table or stash)."""
    m_rows = table.shape[0]
    fps = _fingerprints(hashes)
    r1s = _row1(hashes, m_rows)
    hops = _fp_hop(fps, m_rows)
    rng_state = np.uint64(0x9E3779B97F4A7C15)
    kicks = 0
    homeless: list[int] = []
    for fp, r1, hop in zip(fps, r1s, hops):
        r2 = r1 ^ hop
        placed = False
        for r in (r1, r2):
            empty = np.flatnonzero(table[r] == 0)
            if empty.size:
                table[r, empty[0]] = fp
                placed = True
                break
        if placed:
            continue
        # evict: kick a resident fingerprint to its alternate row
        row = int(r1)
        cur = np.uint16(fp)
        for _ in range(max_kicks):
            # deterministic slot choice (splitmix-style counter)
            rng_state = (
                rng_state * np.uint64(6364136223846793005)
                + np.uint64(1442695040888963407)
            )
            slot = int(rng_state >> np.uint64(60)) % SLOTS_PER_ROW
            cur, table[row, slot] = table[row, slot], cur
            kicks += 1
            row = int(
                np.int64(row)
                ^ _fp_hop(np.array([cur], dtype=np.uint16), m_rows)[0]
            )
            empty = np.flatnonzero(table[row] == 0)
            if empty.size:
                table[row, empty[0]] = cur
                break
        else:
            homeless.append(int(cur))
    return kicks, homeless


def _delete_many(
    table: np.ndarray, stash: np.ndarray, hashes: np.ndarray
) -> tuple[int, np.ndarray]:
    """Remove one matching fingerprint per hash (table rows first, then the
    stash by fingerprint alone); returns (#removed, new stash)."""
    m_rows = table.shape[0]
    fps = _fingerprints(hashes)
    r1s = _row1(hashes, m_rows)
    hops = _fp_hop(fps, m_rows)
    stash = stash.copy()
    removed = 0
    for fp, r1, hop in zip(fps, r1s, hops):
        hit = False
        for r in (r1, int(np.int64(r1) ^ hop)):
            match = np.flatnonzero(table[r] == fp)
            if match.size:
                table[r, match[0]] = 0
                removed += 1
                hit = True
                break
        if not hit and stash.size:
            match = np.flatnonzero(stash == fp)
            if match.size:
                stash = np.delete(stash, match[0])
                removed += 1
    return removed, stash


def _probe_many(
    table: np.ndarray, stash: np.ndarray, hashes: np.ndarray
) -> np.ndarray:
    """Vectorized maybe-present test (two candidate rows + stash)."""
    m_rows = table.shape[0]
    fps = _fingerprints(hashes)
    r1s = _row1(hashes, m_rows)
    r2s = r1s ^ _fp_hop(fps, m_rows)
    hit1 = (table[r1s] == fps[:, None]).any(axis=1)
    hit2 = (table[r2s] == fps[:, None]).any(axis=1)
    hits = hit1 | hit2
    if stash.size:
        hits |= np.isin(fps, stash)
    return hits


def _stash_arr(blob) -> np.ndarray:
    return (
        np.frombuffer(blob, dtype=np.uint16)
        if blob
        else np.empty(0, dtype=np.uint16)
    )


def build_cuckoo_table(
    url_seen: DataFrame,
    hash_col: str = "url_hash",
    n_buckets: int = 32,
    m_rows: int | None = None,
    min_m_rows_by_bucket: dict[int, int] | None = None,
) -> DataFrame:
    """One cuckoo table per hash bucket (m_rows x 4 slots of uint16).

    ``m_rows=None`` (default) auto-sizes each bucket's table from its key
    count for <= ~85% load; pass an explicit power of two to pin it.
    ``min_m_rows_by_bucket`` raises the floor per bucket (power of two) —
    the growth pass uses it so a stash-overflow rebuild at low load still
    doubles instead of churning at the same size (ADVICE r03)."""
    assert n_buckets & (n_buckets - 1) == 0
    assert m_rows is None or m_rows & (m_rows - 1) == 0
    mins = min_m_rows_by_bucket or {}

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf[hash_col].to_numpy().astype(np.uint64)
        bkt = int(pdf["__bucket"].iloc[0])
        m = m_rows if m_rows is not None else _auto_m_rows(len(pdf))
        m = max(m, int(mins.get(bkt, 0)))
        table = np.zeros((m, SLOTS_PER_ROW), dtype=np.uint16)
        kicks, homeless = _insert_many(table, hashes)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["__bucket"].iloc[0])],
                "table": [table.tobytes()],
                "m_rows": [m],
                "n_items": [len(pdf)],
                "n_kicked": [kicks],
                "stash": [
                    np.asarray(homeless, dtype=np.uint16).tobytes()
                ],
            }
        )

    bucketed = url_seen.withColumn(
        "__bucket", F.pmod(F.col(hash_col), F.lit(n_buckets))
    )
    return bucketed.groupBy("__bucket").applyInPandas(
        _build, schema=CUCKOO_SCHEMA
    )


def _updated(
    cuckoos: DataFrame,
    keys: DataFrame,
    hash_col: str,
    n_buckets: int,
    delete: bool,
    m_rows: int | None = None,
) -> DataFrame:
    """Cogrouped per-bucket insert/delete of ``keys`` into the standing
    tables — touches ONLY buckets holding keys; other rows pass through.
    ``m_rows`` sizes bootstrap builds of previously-missing buckets
    (None = auto-size from the key count)."""

    def _apply(tbl_pdf: pd.DataFrame, key_pdf: pd.DataFrame) -> pd.DataFrame:
        if tbl_pdf.empty:
            # deletes into a missing bucket are no-ops; inserts bootstrap
            if delete or key_pdf.empty:
                return tbl_pdf.iloc[0:0]
            bucket = int(key_pdf["__bucket"].iloc[0])
            m = m_rows if m_rows is not None else _auto_m_rows(len(key_pdf))
            table = np.zeros((m, SLOTS_PER_ROW), dtype=np.uint16)
            kicks, homeless = _insert_many(
                table, key_pdf[hash_col].to_numpy().astype(np.uint64)
            )
            return pd.DataFrame(
                {
                    "bucket": [bucket],
                    "table": [table.tobytes()],
                    "m_rows": [m],
                    "n_items": [len(key_pdf)],
                    "n_kicked": [kicks],
                    "stash": [
                        np.asarray(homeless, dtype=np.uint16).tobytes()
                    ],
                }
            )
        row = tbl_pdf.iloc[0]
        m = int(row["m_rows"])
        table = (
            np.frombuffer(row["table"], dtype=np.uint16)
            .reshape(m, SLOTS_PER_ROW)
            .copy()
        )
        stash = _stash_arr(row["stash"])
        n_items = int(row["n_items"])
        kicks = int(row["n_kicked"])
        if not key_pdf.empty:
            hashes = key_pdf[hash_col].to_numpy().astype(np.uint64)
            if delete:
                removed, stash = _delete_many(table, stash, hashes)
                n_items -= removed
            else:
                dk, homeless = _insert_many(table, hashes)
                kicks += dk
                if homeless:
                    stash = np.concatenate(
                        [stash, np.asarray(homeless, dtype=np.uint16)]
                    )
                n_items += len(hashes)
        return pd.DataFrame(
            {
                "bucket": [int(row["bucket"])],
                "table": [table.tobytes()],
                "m_rows": [m],
                "n_items": [n_items],
                "n_kicked": [kicks],
                "stash": [stash.tobytes()],
            }
        )

    keyed = keys.withColumn(
        "__bucket", F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int")
    )
    return (
        cuckoos.groupBy("bucket")
        .cogroup(keyed.groupBy("__bucket"))
        .applyInPandas(_apply, schema=CUCKOO_SCHEMA)
    )


def insert_keys(
    cuckoos: DataFrame, keys: DataFrame, hash_col: str = "url_hash",
    n_buckets: int = 32, m_rows: int | None = None,
) -> DataFrame:
    """Incrementally add a key delta (O(delta) work, per-bucket)."""
    return _updated(cuckoos, keys, hash_col, n_buckets, delete=False,
                    m_rows=m_rows)


def grow_overfull_buckets(
    cuckoos: DataFrame,
    exact_keys: DataFrame,
    hash_col: str = "url_hash",
    n_buckets: int = 32,
    load_factor: float = 0.9,
) -> DataFrame:
    """Rebuild any bucket whose load exceeds ``load_factor`` (or that has
    stash overflow) from the EXACT key set, auto-sized for the new count —
    the growth path a long crawl needs instead of a hard capacity wall.

    A cuckoo table cannot grow in place (row placement consumes hash bits
    a stored fingerprint no longer has), so growth = rebuild the bucket
    from ``exact_keys`` (the engine always has them: the filter mirrors
    url_seen). The stats read collects one (bucket, m_rows, n_items,
    stash_len) row per bucket — n_buckets rows of metadata, never the
    binary tables — and untouched buckets pass through unchanged."""
    stats = cuckoos.select(
        "bucket", "m_rows", "n_items",
        F.coalesce(F.length("stash"), F.lit(0)).alias("stash_len"),
    ).collect()
    over: list[int] = []
    mins: dict[int, int] = {}
    for r in stats:
        bkt, m = int(r["bucket"]), int(r["m_rows"])
        load_hit = int(r["n_items"]) > load_factor * m * SLOTS_PER_ROW
        stash_hit = r["stash_len"] > 0
        if not (load_hit or stash_hit):
            continue
        over.append(bkt)
        if stash_hit and not load_hit:
            # stash overflow at low load: auto-sizing would return the SAME
            # m_rows and the bucket could stash again next round — rebuild
            # at >= 2x so every growth trigger makes size progress
            mins[bkt] = 2 * m
    if not over:
        return cuckoos
    keep = cuckoos.filter(~F.col("bucket").isin(over))
    src = exact_keys.filter(
        F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int").isin(over)
    )
    rebuilt = build_cuckoo_table(
        src, hash_col=hash_col, n_buckets=n_buckets,
        min_m_rows_by_bucket=mins,
    )
    return keep.unionByName(rebuilt)


def delete_keys(
    cuckoos: DataFrame, keys: DataFrame, hash_col: str = "url_hash",
    n_buckets: int = 32,
) -> DataFrame:
    """Forget previously-inserted keys — the recrawl-TTL primitive Bloom
    lacks. Only delete keys that were inserted (cuckoo caveat)."""
    return _updated(cuckoos, keys, hash_col, n_buckets, delete=True)


def cuckoo_probe_rows(tbl_pdf: pd.DataFrame, hs: np.ndarray) -> np.ndarray:
    """Probe callback for ``bloom.cogroup_filter_not_seen``."""
    row = tbl_pdf.iloc[0]
    table = np.frombuffer(row["table"], dtype=np.uint16).reshape(
        int(row["m_rows"]), SLOTS_PER_ROW
    )
    return _probe_many(table, _stash_arr(row["stash"]), hs)


def filter_not_seen_cuckoo(
    candidates: DataFrame,
    url_seen: DataFrame,
    cuckoos: DataFrame,
    hash_col: str = "url_hash",
    key_cols: list[str] | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """candidates minus url_seen with the cuckoo table as the prefilter —
    same contract/plan shape as ``bloom.filter_not_seen`` (cogrouped bucket
    probe, exact confirm of positives), plus deletion support upstream."""
    from logcrawler_spark.plans.bloom import cogroup_filter_not_seen

    assert n_buckets & (n_buckets - 1) == 0
    keys = key_cols or [hash_col]
    return cogroup_filter_not_seen(
        candidates, url_seen, cuckoos, cuckoo_probe_rows, hash_col, keys,
        n_buckets,
    )


def probe_maybe_seen(
    candidates: DataFrame,
    cuckoos: DataFrame,
    hash_col: str = "url_hash",
    n_buckets: int = 32,
) -> DataFrame:
    """candidates + __maybe boolean, via the same cogrouped bucket join the
    Bloom probe uses (no driver collect / broadcast)."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    out_cols = list(candidates.columns)
    # a FRESH StructType — StructType.add mutates in place and
    # DataFrame.schema is cached, so the caller's frame would grow a
    # phantom __maybe column (ADVICE r02)
    schema = StructType(
        list(candidates.schema.fields)
        + [StructField("__maybe", BooleanType())]
    )

    def _probe(cand_pdf: pd.DataFrame, tbl_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf[out_cols].copy()
        if tbl_pdf.empty:
            out["__maybe"] = False
            return out
        row = tbl_pdf.iloc[0]
        table = np.frombuffer(row["table"], dtype=np.uint16).reshape(
            int(row["m_rows"]), SLOTS_PER_ROW
        )
        hashes = cand_pdf[hash_col].to_numpy().astype(np.uint64)
        out["__maybe"] = _probe_many(
            table, _stash_arr(row["stash"]), hashes
        )
        return out

    return (
        candidates.withColumn(
            "__bucket", F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int")
        )
        .groupBy("__bucket")
        .cogroup(cuckoos.groupBy("bucket"))
        .applyInPandas(_probe, schema=schema)
    )
