"""Plan-quality gates: predicate pushdown, column pruning, broadcast
placement — asserted on the physical plans so regressions fail loudly
(SURVEY.md §4 R1/R2/R8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString() + "\n" + (
        df._jdf.queryExecution().toString()
    )


def test_filter_pushdown_reaches_scan(spark):
    import __spark_entry__ as m

    df = m.queries()["q_filter_pushdown"](spark, SF_ORACLE)
    plan = _plan(df)
    # predicates must appear as scan-level DataFilters/PushedFilters, not
    # only as a post-scan Filter node
    scan_lines = [
        line for line in plan.splitlines() if "FileScan parquet" in line
    ]
    assert scan_lines, plan
    assert any(
        "DataFilters: [" in line and "o_orderstatus" in line
        for line in scan_lines
    ), scan_lines


def test_column_pruning_reads_only_needed_columns(spark):
    import __spark_entry__ as m

    df = m.queries()["q_pricing_summary"](spark, SF_ORACLE)
    plan = _plan(df)
    # lineitem has 11 columns; the query needs 6 — the scan schema must not
    # include the unused join keys
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    for unused in ["l_orderkey", "l_partkey", "l_suppkey", "l_tax"]:
        assert unused not in read_schema, f"scan reads unused {unused}"


def test_dimension_joins_broadcast(spark):
    import __spark_entry__ as m

    df = m.queries()["q_broadcast_lookup"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # customer and nation


def test_fetch_join_broadcasts_scheduled_side(spark):
    """The crawl's fetch join must broadcast the (bounded) scheduled batch
    and stream the corpus — the only direction that survives 10^10 pages."""
    from logcrawler_spark.functions.urls import canonicalize_url
    from logcrawler_spark.sources.pages import generate_pages

    pages = generate_pages(spark, "/root/testdata/sf0.001", 50)
    pages_c = pages.withColumn(
        "canonical_url", canonicalize_url(F.col("url"))
    )
    sched = pages_c.select("canonical_url", F.lit(1.0).alias("priority")).limit(10)
    fetched = pages_c.join(F.broadcast(sched), on="canonical_url", how="inner")
    assert "BroadcastHashJoin" in _plan(fetched)


def test_anti_join_pushes_semi_structure(spark):
    import __spark_entry__ as m

    df = m.queries()["q_existence_gate"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "LeftAnti" in plan


def test_whole_stage_codegen_covers_scalar_pack(spark):
    import __spark_entry__ as m

    df = m.queries()["q_scalar_pack"](spark, SF_ORACLE)
    plan = _plan(df)
    # '*(n)' prefixes mark WholeStageCodegen spans in executedPlan strings
    assert "*(1)" in plan


def test_bloom_probe_is_cogrouped_bucket_join(spark):
    """The URL-seen probe must be a cogrouped bucket join (one candidate
    shuffle, bloom rows joined per task) — never a driver collect/broadcast
    of the bloom table or a nested-loop join."""
    from logcrawler_spark.plans.bloom import build_bloom_table, filter_not_seen

    seen = spark.range(0, 500).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
    )
    cand = spark.range(400, 900).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
    )
    import logcrawler_spark.utils as U

    blooms = build_bloom_table(seen, n_buckets=16)
    probed_plans = []
    orig = U.materialize

    def spy(df):
        probed_plans.append(_plan(df))
        return orig(df)

    U.materialize = spy
    try:
        out = filter_not_seen(
            cand, seen, blooms, key_cols=["url_hash", "canonical_url"],
            n_buckets=16,
        )
        full = _plan(out)
    finally:
        U.materialize = orig
    # the probe itself (pinned by the internal materialize)
    assert probed_plans and "FlatMapCoGroupsInPandas" in probed_plans[-1]
    for plan in probed_plans + [full]:
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_fetch_retry_stays_in_codegen(spark):
    """The S6 retry expressions are pure columns — the fetch filter must
    not introduce a Python UDF stage."""
    from logcrawler_spark.plans.frontier import run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )
    # plan-only check: build one round's fetch frame lazily via a tiny run
    pages = generate_pages(spark, "/root/testdata/sf0.001", 50)
    sched = pages.select(
        F.col("url").alias("canonical_url"), F.lit(1.0).alias("priority")
    ).limit(5)
    ok_attempts = F.filter(
        F.sequence(F.lit(1), F.lit(3)),
        lambda a: F.pmod(F.xxhash64(F.col("canonical_url"), a), F.lit(100))
        >= 25,
    )
    fetched = pages.withColumnRenamed("url", "canonical_url").join(
        F.broadcast(sched.select("canonical_url")), "canonical_url"
    ).withColumn("__first_ok", F.try_element_at(ok_attempts, F.lit(1)))
    plan = _plan(fetched.filter(F.col("__first_ok").isNotNull()))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ensure_min_partitions_size_gate(spark):
    """min_split_bytes gates the RR exchange by input bytes: a tiny local
    parquet (KBs) must NOT be repartitioned (the exchange costs more than
    the kernel it parallelizes — measured 0.723s vs 0.225s on
    q_dedup_exact at sf0.1), while the unconditional form still splits."""
    from logcrawler_spark.utils import ensure_min_partitions

    d = spark.read.parquet(str(SF_ORACLE) + "/documents.parquet")
    base_parts = d.rdd.getNumPartitions()

    gated = ensure_min_partitions(d, min_split_bytes=32 << 20)
    assert gated.rdd.getNumPartitions() == base_parts  # no exchange added

    unconditional = ensure_min_partitions(d)
    assert (
        unconditional.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

    # a gate sized BELOW the file size still derives the split count from
    # the input bytes (capped at parallelism), so a genuinely large
    # unsplittable file would be spread
    sized = ensure_min_partitions(d, min_split_bytes=1)
    assert sized.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_ensure_min_partitions_size_gate_path_with_space(spark, tmp_path):
    """The size gate reads local file sizes from percent-encoded URIs: a
    parquet dir whose path holds a space must still be gated (a failed
    size read would fall back to the unconditional repartition)."""
    from logcrawler_spark.utils import ensure_min_partitions

    path = str(tmp_path / "dir with space")
    spark.range(100).coalesce(1).write.parquet(path)
    d = spark.read.parquet(path)
    assert any("%20" in f for f in d.inputFiles())
    gated = ensure_min_partitions(d, n=4, min_split_bytes=32 << 20)
    assert gated.rdd.getNumPartitions() == d.rdd.getNumPartitions() == 1
    sized = ensure_min_partitions(d, n=4, min_split_bytes=1)
    assert sized.rdd.getNumPartitions() == 4


def test_scratch_dir_removed_at_exit(tmp_path):
    """materialize's scratch dir lives as long as the interpreter: a
    process that created it leaves nothing behind once it exits."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "from logcrawler_spark.utils import scratch_dir;"
         " d = scratch_dir(); open(d + '/f', 'w').close(); print(d)"],
        cwd=root, env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, check=True,
    )
    made = out.stdout.strip()
    assert os.path.basename(made).startswith("logcrawler-mat-")
    assert os.path.dirname(made) == str(tmp_path)
    assert not os.path.exists(made)
