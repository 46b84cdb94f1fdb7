"""North-rule gate: Spark crawl pipeline vs the pure-Python oracle.

Exact-match checks (BASELINE.md §2): crawl ordering, URL-seen membership
set, politeness slots, byte-identical extracted text.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logcrawler_spark.plans.frontier import resume_crawl, run_crawl
from logcrawler_spark.sources.pages import (
    generate_pages,
    generate_robots_rules,
    generate_seeds,
)
from tests.conftest import SF_SMOKE
from logcrawler_spark.oracles.frontier_sim import simulate_crawl

N_HOSTS = 50
ROUNDS = 3
BUDGET = 5


@pytest.fixture(scope="module")
def crawl(spark):
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    state = run_crawl(
        spark, pages, seeds, robots, rounds=ROUNDS, budget=BUDGET, use_bloom=True
    )
    oracle = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), ROUNDS, BUDGET
    )
    return state, oracle, pages


def test_crawl_order_exact_match(crawl):
    state, oracle, _ = crawl
    got = [
        (r["round"], r["host"], r["priority"], r["canonical_url"])
        for r in state.schedule.select(
            "round", "host", "priority", "canonical_url"
        )
        .orderBy("round", "host", F.col("priority").desc(), "canonical_url")
        .collect()
    ]
    want = [(t[0], t[1], t[2], t[3]) for t in oracle.schedule]
    assert got == want


def test_politeness_slots_match(crawl):
    state, oracle, _ = crawl
    got = {
        (r["round"], r["canonical_url"]): (r["host_rank"], r["slot_ms"])
        for r in state.schedule.collect()
    }
    want = {(t[0], t[3]): (t[4], t[5]) for t in oracle.schedule}
    assert got == want


def test_politeness_budget_never_exceeded(crawl):
    state, _, _ = crawl
    over = (
        state.schedule.groupBy("round", "host")
        .count()
        .filter(F.col("count") > BUDGET)
        .count()
    )
    assert over == 0


def test_url_seen_membership_exact(crawl):
    state, oracle, _ = crawl
    got = {r["canonical_url"] for r in state.url_seen.collect()}
    assert got == oracle.url_seen


def test_no_rescheduled_urls(crawl):
    """A URL is scheduled at most once across all rounds (dedup invariant)."""
    state, _, _ = crawl
    dups = (
        state.schedule.groupBy("canonical_url")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_extracted_text_byte_identical(crawl):
    """North-rule invariant: extraction output equals the oracle text
    (which equals the generator's `text` column) byte for byte."""
    state, oracle, pages = crawl
    from logcrawler_spark.extraction import extract_text
    from logcrawler_spark.functions.urls import canonicalize_url

    got = {
        r["c"]: r["et"]
        for r in pages.select(
            canonicalize_url(F.col("url")).alias("c"),
            extract_text(F.col("html")).alias("et"),
        ).collect()
        if r["c"] in oracle.extracted
    }
    assert got == oracle.extracted


def test_robots_disallow_enforced(crawl):
    """No scheduled URL may hit a disallowed prefix without a deeper allow.

    Hosts with rank % 5 == 0 disallow /d13; rank % 20 == 0 ALSO carries a
    same-length /d13 allow (tie -> allow wins), so those are exempt."""
    state, _, _ = crawl
    rank = F.regexp_extract("host", r"(?:host|mega)(\d+)\.", 1).cast("int")
    viol = state.schedule.filter(
        F.col("path").startswith("/d13")
        & ~F.col("path").startswith("/d13/p")
        & rank.isNotNull()
        & (F.pmod(rank, F.lit(5)) == 0)
        & (F.pmod(rank, F.lit(20)) != 0)
    ).count()
    assert viol == 0


def test_robots_equal_length_tie_allow_wins(spark):
    """RFC 9309 tie rule: equal-length allow and disallow -> allow wins,
    identically in the Spark filter and the pure-Python simulator."""
    from logcrawler_spark.oracles import frontier_sim as sim
    from logcrawler_spark.plans.frontier import apply_robots

    import pandas as pd

    robots_rows = [
        ("h.example.com", "/tie", False, 100),
        ("h.example.com", "/tie", True, 100),
        ("h.example.com", "/deny", False, 100),
    ]
    robots = spark.createDataFrame(
        robots_rows,
        "host string, path_prefix string, allow boolean, crawl_delay_ms long",
    )
    cand = spark.createDataFrame(
        [
            ("http://h.example.com/tie/x", "h.example.com", "/tie/x", 1, 1.0),
            ("http://h.example.com/deny/x", "h.example.com", "/deny/x", 2, 1.0),
        ],
        "canonical_url string, host string, path string, url_hash long,"
        " priority double",
    )
    got = {r["path"] for r in apply_robots(cand, robots).collect()}
    assert got == {"/tie/x"}

    rpdf = pd.DataFrame(
        robots_rows, columns=["host", "path_prefix", "allow", "crawl_delay_ms"]
    )
    res = sim.simulate_crawl(
        pd.DataFrame(columns=["url", "warc_ts", "html"]),
        pd.DataFrame(
            [("http://h.example.com/tie/x", 1.0),
             ("http://h.example.com/deny/x", 2.0)],
            columns=["url", "priority"],
        ),
        rpdf,
        rounds=1,
        budget=5,
    )
    assert [t[3] for t in res.schedule] == ["http://h.example.com/tie/x"]


def test_duplicate_canonical_pages_lww(spark):
    """dedup_pages=True: recrawled canonicals collapse to the max
    (warc_ts, url) page in both engine and simulator (single fetch, single
    outlink expansion)."""
    import pandas as pd

    from logcrawler_spark.oracles.frontier_sim import simulate_crawl
    from logcrawler_spark.plans.frontier import resume_crawl, run_crawl

    def html(text, href):
        return f'<p>{text}</p><a href="{href}">x</a>'.encode()

    pages_rows = [
        # same canonical (default port trap) — later warc_ts must win
        ("http://a.example.com/p1", "2024-01-01 00:00:00",
         html("old body", "/old-link")),
        ("http://a.example.com:80/p1", "2024-01-02 00:00:00",
         html("new body", "/new-link")),
        ("http://a.example.com/old-link", "2024-01-01 00:00:00",
         html("old target", "/x")),
        ("http://a.example.com/new-link", "2024-01-01 00:00:00",
         html("new target", "/y")),
    ]
    from datetime import datetime

    pages = spark.createDataFrame(
        [(u, datetime.fromisoformat(t), h) for u, t, h in pages_rows],
        "url string, warc_ts timestamp, html binary",
    )
    seeds = spark.createDataFrame(
        [("http://a.example.com/p1", 5.0)], "url string, priority double"
    )
    robots = spark.createDataFrame(
        [], "host string, path_prefix string, allow boolean,"
        " crawl_delay_ms long",
    )
    state = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=5, dedup_pages=True
    )
    got = sorted(
        (r["round"], r["canonical_url"]) for r in state.schedule.collect()
    )
    sim = simulate_crawl(
        pd.DataFrame(
            [(u, pd.Timestamp(t), h) for u, t, h in pages_rows],
            columns=["url", "warc_ts", "html"],
        ),
        pd.DataFrame([("http://a.example.com/p1", 5.0)],
                     columns=["url", "priority"]),
        pd.DataFrame(columns=["host", "path_prefix", "allow",
                              "crawl_delay_ms"]),
        rounds=2,
        budget=5,
    )
    want = sorted((t[0], t[3]) for t in sim.schedule)
    assert got == want
    # round 2 follows the NEW link only
    assert ("http://a.example.com/new-link" in [c for _r, c in got])
    assert ("http://a.example.com/old-link" not in [c for _r, c in got])


def test_fetch_retry_failover_preserves_schedule(spark):
    """S6: with transient failures + enough bounded retries, the final
    schedule is identical to the no-failure run, and the retry/failure
    counters land in metrics."""
    from logcrawler_spark.plans.frontier import resume_crawl, run_crawl

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    def key(state):
        return sorted(
            (r["round"], r["canonical_url"], r["host_rank"])
            for r in state.schedule.collect()
        )

    clean = run_crawl(spark, pages, seeds, robots, rounds=2, budget=BUDGET)
    flaky = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=BUDGET,
        failure_rate_pct=25, max_fetch_attempts=12,
    )
    assert key(flaky) == key(clean)
    m = flaky.metrics.select(
        "round", "fetch_retries_total", "fetch_failures_total"
    ).distinct().collect()
    retries = {r["round"]: r["fetch_retries_total"] for r in m}
    failures = {r["round"]: r["fetch_failures_total"] for r in m}
    assert sum(retries.values()) > 0  # failures actually injected
    assert all(v == 0 for v in failures.values())  # 12 attempts: none stuck
    clean_m = clean.metrics.select("fetch_retries_total").distinct().collect()
    assert all(r["fetch_retries_total"] == 0 for r in clean_m)


def test_fetch_permanent_failures_drop_pages_and_are_counted(spark):
    """With a single attempt, ~failure_rate of pages fail permanently: they
    are not fetched (no outlinks) and the failure counter records them."""
    from logcrawler_spark.plans.frontier import resume_crawl, run_crawl

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    st = run_crawl(
        spark, pages, seeds, robots, rounds=1, budget=BUDGET,
        failure_rate_pct=40, max_fetch_attempts=1,
    )
    row = st.metrics.select(
        "pages_fetched_total", "fetch_failures_total"
    ).distinct().collect()[0]
    assert row["fetch_failures_total"] > 0
    clean = run_crawl(spark, pages, seeds, robots, rounds=1, budget=BUDGET)
    n_clean = clean.metrics.select("pages_fetched_total").distinct().collect()[
        0
    ]["pages_fetched_total"]
    assert row["pages_fetched_total"] + row["fetch_failures_total"] == n_clean


@pytest.mark.parametrize("fuse_fetch", [False, True], ids=["eager", "fused"])
@pytest.mark.parametrize(
    "filter_kw",
    [{"filter_kind": "bloom"}, {"filter_kind": "cuckoo", "ttl_rounds": 1}],
    ids=["bloom", "cuckoo_ttl"],
)
def test_probe_confirm_join_matches_inline(spark, filter_kw, fuse_fetch):
    """The two URL-seen check shapes (exact anti-join vs filter pre-split
    plus anti-join confirm of positives) are plan-level alternatives with
    identical semantics: same schedule (ranks + slots), same URL-seen set,
    same candidate counts in metrics — across both filters, both fetch
    modes and the filterless run, and all equal to the simulator."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    def run(**kw):
        st = run_crawl(
            spark, pages, seeds, robots, rounds=2, budget=4,
            fuse_fetch=fuse_fetch, **filter_kw, **kw,
        )
        sched = sorted(
            (r["round"], r["host"], r["priority"], r["canonical_url"],
             r["host_rank"], r["slot_ms"])
            for r in st.schedule.collect()
        )
        seen = {r["canonical_url"] for r in st.url_seen.collect()}
        cand = sorted(
            (r["round"], r["urls_candidates_total"])
            for r in st.metrics.select(
                "round", "urls_candidates_total"
            ).distinct().collect()
        )
        return sched, seen, cand

    inline = run(probe_confirm="inline")
    assert run(probe_confirm="join") == inline
    if filter_kw["filter_kind"] == "bloom" and not fuse_fetch:
        assert run(use_bloom=False) == inline
    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 2, 4,
        ttl_rounds=filter_kw.get("ttl_rounds"),
    )
    assert inline[0] == sorted(tuple(t) for t in sim.schedule)
    assert inline[1] == sim.url_seen
    assert [r for r, _ in inline[2]] == [1, 2]


@pytest.fixture(scope="module")
def dead_seed_crawl(spark):
    """Inputs whose every seed is a dead link (no page), so round 2 of a
    crawl has no candidates; the simulator's answer per ttl_rounds."""
    from logcrawler_spark.functions.urls import canonicalize_url

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    live = pages.select(canonicalize_url(F.col("url")).alias("c"))
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS).join(
        live, canonicalize_url(F.col("url")) == F.col("c"), "left_anti"
    )
    frames = pages.toPandas(), seeds.toPandas(), robots.toPandas()
    sims = {
        ttl: simulate_crawl(*frames, 2, 4, ttl_rounds=ttl)
        for ttl in (None, 1)
    }
    return pages, seeds, robots, len(frames[1]), sims


@pytest.mark.parametrize("probe_confirm", ["inline", "join"])
@pytest.mark.parametrize(
    "filter_kw",
    [
        {"filter_kind": "bloom"},
        {"filter_kind": "cuckoo", "ttl_rounds": 1},
        {"use_bloom": False},
    ],
    ids=["bloom", "cuckoo_ttl", "exact"],
)
@pytest.mark.parametrize("fuse_fetch", [False, True], ids=["eager", "fused"])
def test_empty_round_counts_are_total_under_aqe(
    spark, dead_seed_crawl, fuse_fetch, filter_kw, probe_confirm
):
    """Round 2 has no candidates. AQE then replaces the empty stages of
    the candidate chain by empty relations, dropping the Observations
    inside them; the round's candidate counts must still be read exactly,
    and the crawl must equal the simulator."""
    pages, seeds, robots, n_seeds, sims = dead_seed_crawl
    st = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=4,
        fuse_fetch=fuse_fetch, probe_confirm=probe_confirm, **filter_kw,
    )
    sim = sims[filter_kw.get("ttl_rounds")]
    got = sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert got and got == sorted(tuple(t) for t in sim.schedule)
    assert {r[0] for r in got} == {1}  # round 2 scheduled nothing
    assert {r["canonical_url"] for r in st.url_seen.collect()} == sim.url_seen
    assert sorted(
        set(
            (r["round"], r["urls_raw_total"], r["urls_candidates_total"],
             r["pages_fetched_total"])
            for r in st.metrics.collect()
        )
    ) == [(1, n_seeds, n_seeds, 0)]


def test_windowed_politeness_spillover_matches_simulator(spark):
    """Over-budget candidates roll to later fetch windows (slot offset +=
    window_ms) instead of being dropped at the single-window budget; the
    engine must match the simulator EXACTLY, and at least one host must
    actually spill (>budget URLs scheduled in one round)."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    budget, wpr, wms = 2, 3, 10_000

    st = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=budget,
        windows_per_round=wpr, window_ms=wms,
    )
    got = sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 2, budget,
        windows_per_round=wpr, window_ms=wms,
    )
    want = sorted((t[0], t[1], t[2], t[3], t[4], t[5]) for t in sim.schedule)
    assert got == want
    # something actually spilled into a later window
    spilled = [t for t in got if t[4] > budget]
    assert spilled, "no host exceeded the per-window budget"
    assert all(t[5] >= wms for t in spilled)  # later-window slot offsets
    # and no (host, round, window) ever exceeds the budget
    from collections import Counter

    per_win = Counter((t[0], t[1], t[5] // wms) for t in got)
    assert max(per_win.values()) <= budget


def test_windowed_politeness_slow_host_stride_no_collision(spark):
    """ADVICE r03 (medium): with budget*crawl_delay > window_ms, windows
    must advance by max(window_ms, budget*delay) per host or window N's
    late slots collide with window N+1's early ones. Engine == simulator
    exactly, AND the physical invariant holds: consecutive same-host slots
    are always >= crawl_delay apart."""
    budget, wpr, wms, delay = 2, 3, 1_000, 10_000
    host = "slow.example.com"
    seeds = spark.createDataFrame(
        [(f"http://{host}/p{i}", 1.0) for i in range(8)],
        "url string, priority double",
    )
    pages = spark.createDataFrame(
        [], "url string, warc_ts long, html binary, text string, lang string"
    )
    robots = spark.createDataFrame(
        [(host, "/never", False, delay)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms long",
    )
    st = run_crawl(
        spark, pages, seeds, robots, rounds=1, budget=budget,
        windows_per_round=wpr, window_ms=wms,
    )
    got = sorted(
        (r["canonical_url"], r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 1, budget,
        windows_per_round=wpr, window_ms=wms,
    )
    want = sorted((t[3], t[4], t[5]) for t in sim.schedule)
    assert got == want
    slots = sorted(t[2] for t in got)
    assert len(slots) == budget * wpr  # all three windows filled
    diffs = [b - a for a, b in zip(slots, slots[1:])]
    assert min(diffs) >= delay, f"same-host fetches closer than crawl_delay: {slots}"


def test_fuse_fetch_matches_eager_and_simulator(spark):
    """fuse_fetch=True (1 materializing job/round + final flush) must be
    indistinguishable in RESULTS from the eager mode: same schedule, same
    url_seen, same metrics totals — and both equal the simulator."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    fused = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        fuse_fetch=True,
    )
    eager = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert key(fused) == key(eager)
    assert fused.pending_fetch is None  # finalize flushed it
    seen = lambda st: {r["canonical_url"] for r in st.url_seen.collect()}
    assert seen(fused) == seen(eager)

    mcols = [
        "round", "urls_raw_total", "urls_candidates_total",
        "pages_fetched_total", "bytes_extracted_total",
    ]
    mrows = lambda st: sorted(
        set(tuple(r[c] for c in mcols) for r in st.metrics.collect())
    )
    assert mrows(fused) == mrows(eager)

    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 3, BUDGET
    )
    assert key(fused) == sorted(tuple(t) for t in sim.schedule)


def test_fuse_fetch_with_failures_matches_eager(spark):
    """Deferred attempt-observations resolve correctly one round late."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=10)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=10)
    robots = generate_robots_rules(spark, n_hosts=10)
    fused = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=3,
        fuse_fetch=True, failure_rate_pct=20,
    )
    eager = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=3,
        failure_rate_pct=20,
    )
    tot = lambda st: sorted(
        set(
            (r["round"], r["pages_fetched_total"], r["fetch_retries_total"],
             r["fetch_failures_total"])
            for r in st.metrics.collect()
        )
    )
    assert tot(fused) == tot(eager)


def test_fuse_auto_durable_compose_and_match_eager(spark, tmp_path):
    """The r5 composition (VERDICT r04 item 1): fuse_fetch=True +
    probe_confirm='auto' + bloom_buckets=None + per-round durable commits
    in ONE run, results identical to the plain eager run — the
    1-job/round configuration is now also scale-adaptive and resumable."""
    from logcrawler_spark.catalog import Catalog

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    cat = Catalog(spark, str(tmp_path))
    fused = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        fuse_fetch=True, probe_confirm="auto", bloom_buckets=None,
        catalog=cat,
    )
    eager = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert key(fused) == key(eager)
    assert fused.pending_fetch is None
    seen = lambda st: {r["canonical_url"] for r in st.url_seen.collect()}
    assert seen(fused) == seen(eager)
    # the catalog's committed history equals the in-memory state,
    # including the final round's flushed metrics and REAL candidate rows
    cat_sched = sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in cat.read("schedule").collect()
    )
    assert cat_sched == key(eager)
    mcols = [
        "round", "urls_raw_total", "urls_candidates_total",
        "pages_fetched_total", "bytes_extracted_total",
    ]
    mrows = lambda df: sorted(
        set(tuple(r[c] for c in mcols) for r in df.collect())
    )
    assert mrows(cat.read("metrics")) == mrows(eager.metrics)
    # finalize replaced the fused marker with real candidate rows
    assert not cat.exists("fused_pending") or not (
        cat.read("fused_pending").collect()
    )
    n_pending_rows = (
        cat.read("pending_candidates").filter(F.col("for_round") == 3).count()
    )
    assert n_pending_rows == fused.candidates.count()


def test_fused_durable_resume_after_kill_matches_straight(spark, tmp_path):
    """Kill a fused+auto+durable crawl mid-flight (marker at round 2 of
    4): resume in fused mode must rebuild the deferred fetch from the
    committed recompute point (sched parquet + fused_pending marker),
    re-resolve its metrics, and finish with schedule/url_seen/metrics
    identical to the uninterrupted run."""
    from logcrawler_spark.catalog import Catalog

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    full = run_crawl(
        spark, pages, seeds, robots, rounds=4, budget=BUDGET,
        fuse_fetch=True, probe_confirm="auto", bloom_buckets=None,
    )
    cat = Catalog(spark, str(tmp_path))
    # killed run: only 2 rounds reach the catalog; the round-2 fetch is
    # still deferred at the kill, so the catalog holds its recompute
    # point, not its rows
    run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=BUDGET,
        fuse_fetch=True, probe_confirm="auto", bloom_buckets=None,
        catalog=cat,
    )
    # simulate the kill right after _commit_round(2): run_crawl returned
    # normally so finalize already flushed — restore the pre-flush commit
    # shape (fused marker back, pending rows gone, metrics back to the
    # rows that had resolved AT round 2, i.e. round 1's)
    import pyspark.sql.functions as SF

    n_raw = (
        cat.read("metrics")
        .filter(SF.col("round") == 2)
        .select("urls_raw_total").distinct().collect()[0][0]
    )
    n_cand = (
        cat.read("metrics")
        .filter(SF.col("round") == 2)
        .select("urls_candidates_total").distinct().collect()[0][0]
    )
    probe_mode = (
        cat.read("metrics").filter(SF.col("round") == 2)
        .select("probe_mode").distinct().collect()[0][0]
    )
    nb = (
        cat.read("metrics").filter(SF.col("round") == 2)
        .select("filter_buckets").distinct().collect()[0][0]
    )
    cat.append(
        "fused_pending",
        spark.createDataFrame(
            [(2, int(n_raw), int(n_cand), probe_mode, int(nb))],
            "round int, n_raw bigint, n_cand bigint, probe_mode string,"
            " filter_buckets int",
        ),
        tag=2,
    )
    cat.truncate_tags("pending_candidates", 2)
    # drop the flushed round-2 metrics rows (they resolve again on resume)
    cat.append(
        "metrics", cat.read("metrics").filter(SF.col("round") == 1), tag=2
    )

    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=4, budget=BUDGET,
        probe_confirm="auto", bloom_buckets=None, fuse_fetch=True,
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert key(resumed) == key(full)
    seen = lambda st: {r["canonical_url"] for r in st.url_seen.collect()}
    assert seen(resumed) == seen(full)
    mcols = [
        "round", "urls_raw_total", "urls_candidates_total",
        "pages_fetched_total", "bytes_extracted_total",
    ]
    mrows = lambda df: sorted(
        set(tuple(r[c] for c in mcols) for r in df.collect())
    )
    assert mrows(cat.read("metrics")) == mrows(full.metrics)


def test_pagerank_priority_matches_simulator(spark):
    """priority_source='pagerank' (VERDICT r04 item 6): every round past
    the first re-seeds candidate priorities from the exact-int64 PageRank
    of the cumulative outlink graph. Engine and simulator share only the
    spec (both PageRank implementations are the independently-written
    pair already under test), so schedule equality here gates the whole
    composition — priorities, ordering, slots."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    state = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        priority_source="pagerank",
    )
    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 3, BUDGET,
        priority_source="pagerank",
    )
    got = sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in state.schedule.collect()
    )
    assert got == sorted(tuple(t) for t in sim.schedule)
    assert {r["canonical_url"] for r in state.url_seen.collect()} == (
        sim.url_seen
    )
    # sanity: pagerank actually changed the ordering vs inherit mode
    # (round >= 2 priorities are int64 ranks, not decayed seed floats)
    r2 = [t for t in got if t[0] == 2]
    assert r2 and all(p >= 1 or p == 0.0 for _r, _h, p, *_ in r2)


def test_pagerank_priority_durable_resume_matches_straight(spark, tmp_path):
    """Pagerank-priority crawls commit their per-round edge deltas
    (link_edges) so resume reads the exact cumulative graph; the resumed
    schedule must equal the uninterrupted run's."""
    from logcrawler_spark.catalog import Catalog

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    full = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        priority_source="pagerank",
    )
    cat = Catalog(spark, str(tmp_path))
    run_crawl(
        spark, pages, seeds, robots, rounds=1, budget=BUDGET,
        priority_source="pagerank", catalog=cat,
    )
    assert cat.exists("link_edges")
    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=3, budget=BUDGET,
        priority_source="pagerank",
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert key(resumed) == key(full)


def test_pagerank_resume_without_link_edges_failures_parity(spark, tmp_path):
    """ADVICE r05 (both mediums): a pagerank resume of a catalog that has
    NO link_edges table (committed by an inherit-mode run) rebuilds the
    cumulative graph from (pages ⋈ url_seen) — with failure_rate_pct > 0
    the rebuild must apply the SAME deterministic attempt filter the live
    run's _fetch_extract_plan applied, or permanently-failed pages'
    outlinks pollute the graph and the post-resume crawl order diverges.
    The rebuilt graph must also be BACKFILLED into link_edges at the
    marker tag so a SECOND resume reads a complete graph."""
    import shutil

    from logcrawler_spark.catalog import Catalog

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    fail = dict(failure_rate_pct=30, max_fetch_attempts=2)

    # 2 pagerank rounds committed with live (correctly failure-filtered)
    # link_edges — then clone the catalog and DELETE link_edges from the
    # clone, simulating a legacy catalog that never committed edges
    cat_full = Catalog(spark, str(tmp_path / "full"))
    run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=BUDGET,
        priority_source="pagerank", catalog=cat_full, **fail,
    )
    shutil.copytree(tmp_path / "full", tmp_path / "legacy")
    shutil.rmtree(tmp_path / "legacy" / "link_edges")

    # ground truth: resume over the COMMITTED live graph (the r5-tested
    # trusted path — no rebuild involved)
    full = resume_crawl(
        spark, pages, robots, cat_full, total_rounds=4, budget=BUDGET,
        priority_source="pagerank", **fail,
    )

    # legacy catalog resumes in TWO hops: 2 -> 3 rebuilds the graph from
    # (pages ⋈ url_seen) — it must filter failed fetches exactly like the
    # live run and backfill link_edges at the marker tag — then 3 -> 4 is
    # a SECOND resume that must read a complete (backfilled) graph
    cat = Catalog(spark, str(tmp_path / "legacy"))
    assert not cat.exists("link_edges")
    resume_crawl(
        spark, pages, robots, cat, total_rounds=3, budget=BUDGET,
        priority_source="pagerank", **fail,
    )
    assert cat.exists("link_edges")  # backfilled at the marker tag
    hop = resume_crawl(
        spark, pages, robots, cat, total_rounds=4, budget=BUDGET,
        priority_source="pagerank", **fail,
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert key(hop) == key(full)


def test_pagerank_priority_linkless_corpus_no_crash(spark):
    """Edge case: a corpus whose pages carry no <a> links yields an empty
    outlink graph — pagerank mode must keep the (empty) candidate flow
    and inherited priorities instead of dividing by a zero node count."""
    from datetime import datetime

    pages = spark.createDataFrame(
        [("http://a.example.com/p1", datetime(2024, 1, 1),
          b"<p>no links here</p>")],
        "url string, warc_ts timestamp, html binary",
    )
    seeds = spark.createDataFrame(
        [("http://a.example.com/p1", 5.0)], "url string, priority double"
    )
    robots = spark.createDataFrame(
        [], "host string, path_prefix string, allow boolean,"
        " crawl_delay_ms long",
    )
    state = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=5,
        priority_source="pagerank",
    )
    rows = [
        (r["round"], r["canonical_url"], r["priority"])
        for r in state.schedule.collect()
    ]
    assert rows == [(1, "http://a.example.com/p1", 5.0)]
