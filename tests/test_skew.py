"""Hot-host skew: politeness bounds the skewed key BEFORE any wide stage.

The scale claim (BENCH/BASELINE.md, north rule 'salt-and-repartition by
host-hash to kill hot-host skew'): a host with millions of frontier rows
must not translate into a hot reducer downstream. Two mechanisms;
mechanism 1 is pinned here:

1. the per-host window compiles to WindowGroupLimit with a PARTIAL
   map-side pass — each map task forwards at most ``host_budget`` rows
   per host into the shuffle, so the hot host's reducer receives
   O(n_map_tasks x budget) rows, never its full frontier volume;
2. extraction runs on the pages-scan file splits (the fetch ships only
   the selected keys to the scan as a broadcast left-semi), so its
   layout does not depend on host at all; tests/test_seen_invariant.py
   pins that plan shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from web_scraper_spark.operators.politeness import select_polite
from web_scraper_spark.sources.fixtures import PolitenessSpec


def _skewed_frontier(spark, hot_rows: int, cold_hosts: int, cold_rows: int):
    hot = spark.range(hot_rows).select(
        F.lit("hot.example.com").alias("host"),
        F.concat(F.lit("https://hot.example.com/p/"), F.col("id")).alias("url"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("discovery_round"),
        F.lit(1).alias("seed_rank"),
        (F.col("id") % 37).cast("int").alias("yacht_rank"),
        (F.col("id") % 28).cast("int").alias("period_idx"),
    )
    cold = spark.range(cold_hosts * cold_rows).select(
        F.concat(
            F.lit("cold"), (F.col("id") % cold_hosts), F.lit(".example.com")
        ).alias("host"),
        F.concat(F.lit("https://c/"), F.col("id")).alias("url"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("discovery_round"),
        F.lit(2).alias("seed_rank"),
        (F.col("id") % 37).cast("int").alias("yacht_rank"),
        (F.col("id") % 28).cast("int").alias("period_idx"),
    )
    return hot.unionByName(cold)


def test_candidate_upper_bound_skip_is_exact(spark):
    """The budget-cannot-bind shortcut must return the identical row set
    as the full global-limit path (and engage only when sound)."""
    frontier = _skewed_frontier(spark, hot_rows=5_000, cold_hosts=20, cold_rows=50)
    robots = spark.createDataFrame(
        [("hot.example.com", 15)], "host string, crawl_delay_s int"
    )
    # global budget 200k >> 6k candidates -> shortcut may engage
    spec = PolitenessSpec(
        round_seconds=600, global_batch_urls=200_000, global_pause_s=600
    )
    n = frontier.count()
    with_bound = select_polite(frontier, robots, spec, candidate_upper_bound=n)
    without = select_polite(frontier, robots, spec)
    got_a = {r.url for r in with_bound.collect()}
    got_b = {r.url for r in without.collect()}
    assert got_a == got_b and len(got_a) > 0

    # binding budget: the bound must NOT skip the limit
    tight = PolitenessSpec(round_seconds=600, global_batch_urls=7, global_pause_s=600)
    sel = select_polite(frontier, robots, tight, candidate_upper_bound=n)
    assert sel.count() == tight.global_budget


def test_hot_host_bounded_by_partial_window(spark):
    """A 200k-row host yields exactly host_budget rows, the plan carries
    the map-side (Partial) WindowGroupLimit, and cold hosts are
    unaffected by the hot one."""
    frontier = _skewed_frontier(spark, hot_rows=200_000, cold_hosts=50, cold_rows=100)
    robots = spark.createDataFrame(
        [("hot.example.com", 30)], "host string, crawl_delay_s int"
    )
    spec = PolitenessSpec(
        round_seconds=3000, global_batch_urls=1_000_000, global_pause_s=3000
    )
    sel = select_polite(frontier, robots, spec)

    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan  # map-side prefilter before the host shuffle

    per_host = {
        r.host: r.n
        for r in sel.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    # hot host: 3000s / 30s delay = 100 rows, no matter its 200k volume
    assert per_host["hot.example.com"] == 100
    # cold hosts: 3000s / default 30s = 100, capped by their 100 rows
    assert per_host["cold0.example.com"] == 100
    assert len(per_host) == 51


def test_domain_grain_budget_shared_across_subdomains(spark):
    """grain='domain': wildcard-subdomain fan-out (or a trap minting
    hostnames) shares ONE registrable-domain budget; grain='host'
    (reference parity) keeps per-hostname budgets."""
    from web_scraper_spark.operators.politeness import select_polite
    from web_scraper_spark.sources.fixtures import PolitenessSpec

    cand = spark.createDataFrame(
        [
            (f"sub{s}.trap.com", f"https://sub{s}.trap.com/{i}", s * 100 + i)
            for s in range(10)
            for i in range(10)
        ]
        + [("honest.org", f"https://honest.org/{i}", i) for i in range(10)],
        "host string, url string, seed_rank int",
    ).selectExpr(
        "host", "url", "seed_rank", "0 as depth", "0 as discovery_round",
        "0 as yacht_rank", "0 as period_idx",
    )
    robots = spark.createDataFrame(
        [("none", [], 120)], "host string, disallow array<string>, crawl_delay_s int"
    )
    spec = PolitenessSpec(
        round_seconds=600,
        global_batch_urls=10_000,
        global_pause_s=3600,
        default_crawl_delay_s=120,
    )  # budget = 600/120 = 5 per politeness identity

    by_host = select_polite(cand, robots, spec)  # default grain
    got_host = {
        r.host: r["count"]
        for r in by_host.groupBy("host").count().collect()
    }
    assert got_host["honest.org"] == 5
    assert all(got_host[f"sub{s}.trap.com"] == 5 for s in range(10))  # 50 total

    by_domain = select_polite(cand, robots, spec, grain="domain")
    trap_total = by_domain.filter("host like '%trap.com'").count()
    honest_total = by_domain.filter("host = 'honest.org'").count()
    assert trap_total == 5  # ONE budget for the whole registrable domain
    assert honest_total == 5
    # priority order is preserved within the domain: the 5 winners are
    # the globally-best-ranked trap rows
    winners = {
        r.seed_rank
        for r in by_domain.filter("host like '%trap.com'").collect()
    }
    assert winners == {0, 1, 2, 3, 4}


def test_domain_grain_one_budget_monotonic_in_priority(spark):
    """ADVICE r3: a domain whose member hosts carry DIFFERENT
    crawl-delays gets ONE grain budget (from the max member delay), so
    the domain-wide rank filters against a single number — selection is
    monotonic in priority (the winners are exactly the top-k rows of
    the domain), never 'rank-3 from a slow host drops while rank-5 from
    a fast sibling passes'."""
    from web_scraper_spark.operators.politeness import select_polite
    from web_scraper_spark.sources.fixtures import PolitenessSpec

    # a.d.com: delay 300 (host budget 2); b.d.com: delay 60 (budget 10)
    # domain budget = 600 / max(300, 60) = 2
    cand = spark.createDataFrame(
        [
            ("a.d.com", "https://a.d.com/0", 0),
            ("b.d.com", "https://b.d.com/1", 1),
            ("a.d.com", "https://a.d.com/2", 2),
            ("b.d.com", "https://b.d.com/3", 3),
            ("b.d.com", "https://b.d.com/4", 4),
        ],
        "host string, url string, seed_rank int",
    ).selectExpr(
        "host", "url", "seed_rank", "0 as depth", "0 as discovery_round",
        "0 as yacht_rank", "0 as period_idx",
    )
    robots = spark.createDataFrame(
        [("a.d.com", [], 300), ("b.d.com", [], 60)],
        "host string, disallow array<string>, crawl_delay_s int",
    )
    spec = PolitenessSpec(
        round_seconds=600,
        global_batch_urls=10_000,
        global_pause_s=3600,
        default_crawl_delay_s=120,
    )
    got = sorted(
        r.seed_rank
        for r in select_polite(cand, robots, spec, grain="domain").collect()
    )
    # exactly the two highest-priority rows of the domain, no skips
    assert got == [0, 1]


def test_round_level_hot_host_layout_balanced(spark):
    """VERDICT r4 #8 — the adversarial round-shape check: in a frontier
    where ONE host owns 99% of rows, the hot host contributes exactly its
    politeness budget to the selected batch, independent of its share.
    """
    # 99% hot: 99k hot rows vs 25 cold hosts x 40 rows = 1k cold
    frontier = _skewed_frontier(spark, hot_rows=99_000, cold_hosts=25, cold_rows=40)
    robots = spark.createDataFrame(
        [("hot.example.com", 2)], "host string, crawl_delay_s int"
    )
    # budgets: hot 3000/2 = 1500, cold 3000/30 = 100 (capped at 40 rows)
    spec = PolitenessSpec(
        round_seconds=3000, global_batch_urls=1_000_000, global_pause_s=3000
    )
    sel = select_polite(frontier, robots, spec)
    per_host = {
        r.host: r.n
        for r in sel.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert per_host["hot.example.com"] == 1500  # capped, not 99k
    assert per_host["cold0.example.com"] == 40
