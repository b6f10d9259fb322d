"""Adaptive re-crawl scheduling: the change-rate MLE and interval
clamps against hand-computed values, plus the engine integration
(fetched rows whose schedule is due re-enter a round as revisit
candidates that bypass the seen filter)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from web_scraper_spark.operators.revisit import change_rates, revisit_schedule


def _hist(spark, rows):
    return spark.createDataFrame(
        rows, "url_hash long, round_id long, fingerprint string"
    )


def test_schedule_hand_computed(spark):
    rows = []
    # A: 4 visits every 2 rounds, one change -> lambda = ln(1.4)/2
    for r, fp in [(0, "a"), (2, "a"), (4, "b"), (6, "b")]:
        rows.append((1, r, fp))
    # B: single visit -> no evidence, default interval
    rows.append((2, 5, "z"))
    # C: 10 visits, never changed -> rate 0, max interval
    rows += [(3, r, "c") for r in range(10)]
    # D: changes every visit -> clamped to min interval
    rows += [(4, r, f"d{r}") for r in range(5)]
    out = {
        r["url_hash"]: r
        for r in revisit_schedule(
            _hist(spark, rows),
            target=0.5,
            min_interval=1,
            max_interval=64,
            default_interval=8,
        ).collect()
    }

    a = out[1]
    lam = math.log(1.4) / 2.0
    assert a["n_intervals"] == 3 and a["n_changes"] == 1
    assert math.isclose(a["change_rate"], round(lam, 6), abs_tol=1e-6)
    assert a["interval"] == math.floor(0.5 / lam) == 2
    assert a["next_due"] == 8

    b = out[2]
    assert b["change_rate"] is None
    assert b["interval"] == 8 and b["next_due"] == 13

    c = out[3]
    assert c["change_rate"] == 0.0
    assert c["interval"] == 64 and c["next_due"] == 9 + 64

    d = out[4]
    assert d["n_changes"] == 4
    assert d["interval"] == 1 and d["next_due"] == 5


def test_change_rates_null_below_two_visits(spark):
    out = change_rates(_hist(spark, [(7, 3, "x")])).collect()[0]
    assert out["n_visits"] == 1
    assert out["n_intervals"] == 0
    assert out["mean_interval"] is None
    assert out["change_rate"] is None


def test_rate_monotone_in_change_fraction(spark):
    """More observed changes over the same visit pattern => higher
    estimated rate => shorter interval (never violated by clamps in
    this regime)."""
    rows = []
    for url, n_changes in [(1, 1), (2, 3), (3, 6)]:
        fp_version = 0
        for r in range(8):
            if r > 0 and r <= n_changes:
                fp_version += 1
            rows.append((url, r * 3, f"v{fp_version}"))
    out = {
        r["url_hash"]: r
        for r in revisit_schedule(_hist(spark, rows)).collect()
    }
    assert (
        out[1]["change_rate"] < out[2]["change_rate"] < out[3]["change_rate"]
    )
    assert out[1]["interval"] >= out[2]["interval"] >= out[3]["interval"]


def test_incremental_stats_match_batch_window(spark):
    """Round-by-round stats merges must aggregate to exactly what the
    batch window computes over the full history."""
    import random

    from web_scraper_spark.operators.revisit import (
        change_rates,
        schedule_from_stats,
        update_revisit_stats,
    )

    rng = random.Random(7)
    by_round: dict[int, list] = {}
    all_rows = []
    for url in range(40):
        visit_rounds = sorted(
            rng.sample(range(1, 13), rng.randint(1, 8))
        )
        fp = 0
        for r in visit_rounds:
            if rng.random() < 0.4:
                fp += 1
            row = (url, 0 - url, r, f"f{fp}")  # url_hash, url(str-ish key)
            by_round.setdefault(r, []).append(row)
            all_rows.append(row)

    schema = "url_hash long, url long, round_id long, fingerprint string"
    stats = None
    for r in sorted(by_round):
        visits = spark.createDataFrame(by_round[r], schema)
        stats = update_revisit_stats(
            stats, visits, key_cols=["url_hash", "url"]
        )
        # checkpoint through rows to mimic the engine's snapshot write
        stats = spark.createDataFrame(
            stats.collect(), stats.schema
        )

    hist = spark.createDataFrame(all_rows, schema)
    batch = change_rates(hist, key_cols=["url_hash", "url"])

    s = {(r["url_hash"], r["url"]): r for r in stats.collect()}
    b = {(r["url_hash"], r["url"]): r for r in batch.collect()}
    assert s.keys() == b.keys()
    for k in b:
        for col in ("n_visits", "n_intervals", "n_changes", "first_round", "last_round"):
            assert s[k][col] == b[k][col], (k, col)

    sched_inc = {
        (r["url_hash"], r["url"]): (r["interval"], r["next_due"], r["change_rate"])
        for r in schedule_from_stats(
            stats, key_cols=["url_hash", "url"]
        ).collect()
    }
    from web_scraper_spark.operators.revisit import revisit_schedule

    sched_batch = {
        (r["url_hash"], r["url"]): (r["interval"], r["next_due"], r["change_rate"])
        for r in revisit_schedule(
            hist, key_cols=["url_hash", "url"]
        ).collect()
    }
    assert sched_inc == sched_batch


def test_engine_revisit_round_trip(spark, world):
    """Engine integration: with a RevisitPolicy, fetched URLs come due
    after default_interval rounds, re-fetch successfully, and do not
    inflate the seen total. In a static world the final frontier must
    match a no-revisit engine exactly."""
    import shutil
    import tempfile

    from web_scraper_spark.operators.revisit import RevisitPolicy
    from web_scraper_spark.plans.rounds import FRONTIER_COLS, CrawlEngine
    from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
    from web_scraper_spark.sources.pages_source import write_world_parquet
    from tests.conftest import ingest_pages

    import dataclasses

    tmp = tempfile.mkdtemp(prefix="wss_revisit_")
    try:
        paths = write_world_parquet(world, tmp + "/world")
        seeds = spark.read.parquet(paths["seeds"])
        robots = spark.read.parquet(paths["robots"])
        pages = ingest_pages(spark, paths, tmp)

        # budgets wide enough that revisits never displace new fetches
        # (with a binding budget revisits legitimately compete for it
        # and the two engines' seen sets drift — that is the intended
        # trade, but not what this test pins)
        spec = dataclasses.replace(
            world.config.politeness,
            round_seconds=10**6,
            global_batch_urls=10**5,
            global_pause_s=10**6,
        )
        engines = {}
        for mode, policy in [
            ("plain", None),
            ("revisit", RevisitPolicy(default_interval=2, max_interval=4)),
        ]:
            cat = ParquetSnapshotCatalog(spark, f"{tmp}/state_{mode}")
            eng = CrawlEngine(
                spark, cat, spec, n_buckets=8,
                revisit=policy,
            )
            eng.init_frontier(
                seeds, world.config.period_start, world.config.period_end
            )
            engines[mode] = (eng, eng.run(4, pages, robots, seeds))
        plain, plain_stats = engines["plain"]
        rev, rev_stats = engines["revisit"]

        # round 1 fetches; single-visit stats say next_due = 1 + 2 = 3
        assert "revisited" not in rev_stats[0]
        assert rev_stats[2]["revisited"] > 0
        # revisits re-fetch successfully: success >= revisited that round
        assert rev_stats[2]["success"] >= rev_stats[2]["revisited"]

        # seen accounting: revisits add nothing
        for s_plain, s_rev in zip(plain_stats, rev_stats):
            assert s_plain["seen_total"] == s_rev["seen_total"], s_rev
        # ... and the manifest total is exactly the frontier's fetched set
        n_fetched_rows = (
            rev.catalog.read("frontier", version=4)
            .filter(F.col("state") == "fetched")
            .count()
        )
        assert rev_stats[3]["seen_total"] == n_fetched_rows

        # static world: revisit changes WHAT was fetched this round, not
        # the frontier's converged state
        f_plain = sorted(
            tuple(r)
            for r in plain.catalog.read("frontier", version=4)
            .select(*FRONTIER_COLS)
            .collect()
        )
        f_rev = sorted(
            tuple(r)
            for r in rev.catalog.read("frontier", version=4)
            .select(*FRONTIER_COLS)
            .collect()
        )
        assert f_plain == f_rev

        # schedule semantics on the extraction log: a URL fetched at
        # round 1 is revisited at 1 + default_interval = 3; after two
        # unchanged visits its rate is 0 so the interval jumps to
        # max_interval (4) — it must NOT appear again at round 4
        # (round-4 revisits are the round-2 first-fetch wave coming due)
        visits = {
            (r["url"], r["round_id"])
            for r in rev.catalog.read_log("extractions")
            .select("url", "round_id")
            .collect()
        }
        r1_urls = {u for (u, r) in visits if r == 1}
        assert r1_urls and all((u, 3) in visits for u in r1_urls)
        assert not any((u, 4) in visits for u in r1_urls)
        assert rev_stats[3]["revisited"] == len(
            {u for (u, r) in visits if r == 2} - r1_urls
        )

        # resume: re-running committed rounds is a no-op
        again = rev.run(4, pages, robots, seeds)
        assert [s["seen_total"] for s in again] == [
            s["seen_total"] for s in rev_stats
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
