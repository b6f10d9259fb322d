"""Physical-plan audits: the optimizations we rely on must actually be
in the plan (pushdown, column pruning, broadcast, no cartesian joins),
not just intended. Guards against regressions that silently turn a
broadcast join into a shuffle or widen a scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.queries import battery, battery_text  # noqa: F401
from web_scraper_spark.queries.battery import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    df = REGISTRY["pricing_summary"][0](spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: the scan must not read unused wide columns
    assert "l_comment" not in plan
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in scan_schema  # unused by Q1-class agg


def test_top_revenue_orders_broadcasts_dim(spark):
    df = REGISTRY["top_revenue_orders"][0](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_nation_volume_no_cartesian_and_broadcast_dims(spark):
    df = REGISTRY["nation_volume"][0](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_seen_antijoin_is_hash_anti_join(spark):
    df = REGISTRY["seen_antijoin"][0](spark, SF)
    plan = plan_of(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_politeness_budget_window_group_limit(spark):
    """The rn<=K filter must compile to WindowGroupLimit (partial map-side
    top-K per host BEFORE the shuffle, then final) — the per-host budget
    never shuffles more than K rows per host per map task."""
    df = REGISTRY["politeness_budget"][0](spark, SF)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan
    assert plan.count("Exchange") == 1  # one shuffle by host, nothing else


def test_extract_stage_prunes_html_downstream(spark):
    """The extraction operator's output plan must not carry the html
    binary column past the Python stage."""
    from web_scraper_spark.operators.extract import extract_pages

    pages = spark.createDataFrame(
        [("https://h/a", b"<html></html>", "en")], "url string, html binary, lang string"
    )
    out = extract_pages(pages).select("url", "text")
    plan = plan_of(out)
    # html appears only below/at the Python evaluation, never above it
    above_python = plan.split("MapInPandas")[0]
    assert "html" not in above_python


def test_compare_query_is_single_sort_merge_or_hash_full_outer(spark):
    from web_scraper_spark.operators.compare import compare_prices
    from web_scraper_spark.sources.fixtures import FIELDS

    schema = (
        "round_id int, url string, url_hash long, competitor string, yacht_id string,"
        " period_from string, period_to string,"
        " details struct<" + ",".join(f"{f}:string" for f in FIELDS) + ">, text string"
    )
    df = spark.createDataFrame([], schema)
    out = compare_prices(df, "a", "1", "b", "2")
    plan = plan_of(out)
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_node_in_seen_plan(spark):
    """Plan-shape guard (VERDICT r3 #8): the 10^10-scale seen path =
    bloom probe (definitely-new bypass) + exact LeftAnti confirm. If the
    bloom probe expression or the anti-join ever fall out of the plan,
    this fails before PLANS.md silently drifts."""
    from web_scraper_spark.operators.seen import build_seen_bloom, filter_unseen

    cand = spark.range(1000).select(
        F.col("id").alias("url_hash"),
        F.concat(F.lit("https://h/"), F.col("id")).alias("url"),
    )
    seen = spark.range(0, 1000, 3).select(F.col("id").alias("url_hash"))
    bloom = build_seen_bloom(seen, n_buckets=8, expected_items_per_bucket=1000)
    out = filter_unseen(cand, seen, bloom_table=bloom, n_buckets=8)
    plan = plan_of(out)
    assert "LeftAnti" in plan              # exact confirm survives
    assert "might_be_seen" in plan         # bloom probe is in the plan
    assert "CartesianProduct" not in plan
    # and the split is semantically exact (bloom has no false negatives)
    exact = cand.join(seen, "url_hash", "left_anti")
    assert out.count() == exact.count()


def test_dump_plans_politeness_and_seen_are_fresh(spark):
    """Regenerate the two load-bearing plans the same way
    tools/dump_plans.py does and assert their optimization nodes are
    present — a regression in the literal rank cap (WindowGroupLimit)
    or the anti-join shape must fail CI, not just stale PLANS.md."""
    pol = plan_of(REGISTRY["politeness_budget"][0](spark, SF))
    assert "WindowGroupLimit" in pol and "Partial" in pol
    seen = plan_of(REGISTRY["seen_antijoin"][0](spark, SF))
    assert "LeftAnti" in seen
