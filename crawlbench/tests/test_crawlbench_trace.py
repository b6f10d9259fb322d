"""Span arithmetic and event-log grouping of the traced run."""

from __future__ import annotations

import math

from crawlbench.trace import (
    REPLAY_PROP,
    ROUND_PROP,
    SPAN_NAMES,
    SPARK_TAGS,
    breakdown,
    span_metric,
    span_name,
    spark_by_tag,
)


def test_spans_plus_gap_equal_wall():
    spans = [
        ("extractions", 10.0, 14.5),
        ("fetch_log", 15.0, 16.0),
        ("frontier_delta", 16.5, 17.25),
        ("seen_bloom", 17.25, 17.5),
        ("metrics", 18.0, 18.5),
        ("commit_round", 18.5, 18.55),
    ]
    out = breakdown(9.0, spans)
    assert set(out) == set(SPAN_NAMES) | {"driver_gap"}
    assert out["frontier_snapshot"] == 0.0
    assert math.isclose(out["extractions"], 4.5)
    assert math.isclose(out["driver_gap"], 9.0 - 7.05)
    assert math.isclose(sum(out.values()), 9.0)


def test_repeated_span_names_accumulate():
    out = breakdown(3.0, [("metrics", 0.0, 1.0), ("metrics", 1.0, 1.5)])
    assert math.isclose(out["metrics"], 1.5)
    assert math.isclose(out["driver_gap"], 1.5)


def test_span_names():
    assert span_name("write_snapshot", "frontier") == "frontier_snapshot"
    assert span_name("write_snapshot", "seen_bloom") == "seen_bloom"
    assert span_name("write_round_partition", "frontier_delta") == "frontier_delta"
    assert span_name("commit_round", None) == "commit_round"
    assert span_metric("extractions") == "catalog.extractions_write_s"
    assert span_metric("commit_round") == "catalog.commit_round_s"
    assert "commit_round" not in SPARK_TAGS and "untagged" in SPARK_TAGS


def _stage(job, round_id=None, desc=None, wall=1.0, **metrics):
    props = {}
    if round_id is not None:
        props[ROUND_PROP] = str(round_id)
    if desc is not None:
        props["spark.job.description"] = desc
    rec = {"job_id": job, "wall_s": wall, "tasks": 4, "props": props,
           "input_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    rec.update(metrics)
    return rec


def test_spark_by_tag_groups_by_round_and_description():
    stages = [
        _stage(1, 2, "extractions", 2.0, input_bytes=100),
        _stage(1, 2, "extractions", 1.0, input_bytes=50),
        _stage(2, 2, None, 0.5),
        _stage(3, 2, "fetch_log", 0.25, shuffle_write_bytes=7),
        _stage(4, 3, "frontier_snapshot", 3.0),
        _stage(5, None, "replay.robots", 9.0),  # replay: not a round job
        _stage(6, 3, "something_else", 1.5),
    ]
    stages[5]["props"][REPLAY_PROP] = "2"
    out = spark_by_tag(stages)
    assert set(out) == {2, 3}
    assert out[2]["jobs"] == 3
    assert out[2]["extractions"]["stage_s"] == 3.0
    assert out[2]["extractions"]["input_bytes"] == 150
    assert out[2]["extractions"]["tasks"] == 8
    assert out[2]["untagged"]["stage_s"] == 0.5
    assert out[2]["fetch_log"]["shuffle_write_bytes"] == 7
    assert out[3]["frontier_snapshot"]["stage_s"] == 3.0
    assert out[3]["untagged"]["stage_s"] == 1.5  # unknown tags fold into untagged
    assert out[3]["jobs"] == 2
