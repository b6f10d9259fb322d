"""Seeded world generators: same seed, same world; the shapes the
workloads rely on actually hold."""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from crawlbench.worlds import (
    PAGE_FILES,
    SHAPES,
    WorldShape,
    build_world,
    write_world,
    xxhash64,
)
from web_scraper_spark.oracle.pyurl import canonicalize_url_py

SMALL = {
    "bench_world": WorldShape(
        "bench_world", hosts=3, yachts_per_host=2, items_per_host=0,
        full_weight=True, global_budget=40,
        missing_frac=0.04, error_frac=0.03,
    ),
    "link_growth": WorldShape(
        "link_growth", hosts=3, yachts_per_host=1, items_per_host=50,
        full_weight=False, global_budget=30,
        missing_frac=0.02, error_frac=0.02,
    ),
}


def _digest(world) -> str:
    h = hashlib.sha1()
    for p in world.pages:
        h.update(p["url"].encode())
        h.update(p["html"])
    for t in world.tasks:
        h.update(repr(sorted(t.items())).encode())
    for s in world.seeds:
        h.update(repr(sorted(s["yacht_ids"].items())).encode())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(SMALL))
def test_same_seed_same_world(name):
    assert _digest(build_world(SMALL[name], 5)) == _digest(build_world(SMALL[name], 5))


@pytest.mark.parametrize("name", sorted(SMALL))
def test_other_seed_other_world(name):
    assert _digest(build_world(SMALL[name], 5)) != _digest(build_world(SMALL[name], 6))


def test_bench_world_pages_are_full_weight():
    world = build_world(SMALL["bench_world"], 1)
    sizes = [len(p["html"]) for p in world.pages if not p["html"].startswith(b"<!--")]
    assert min(sizes) > 15_000
    assert len(world.tasks) == 3 * 2 * 28


def test_link_growth_outlinks_point_past_the_frontier():
    shape = SMALL["link_growth"]
    world = build_world(shape, 1)
    frontier = {canonicalize_url_py(t["url"]) for t in world.tasks}
    pages = {canonicalize_url_py(p["url"]) for p in world.pages}
    seed_page = next(p for p in world.pages if "/yacht/" in p["url"])
    html = seed_page["html"].decode()
    links = [canonicalize_url_py(x.split('"')[0]) for x in html.split('<a href="')[1:]]
    assert len(links) == 16
    assert sum("/private/" in u for u in links) == 1
    items = [u for u in links if "/item/" in u]
    assert len(items) >= 13
    # item targets exist as pages but start outside the frontier
    assert not set(items) & frontier
    assert len(set(items) & pages) >= len(set(items)) * 0.8


def test_pages_are_written_resolved_as_fixed_file_count(tmp_path):
    world = build_world(SMALL["link_growth"], 2)
    pages = write_world(world, str(tmp_path))["pages_resolved"]
    files = sorted(os.listdir(pages))
    assert len(files) == PAGE_FILES
    tables = [pq.read_table(os.path.join(pages, f)) for f in files]
    assert sum(t.num_rows for t in tables) == len(world.pages)
    t = tables[0].to_pylist()[0]
    assert t["url_canon"] == canonicalize_url_py(t["url"])
    assert t["url_hash"] == xxhash64(t["url_canon"])
    statuses = {r["page_status"] for t in tables for r in t.select(["page_status"]).to_pylist()}
    assert statuses == {"ok", "error"}


# values of Spark 4.1's F.xxhash64 on these strings
SPARK_XXHASH64 = {
    "": -7444071767201028348,
    "a": -8582455328737087284,
    "abcd": -6810745876291105281,
    "abcdefgh": 2470326616177429180,
    "https://charter00001.example.com/item/00012": -2915279327470947395,
    "x" * 31: -1716462135722163746,
    "y" * 32: 5202031258905353636,
    "z" * 77: -8020890518677196636,
    "\u00e9\u6f22\u5b57": 490143531525325083,
}


@pytest.mark.parametrize("s", sorted(SPARK_XXHASH64))
def test_xxhash64_matches_spark(s):
    assert xxhash64(s) == SPARK_XXHASH64[s]


def test_shape_keys_are_distinct():
    keys = {s.key() for s in SHAPES.values()}
    assert len(keys) == len(SHAPES)
