"""Driver contract names, checked without a Spark session: every name the
check-first list, ``bench.HEADLINE`` and ``tools/dump_plans.HEADLINE``
cite must be a registered battery entry, so a deleted entry cannot
silently drop out of any of them."""

from __future__ import annotations

import importlib.util
import os

import __spark_entry__ as entry
import bench
from web_scraper_spark.queries.battery import REGISTRY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_check_first_names_registered_and_unique():
    names = entry._CHECK_FIRST
    assert [n for n in names if n not in REGISTRY] == []
    assert len(names) == len(set(names))


def test_headline_names_registered():
    assert [n for n in bench.HEADLINE if n not in REGISTRY] == []
    plans = _load_tool("dump_plans")
    assert [n for n, _why in plans.HEADLINE if n not in REGISTRY] == []


def test_queries_cover_registry_exactly():
    qs = entry.queries()
    assert set(qs) == set(REGISTRY)
    assert list(qs)[: len(entry._CHECK_FIRST)] == entry._CHECK_FIRST
    assert set(entry.oracle_sql()) <= set(qs)
