"""Driver contract names, checked without a Spark session: every name the
check-first list, ``bench.HEADLINE`` and ``tools/dump_plans.HEADLINE``
cite must be a registered battery entry, so a deleted entry cannot
silently drop out of any of them. Every package module must import, so
a deleted module cannot leave a dangling import behind."""

from __future__ import annotations

import importlib
import importlib.util
import os
import pkgutil

import __spark_entry__ as entry
import bench
import web_scraper_spark
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


def test_every_package_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(
            web_scraper_spark.__path__, "web_scraper_spark."
        )
    ]
    assert len(names) > 1
    for name in names:
        importlib.import_module(name)


def test_coverage_ledger_defaults_to_newest_round(tmp_path):
    for r in (1, 2, 5):
        (tmp_path / f"CORRECTNESS_r{r:02d}.json").write_text("{}")
    (tmp_path / "CORRECTNESS_r09.json.bak").write_text("{}")
    assert _load_tool("coverage_ledger").latest_round(str(tmp_path)) == 5
