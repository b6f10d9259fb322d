"""Sessions from ``get_spark`` fork their Python workers from the
package's preloaded daemon (``web_scraper_spark.worker_daemon``).

Each Arrow task's worker is a child of that daemon, an extraction task
leaves almost no zip importers for the next task's
``invalidate_caches()`` to re-read, and the daemon is importable from
any cwd: ``get_spark`` puts the package root on the workers' path
itself.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "web_scraper_spark.worker_daemon"
PAGE = b'<html><body><a href="http://b.example/x">x</a> hello  world</body></html>'


def worker_facts(spark, tasks: int = 4) -> list[tuple[str, list[str]]]:
    """(parent process command line, paths of the cached zip importers)
    per task."""

    def facts(batches):
        import zipimport

        for _ in batches:
            with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
                parent = f.read().replace(b"\0", b" ").decode().strip()
            zips = [
                path
                for path, finder in sys.path_importer_cache.items()
                if isinstance(finder, zipimport.zipimporter)
            ]
            yield pd.DataFrame({"parent": [parent], "zips": [zips]})

    df = spark.range(tasks, numPartitions=tasks)
    rows = df.mapInPandas(facts, "parent string, zips array<string>").collect()
    return [(r.parent, list(r.zips)) for r in rows]


def test_arrow_workers_are_forked_by_the_package_daemon(spark):
    parents = {parent for parent, _ in worker_facts(spark)}
    assert parents and all(p.endswith(f"-m {DAEMON} pyspark.worker") for p in parents), parents


def extract_in_new_session() -> dict:
    """``extract_pages`` on one page in a new local session, then what
    the workers report at the start of their next task."""
    from web_scraper_spark.operators.extract import extract_pages
    from web_scraper_spark.session import get_spark

    spark = get_spark(
        master="local[2]", shuffle_partitions=2, app_name="wss-daemon",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        pages = spark.createDataFrame([("http://a.example/", PAGE)], "url string, html binary")
        row = extract_pages(pages).first()
        facts = worker_facts(spark, tasks=2)
        return {
            "text": row.text,
            "outlinks": list(row.outlinks),
            "parents": sorted({parent for parent, _ in facts}),
            "zips": [paths for _, paths in facts],
        }
    finally:
        spark.stop()


@pytest.fixture(scope="module")
def outside_checkout(tmp_path_factory):
    """``extract_in_new_session`` run in a process whose cwd is outside
    the checkout, with ``PYTHONPATH`` unset: only ``sys.path.insert``
    makes the package importable there."""
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    script = (
        "import json, sys; sys.path.insert(0, sys.argv[1]); "
        "from tests.test_worker_daemon import extract_in_new_session; "
        "print(json.dumps(extract_in_new_session()))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, ROOT],
        cwd=tmp_path_factory.mktemp("cwd"), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.splitlines()[-1])


def test_daemon_imports_without_pythonpath_outside_the_checkout(outside_checkout):
    out = outside_checkout
    assert out["text"] == "x hello world"
    assert out["outlinks"] == ["http://b.example/x"]
    assert out["parents"] and all(p.endswith(f"-m {DAEMON} pyspark.worker") for p in out["parents"]), out


def test_extraction_task_leaves_at_most_two_zip_importers(outside_checkout):
    """What the next task's ``invalidate_caches()`` re-reads; pyspark's
    stock daemon left 14-16. Workers reused for other UDFs can gather
    more, one per archive (or directory in one) they import from."""
    zips = outside_checkout["zips"]
    assert zips and max(len(paths) for paths in zips) <= 2, zips
