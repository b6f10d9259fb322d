"""The invariant the round's URL-seen handling rests on.

A round applies the URL-seen test to discoveries only (the exact
``(url_hash, url)`` anti-join against the frontier keys), like the
reference oracle. Fetch candidates get no seen check: they are the
frontier's ``pending`` rows and the seen set is its ``fetched`` rows,
which cannot overlap as long as the frontier holds exactly one row per
key. These tests pin that invariant after every round in copy-on-write,
merge-on-read and revisit-on mode, and pin that the candidate-side
probe (a co-grouped bloom ``applyInPandas``) and its ``seen_bloom``
table stay gone. The same crawls pin the round's one html-fetch path:
a broadcast key left-semi into the pages scan, with extraction fused
to that scan so html crosses no exchange, and the exact set of tables
each mode writes. They also pin the append tables' layout: the catalog
rebalances each round partition into one file at this size, and the
exchange that rebalance adds above the extraction carries no html.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.operators.revisit import RevisitPolicy
from web_scraper_spark.plans.rounds import CrawlEngine
from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
from web_scraper_spark.sources.pages_source import write_world_parquet
from tests.conftest import ingest_pages

N_ROUNDS = 4
KEYS = ["url_hash", "url"]

MODES = {
    "cow": {},
    "mor": {"frontier_mode": "mor", "mor_compact_every": 2},
    "revisit": {"revisit": RevisitPolicy(default_interval=2, max_interval=4)},
}

_COW_TABLES = {"frontier", "extractions", "fetch_log"}
ROUND_TABLES = {
    "cow": _COW_TABLES,
    "mor": _COW_TABLES | {"frontier_delta"},
    "revisit": _COW_TABLES | {"revisit_stats"},
}


class _PlanRecordingCatalog(ParquetSnapshotCatalog):
    """Records the physical plan of every extractions write (as handed
    over and as rebalanced for the write), the names of every table the
    round writes, and the parquet file count of every round partition
    right after each append write."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.extraction_plans: list[str] = []
        self.rebalanced_plans: list[str] = []
        self.written: set[str] = set()
        self.partition_files: dict[tuple[str, str], int] = {}

    def write_snapshot(self, name, df, version, partition_by=None):
        self.written.add(name)
        return super().write_snapshot(name, df, version, partition_by)

    def write_round_partition(self, name, df):
        self.written.add(name)
        if name == "extractions":
            self.extraction_plans.append(
                df._jdf.queryExecution().executedPlan().toString()
            )
            self.rebalanced_plans.append(
                df.hint("rebalance")._jdf.queryExecution().executedPlan().toString()
            )
        super().write_round_partition(name, df)
        data = self.append_dir(name)
        for part in os.listdir(data):
            if part.startswith("round_id="):
                files = os.listdir(os.path.join(data, part))
                self.partition_files[(name, part)] = sum(
                    f.endswith(".parquet") for f in files
                )


def _key_violations(frontier) -> tuple[int, int]:
    """(keys with more than one row, pending keys also in the fetched set)."""
    dup = frontier.groupBy(*KEYS).count().filter(F.col("count") > 1).count()
    pending = frontier.filter(F.col("state") == "pending").select(*KEYS)
    fetched = frontier.filter(F.col("state") == "fetched").select(*KEYS)
    return dup, pending.join(fetched, KEYS, "inner").count()


def _first_child_chain(plan: str, top: str) -> list[str]:
    """Node lines of a plan tree string from the first node starting
    with ``top`` down its first (streamed) children to a leaf."""
    nodes = []
    for line in plan.splitlines():
        m = re.match(r"^((?:[ :]  )*)[+:]- (.*)$", line)
        nodes.append((len(m.group(1)) // 3 + 1, m.group(2)) if m else (0, line))
    i = next(i for i, (_, text) in enumerate(nodes) if text.startswith(top))
    chain = [nodes[i][1]]
    while i + 1 < len(nodes) and nodes[i + 1][0] == nodes[i][0] + 1:
        i += 1
        chain.append(nodes[i][1])
    return chain


@pytest.fixture(scope="module", params=sorted(MODES))
def crawl(request, spark, world):
    """(engine, catalog, per-round key violations) for one mode."""
    tmp = tempfile.mkdtemp(prefix="wss_seen_inv_")
    paths = write_world_parquet(world, tmp + "/world")
    seeds = spark.read.parquet(paths["seeds"])
    robots = spark.read.parquet(paths["robots"])
    pages = ingest_pages(spark, paths, tmp)
    catalog = _PlanRecordingCatalog(spark, tmp + "/state")
    engine = CrawlEngine(
        spark, catalog, world.config.politeness, n_buckets=8,
        **MODES[request.param],
    )
    engine.init_frontier(seeds, world.config.period_start, world.config.period_end)
    violations = {}
    for r in range(1, N_ROUNDS + 1):
        engine.run_round(r, pages, robots, seeds)
        violations[r] = _key_violations(engine._read_frontier(r))
    yield engine, catalog, violations
    shutil.rmtree(tmp, ignore_errors=True)


def test_frontier_one_row_per_key_every_round(crawl):
    _, _, violations = crawl
    assert violations == {r: (0, 0) for r in range(1, N_ROUNDS + 1)}


def test_no_candidate_side_seen_probe(crawl):
    _, catalog, _ = crawl
    assert len(catalog.extraction_plans) == N_ROUNDS
    # round 2 is the first with a non-empty seen set
    assert "FlatMapCoGroupsInPandas" not in catalog.extraction_plans[1]
    assert "seen_bloom" not in catalog.written
    assert not catalog.exists("seen_bloom")
    assert not os.path.exists(os.path.join(catalog.root, "seen_bloom"))


def test_round_writes_exactly_its_tables(crawl, request):
    """Every table a round writes is read back by a later step or a
    resume; a write-only table adds Spark jobs to every round and fails
    this."""
    _, catalog, _ = crawl
    assert catalog.written == ROUND_TABLES[request.node.callspec.params["crawl"]]


def test_fetch_semi_joins_keys_into_pages_scan(crawl):
    """Round 2's html fetch: the success keys reach the pages scan as a
    broadcast left-semi, and no exchange sits between that scan and the
    Arrow extraction, so the wide html column is never exchanged."""
    _, catalog, _ = crawl
    chain = _first_child_chain(catalog.extraction_plans[1], "MapInPandas")
    assert chain[-1].startswith("FileScan parquet") and "html" in chain[-1], chain
    assert any(
        n.startswith("BroadcastHashJoin") and "LeftSemi, BuildRight" in n
        for n in chain
    ), chain
    assert not [n for n in chain if "Exchange" in n], chain


def test_each_round_partition_is_one_file(crawl, request):
    """The catalog rebalances every append write, so a test-sized round
    partition is one parquet file, not one per upstream task (the
    extractions write alone ran one task per pages-scan split)."""
    _, catalog, _ = crawl
    tables = {"extractions", "fetch_log", "frontier_delta"}
    assert {n for n, _ in catalog.partition_files} == (
        tables & ROUND_TABLES[request.node.callspec.params["crawl"]]
    )
    assert set(catalog.partition_files.values()) == {1}, catalog.partition_files


def test_write_rebalance_exchanges_no_html(crawl):
    """The rebalance sits above the Arrow extraction: the one exchange
    it adds moves the extracted rows, which dropped html inside the
    Python stage."""
    _, catalog, _ = crawl
    chain = _first_child_chain(catalog.rebalanced_plans[1], "Exchange")
    assert "REBALANCE_PARTITIONS_BY_NONE" in chain[0], chain
    above = chain[: next(i for i, n in enumerate(chain) if n.startswith("MapInPandas"))]
    assert [n for n in above if "Exchange" in n] == [chain[0]], chain
    assert not [n for n in above if "html" in n], chain
