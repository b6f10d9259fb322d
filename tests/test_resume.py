"""Checkpoint/resume: idempotent rounds, crash-resume determinism,
snapshot time travel."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.functions.urls import url_hash
from web_scraper_spark.operators.revisit import RevisitPolicy
from web_scraper_spark.oracle.crawler import OracleCrawler
from web_scraper_spark.plans.rounds import FRONTIER_COLS, CrawlEngine
from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
from web_scraper_spark.sources.fixtures import build_world
from web_scraper_spark.sources.pages_source import write_world_parquet
from tests.conftest import ingest_pages, small_config


@pytest.fixture(scope="module")
def env(spark):
    cfg = small_config()
    world = build_world(cfg)
    tmp = tempfile.mkdtemp(prefix="wss_resume_")
    paths = write_world_parquet(world, tmp + "/world")
    seeds = spark.read.parquet(paths["seeds"])
    robots = spark.read.parquet(paths["robots"])
    pages = ingest_pages(spark, paths, tmp)
    yield spark, cfg, world, tmp, seeds, robots, pages
    shutil.rmtree(tmp, ignore_errors=True)


def _frontier_state(catalog):
    return {
        (r.url, r.state, r.attempts, r.not_before)
        for r in catalog.read("frontier")
        .select("url", "state", "attempts", "not_before")
        .collect()
    }


def test_crash_resume_reproduces_identical_state(env):
    spark, cfg, world, tmp, seeds, robots, pages = env

    # full run: 3 rounds straight through
    cat_a = ParquetSnapshotCatalog(spark, tmp + "/state_a")
    eng_a = CrawlEngine(spark, cat_a, cfg.politeness, n_buckets=8)
    eng_a.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng_a.run(3, pages, robots, seeds)

    # crashed run: 2 rounds, then "crash" mid-round-3 (manifest missing →
    # partially-written outputs), then resume
    cat_b = ParquetSnapshotCatalog(spark, tmp + "/state_b")
    eng_b = CrawlEngine(spark, cat_b, cfg.politeness, n_buckets=8)
    eng_b.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng_b.run(2, pages, robots, seeds)
    # simulate a torn round-3: snapshot written but manifest never committed
    frontier_v2 = cat_b.read("frontier", version=2)
    cat_b.write_snapshot("frontier", frontier_v2.limit(10), version=3)
    cat_b.rollback("frontier", 2)
    assert not cat_b.round_committed(3)
    assert cat_b.last_committed_round() == 2
    # resume: run(3) skips rounds 1-2 (committed) and re-executes round 3
    eng_b.run(3, pages, robots, seeds)

    assert _frontier_state(cat_a) == _frontier_state(cat_b)
    log_a = sorted(
        (r.round_id, r.url, r.status)
        for r in cat_a.read_log("fetch_log").select("round_id", "url", "status").collect()
    )
    log_b = sorted(
        (r.round_id, r.url, r.status)
        for r in cat_b.read_log("fetch_log").select("round_id", "url", "status").collect()
    )
    assert log_a == log_b


def test_rerun_committed_round_is_noop(env):
    spark, cfg, world, tmp, seeds, robots, pages = env
    cat = ParquetSnapshotCatalog(spark, tmp + "/state_noop")
    eng = CrawlEngine(spark, cat, cfg.politeness, n_buckets=8)
    eng.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng.run(2, pages, robots, seeds)
    before = _frontier_state(cat)
    out = eng.run_round(1, pages, robots, seeds)  # already committed
    assert out["round_id"] == 1 and out["status"] == "committed"
    assert _frontier_state(cat) == before


def test_time_travel_reads_previous_snapshot(env):
    spark, cfg, world, tmp, seeds, robots, pages = env
    cat = ParquetSnapshotCatalog(spark, tmp + "/state_tt")
    eng = CrawlEngine(spark, cat, cfg.politeness, n_buckets=8)
    eng.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng.run(2, pages, robots, seeds)
    v0 = cat.read("frontier", version=0)
    v2 = cat.read("frontier", version=2)
    assert v0.filter("state != 'pending'").count() == 0
    assert v2.filter("state = 'fetched'").count() > 0
    assert cat.current_version("frontier") == 2


def test_engine_equals_oracle_after_resume(env):
    spark, cfg, world, tmp, seeds, robots, pages = env
    cat = ParquetSnapshotCatalog(spark, tmp + "/state_c")
    eng = CrawlEngine(spark, cat, cfg.politeness, n_buckets=8)
    eng.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng.run(1, pages, robots, seeds)
    eng2 = CrawlEngine(spark, cat, cfg.politeness, n_buckets=8)  # fresh engine obj
    eng2.run(3, pages, robots, seeds)

    oracle = OracleCrawler(world, cfg.politeness)
    oracle.run(3)
    eng_seen = {
        r.url
        for r in cat.read("frontier").filter("state='fetched'").select("url").collect()
    }
    assert eng_seen == oracle.seen


class _CrashingCatalog(ParquetSnapshotCatalog):
    """Records the label of every mutating call (the table written, or
    the method name); once armed with ``k``, raises before the k-th
    (0-based) call after arming, once. Everything before it has landed,
    nothing from it on has."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.calls: list[str] = []
        self.crash_at: int | None = None

    def arm(self, k):
        self.calls, self.crash_at = [], k

    def _call(self, label):
        if self.crash_at == len(self.calls):
            self.crash_at = None
            raise RuntimeError(f"crash before {label}")
        self.calls.append(label)

    def write_snapshot(self, name, df, version, partition_by=None):
        self._call(name)
        return super().write_snapshot(name, df, version, partition_by)

    def write_round_partition(self, name, df):
        self._call(name)
        return super().write_round_partition(name, df)

    def commit_round(self, round_id, info):
        self._call("commit_round")
        return super().commit_round(round_id, info)

    def drop_log_partitions(self, name, upto_round):
        self._call("drop_log_partitions")
        return super().drop_log_partitions(name, upto_round)

    def expire_snapshots(self, name, keep_last):
        self._call("expire_snapshots")
        return super().expire_snapshots(name, keep_last)


# round 2's mutating catalog calls, in order, per (mor_compact_every,
# snapshot_retention, revisit): compacting every 3rd round makes round 2
# a delta round, every 2nd a compaction round; a retention adds the
# expiry and revisit the revisit_stats write
_COMPACTION_CALLS = [
    "extractions", "fetch_log", "frontier", "commit_round", "drop_log_partitions",
]
ROUND2_CALLS = {
    (3, None, False): ["extractions", "fetch_log", "frontier_delta", "commit_round"],
    (2, None, False): _COMPACTION_CALLS,
    (2, 1, False): _COMPACTION_CALLS + ["expire_snapshots"],
    (3, None, True): [
        "extractions", "revisit_stats", "fetch_log", "frontier_delta", "commit_round",
    ],
    (2, None, True): ["extractions", "revisit_stats", *_COMPACTION_CALLS[1:]],
}
CRASH_CELLS = [
    pytest.param(
        every, retention, revisit, k,
        id=f"{'delta' if every == 3 else 'compaction'}-{label}",
    )
    for (every, retention, revisit), labels in ROUND2_CALLS.items()
    for k, label in enumerate(labels)
    # the retention and revisit crawls' other calls are the plain
    # crawls' cells
    if (retention is None or label == "expire_snapshots")
    and (not revisit or label == "revisit_stats")
]
REVISIT = RevisitPolicy(default_interval=2, max_interval=4)


def _mor_engine(env, catalog, every, retention=None, revisit=False):
    spark, cfg = env[0], env[1]
    return CrawlEngine(
        spark, catalog, cfg.politeness, n_buckets=8,
        mor_compact_every=every,
        snapshot_retention=retention,
        revisit=REVISIT if revisit else None,
    )


def _crawl_state(eng, as_of):
    """Frontier (all FRONTIER_COLS), fetch_log and extractions rows, and
    revisit_stats rows when revisits are on."""

    def rows(df):
        return sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
            for r in df.collect()
        )

    state = {
        "frontier": rows(eng._read_frontier(as_of).select(*FRONTIER_COLS)),
        "fetch_log": rows(eng.catalog.read_log("fetch_log")),
        "extractions": rows(eng.catalog.read_log("extractions")),
    }
    if eng.revisit is not None:
        state["revisit_stats"] = rows(eng.catalog.read("revisit_stats"))
    return state


@pytest.fixture(scope="module")
def mor_reference(env):
    """Per ``(mor_compact_every, snapshot_retention, revisit)``, one
    uninterrupted 3-round crawl: (a copy of its state after round 1,
    round 2's mutating calls, its state after round 3)."""
    spark, cfg, world, tmp, seeds, robots, pages = env
    cache = {}

    def get(every, retention=None, revisit=False):
        key = (every, retention, revisit)
        if key not in cache:
            cat = _CrashingCatalog(
                spark, f"{tmp}/mor_ref_{every}_{retention}_{revisit}"
            )
            eng = _mor_engine(env, cat, every, retention, revisit)
            eng.init_frontier(seeds, cfg.period_start, cfg.period_end)
            eng.run(1, pages, robots, seeds)
            after_round1 = f"{cat.root}_r1"
            shutil.copytree(cat.root, after_round1)
            cat.arm(None)
            eng.run_round(2, pages, robots, seeds)
            round2_calls = list(cat.calls)
            eng.run(3, pages, robots, seeds)
            cache[key] = (after_round1, round2_calls, _crawl_state(eng, 3))
        return cache[key]

    return get


@pytest.mark.parametrize("every,retention,revisit,k", CRASH_CELLS)
def test_mor_crash_at_every_write_resumes_exactly(
    env, mor_reference, every, retention, revisit, k
):
    """A merge-on-read round that crashes before any one of its
    mutating catalog calls must resume to the uninterrupted state: the
    frontier (discovery_round included), fetch_log and extractions
    equal, and revisit_stats too when revisits are on. Folded deltas
    stay readable until the round commit lands, and a crash before the
    snapshot expiry leaves the expiry to a later round."""
    spark, cfg, world, tmp, seeds, robots, pages = env
    after_round1, round2_calls, expected = mor_reference(every, retention, revisit)
    assert round2_calls == ROUND2_CALLS[(every, retention, revisit)]

    cat = _CrashingCatalog(
        spark, f"{tmp}/mor_crash_{every}_{retention}_{revisit}_{k}"
    )
    shutil.copytree(after_round1, cat.root, dirs_exist_ok=True)
    eng = _mor_engine(env, cat, every, retention, revisit)
    cat.arm(k)
    with pytest.raises(RuntimeError, match=f"crash before {round2_calls[k]}"):
        eng.run_round(2, pages, robots, seeds)
    assert cat.calls == round2_calls[:k]
    assert cat.last_committed_round() == (2 if "commit_round" in cat.calls else 1)
    eng.run(3, pages, robots, seeds)
    assert _crawl_state(eng, 3) == expected


class _KeyStoringCatalog(ParquetSnapshotCatalog):
    """Writes the frontier snapshot, its deltas and the extractions with
    ``url_hash`` stored right after ``url``: the layout of state written
    before the round derived the key at read."""

    def _stored_key(self, name, df):
        if name not in ("frontier", "frontier_delta", "extractions"):
            return df
        i = df.columns.index("url") + 1
        return df.select(
            *df.columns[:i], url_hash(F.col("url")).alias("url_hash"), *df.columns[i:]
        )

    def write_snapshot(self, name, df, version, partition_by=None):
        return super().write_snapshot(
            name, self._stored_key(name, df), version, partition_by
        )

    def write_round_partition(self, name, df):
        return super().write_round_partition(name, self._stored_key(name, df))


def test_resume_from_state_that_stores_url_hash(env, mor_reference):
    """Round 1 written with the key stored (snapshot v0, the round-1
    delta and extractions); rounds 2-3 run in the current layout, and
    round 3 compacts both layouts into one snapshot. The state equals an
    uninterrupted current-layout crawl's."""
    spark, cfg, world, tmp, seeds, robots, pages = env
    _, _, expected = mor_reference(3)

    stored = _KeyStoringCatalog(spark, f"{tmp}/mor_stored_key")
    eng = _mor_engine(env, stored, 3)
    eng.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng.run(1, pages, robots, seeds)
    for df in (
        stored.read("frontier", version=0),
        stored.read_log("frontier_delta"),
        stored.read_log("extractions"),
    ):
        assert df.columns.index("url_hash") == df.columns.index("url") + 1

    eng = _mor_engine(env, ParquetSnapshotCatalog(spark, stored.root), 3)
    eng.run(3, pages, robots, seeds)
    assert _crawl_state(eng, 3) == expected
