"""Per-layer tracing from outside the engine.

Three parts, all driven by the benchmark, none inside the engine:

1. ``TracingCatalog`` — a ``ParquetSnapshotCatalog`` subclass handed to
   ``CrawlEngine``. It records a span around every ``write_snapshot`` /
   ``write_round_partition`` / ``commit_round`` call and sets the Spark
   job description to the span's name meanwhile, so the event log
   attributes each stage to the catalog call that ran it. The round
   wall minus the summed spans is the driver gap (planning, py4j,
   metadata reads, the cached fetch classification).
2. ``replay_round`` — on the committed state before a round, calls the
   public layer functions one at a time (frontier read, ``split_robots``,
   ``bloom_might_contain`` / ``filter_unseen``, ``select_polite``,
   ``extract_pages``, ``canonicalize_url`` + ``url_hash`` discovery,
   ``merge_bloom_tables``), each on a materialized input, sinks each
   output with the ``noop`` writer and records wall and rows in/out.
3. ``spark_by_tag`` — groups the event log's stages by round and job
   description.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from web_scraper_spark.functions.urls import canonicalize_url, url_hash
from web_scraper_spark.operators.bloom import bloom_might_contain, merge_bloom_tables
from web_scraper_spark.operators.extract import extract_pages
from web_scraper_spark.operators.politeness import select_polite, split_robots
from web_scraper_spark.operators.seen import build_seen_bloom, filter_unseen
from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog

__all__ = [
    "SPAN_NAMES", "SPARK_TAGS", "TracingCatalog", "breakdown", "span_metric",
    "replay_round", "spark_by_tag", "ROUND_PROP", "REPLAY_PROP",
]

ROUND_PROP = "crawlbench.round"
REPLAY_PROP = "crawlbench.replay"

# span name per catalog call; the frontier snapshot (a compaction in
# merge-on-read mode) is told apart from the per-round delta partition
SPAN_NAMES = (
    "extractions", "fetch_log", "frontier_delta", "frontier_snapshot",
    "seen_bloom", "metrics", "commit_round",
)
SPARK_TAGS = tuple(n for n in SPAN_NAMES if n != "commit_round") + ("untagged",)


def span_metric(name: str) -> str:
    """Per-layer metric name of a span."""
    return "catalog.commit_round_s" if name == "commit_round" else f"catalog.{name}_write_s"


def span_name(method: str, table: str | None) -> str:
    if method == "commit_round":
        return "commit_round"
    return "frontier_snapshot" if table == "frontier" else str(table)


class TracingCatalog(ParquetSnapshotCatalog):
    """Times the catalog calls a round makes and tags their Spark jobs."""

    def __init__(self, spark, root: str):
        super().__init__(spark, root)
        self.spans: list[tuple[str, float, float]] = []

    def _traced(self, name: str, call, *args):
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        t0 = time.monotonic()
        try:
            return call(*args)
        finally:
            self.spans.append((name, t0, time.monotonic()))
            sc.setJobDescription(None)

    def write_snapshot(self, name, df, version, partition_by=None):
        return self._traced(
            span_name("write_snapshot", name), super().write_snapshot,
            name, df, version, partition_by,
        )

    def write_round_partition(self, name, df):
        return self._traced(
            span_name("write_round_partition", name),
            super().write_round_partition, name, df,
        )

    def commit_round(self, round_id, info):
        return self._traced("commit_round", super().commit_round, round_id, info)

    def take_spans(self) -> list[tuple[str, float, float]]:
        spans, self.spans = self.spans, []
        return spans


def breakdown(wall_s: float, spans: list[tuple[str, float, float]]) -> dict[str, float]:
    """Per-span seconds (every name in SPAN_NAMES, 0 when absent) plus
    ``driver_gap`` = wall − Σ spans, so the values sum to ``wall_s``."""
    out = {n: 0.0 for n in SPAN_NAMES}
    for name, t0, t1 in spans:
        out[name] += t1 - t0
    out["driver_gap"] = wall_s - sum(out.values())
    return out


# ---------------------------------------------------------------------------
# layer replay
# ---------------------------------------------------------------------------

_obs_ids = itertools.count()


def _sink(df: DataFrame, *aggs) -> tuple[float, dict]:
    """Run ``df`` to the noop sink; (seconds, {"rows": n, **aggs})."""
    obs = Observation(f"crawlbench_{next(_obs_ids)}")
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs)
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    dt = time.monotonic() - t0
    return dt, {k: (v or 0) for k, v in obs.get.items()}


class _Held:
    """Materialized replay inputs, released together."""

    def __init__(self):
        self.frames: list[DataFrame] = []

    def __call__(self, df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        self.frames.append(df)
        return df

    def release(self) -> None:
        for df in self.frames:
            df.unpersist()


def replay_round(engine, round_id: int, pages: DataFrame, robots: DataFrame) -> dict:
    """Per-layer walls and rows for ``round_id``, replayed on the state
    committed by ``round_id - 1``. Each timed layer reads a persisted
    input, so its wall is its own work, not its upstream's."""
    cat, sc = engine.catalog, engine.spark.sparkContext
    keys = ["url_hash", "url"]
    m: dict[str, float] = {}
    held = _Held()

    def layer(name: str):
        sc.setJobDescription(f"replay.{name}")

    sc.setLocalProperty(REPLAY_PROP, str(round_id))
    try:
        layer("frontier")
        m["frontier.read_s"], o = _sink(engine._read_frontier(round_id - 1))
        m["frontier.rows"] = o["rows"]
        base_v = max(v for v in cat.versions("frontier") if v <= round_id - 1)
        m["frontier.delta_rows"] = (
            cat.read_log("frontier_delta")
            .filter((F.col("round_id") > base_v) & (F.col("round_id") <= round_id - 1))
            .count()
            if cat.log_exists("frontier_delta") else 0
        )
        frontier = held(engine._read_frontier(round_id - 1))

        layer("robots")
        candidates = held(frontier.filter(
            (F.col("state") == "pending") & (F.col("not_before") <= round_id)
        ))
        allowed, blocked = split_robots(candidates, robots)
        t_a, o_a = _sink(allowed)
        t_b, o_b = _sink(blocked)
        m["robots.gate_s"] = t_a + t_b
        m["robots.rows_in"] = o_a["rows"] + o_b["rows"]
        m["robots.blocked"] = o_b["rows"]
        allowed = held(allowed)

        layer("seen")
        seen = held(frontier.filter(F.col("state") == "fetched").select(*keys))
        bloom = None
        if cat.exists("seen_bloom") and cat.current_version("seen_bloom") == round_id - 1:
            bloom = held(cat.read("seen_bloom", version=round_id - 1))
        m["seen.bloom_negative"] = m["seen.bloom_positive"] = m["seen.bloom_fp_rate"] = 0
        if bloom is not None:
            flagged = bloom_might_contain(allowed, bloom, engine.n_buckets).join(
                seen.withColumn("__seen", F.lit(1)), keys, "left"
            )
            _, o = _sink(
                flagged,
                F.sum(F.when(~F.col("might_be_seen"), 1).otherwise(0)).alias("neg"),
                F.sum(F.when(F.col("might_be_seen") & F.col("__seen").isNull(), 1)
                      .otherwise(0)).alias("fp"),
            )
            m["seen.bloom_negative"] = o["neg"]
            m["seen.bloom_positive"] = o["rows"] - o["neg"]
            unseen_n = o["neg"] + o["fp"]
            m["seen.bloom_fp_rate"] = o["fp"] / unseen_n if unseen_n else 0.0
        m["seen.rows_in"] = o_a["rows"]
        unseen = filter_unseen(allowed, seen, bloom, engine.n_buckets, confirm_cols=keys)
        m["seen.filter_s"], o = _sink(unseen)
        unseen = held(unseen)

        layer("politeness")
        m["politeness.rows_in"] = o["rows"]
        selected = select_polite(
            unseen, robots, engine.spec, candidate_upper_bound=m["frontier.rows"],
        )
        m["politeness.select_s"], o = _sink(selected)
        m["politeness.selected"] = o["rows"]
        selected = held(selected)
        per_host = lambda df, c: df.groupBy("host").agg(F.count("*").alias(c))  # noqa: E731
        m["politeness.hosts_capped"] = (
            per_host(unseen, "n_in").join(per_host(selected, "n_out"), "host", "left")
            .filter(F.coalesce(F.col("n_out"), F.lit(0)) < F.col("n_in"))
            .count()
        )

        layer("fetch")
        page_keys = pages.select(
            F.col("url_hash"), F.col("url_canon").alias("url"), "page_status", "html"
        )
        fetched = held(selected.select(*keys).join(page_keys, keys))
        _, o = _sink(
            fetched,
            F.sum(F.when(F.col("page_status") == "ok", F.length("html")).otherwise(0))
            .alias("html_bytes"),
            F.sum(F.when(F.col("page_status") == "ok", 1).otherwise(0)).alias("ok"),
        )
        m["fetch.selected_html_bytes"] = o["html_bytes"]

        layer("extract")
        ok_pages = held(fetched.filter(F.col("page_status") == "ok").drop("page_status"))
        m["extract.s"], o = _sink(extract_pages(ok_pages))
        m["extract.pages"] = o["rows"]
        m["extract.pages_per_s"] = o["rows"] / m["extract.s"] if m["extract.s"] else 0.0
        outlinks = held(extract_pages(ok_pages).select(F.explode("outlinks").alias("raw")))

        layer("discover")
        discovered = (
            outlinks.select(canonicalize_url(F.col("raw")).alias("url"))
            .filter(F.col("url").isNotNull())
            .select(url_hash(F.col("url")).alias("url_hash"), "url")
            .distinct()
            .join(frontier.select(*keys), keys, "left_anti")
        )
        m["discover.s"], o = _sink(discovered)
        m["discover.new_urls"] = o["rows"]
        m["discover.outlinks"] = outlinks.count()

        layer("bloom")
        m["bloom.merge_s"] = 0.0
        if bloom is not None:
            geom = bloom.select("m_bits", "k_hashes").first()
            delta = build_seen_bloom(
                fetched.select("url_hash"), n_buckets=engine.n_buckets,
                fpp=engine.bloom_fpp, expected_items_per_bucket=1,
                params=(int(geom.m_bits), int(geom.k_hashes)),
            )
            m["bloom.merge_s"], _ = _sink(merge_bloom_tables(bloom, delta))
    finally:
        sc.setJobDescription(None)
        sc.setLocalProperty(REPLAY_PROP, None)
        held.release()
    return m


# ---------------------------------------------------------------------------
# event-log grouping
# ---------------------------------------------------------------------------


def spark_by_tag(stages: list[dict]) -> dict[int, dict]:
    """{round: {"jobs": n, "input_bytes": {tag: b}, tag: {stage_s, tasks,
    shuffle_write_bytes, spill_bytes}}} for stages run by round jobs."""
    out: dict[int, dict] = {}
    jobs: dict[int, set] = defaultdict(set)
    for st in stages:
        r = st["props"].get(ROUND_PROP)
        if r is None:
            continue
        r = int(r)
        tag = st["props"].get("spark.job.description") or "untagged"
        if tag not in SPARK_TAGS:
            tag = "untagged"
        rec = out.setdefault(r, {
            t: {"stage_s": 0.0, "tasks": 0, "shuffle_write_bytes": 0,
                "spill_bytes": 0, "input_bytes": 0}
            for t in SPARK_TAGS
        })
        for k in ("tasks", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
            rec[tag][k] += st[k]
        rec[tag]["stage_s"] += st["wall_s"]
        jobs[r].add(st["job_id"])
    for r, rec in out.items():
        rec["jobs"] = len(jobs[r])
    return out
