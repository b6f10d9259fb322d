"""Crawl rounds as declarative DataFrame jobs (the §3.1/§3.2 lifecycle).

One round = one driver invocation (the reference's daily-scheduler cycle,
bot_controller.py:89-107, with wall-clock sleeps re-expressed as budgets):

    frontier ─ pending/not_before ─ robots gate ─ politeness select
             ─ fetch (pages-table lookup join)
             ─ outcome split (success / empty / timeout)
             ─ extract (Arrow UDF) ─ discoveries anti-join + merge-back
             ─ frontier commit (row delta, or snapshot v<round>)
             + round manifest

The URL-seen test is the exact (url_hash, url) anti-join of each
round's discoveries against the frontier keys — the reference applies
its seen check to discovered links only, never to fetch candidates.
The frontier holds one row per key, so its ``pending`` candidates and
its ``fetched`` (seen) rows can never overlap and need no dedup.

Every write is idempotent for a fixed round id (snapshot version =
round id; log partitions = dynamic overwrite on round_id), so a crashed
or re-run round converges to the same state — the checkpoint/resume
story. Selection is a pure function of the previous snapshot, so a
resumed round re-derives the identical set (SURVEY.md §4.2).

The frontier has one code path, merge-on-read: a round reads the newest
snapshot with the ``frontier_delta`` partitions since overlaid, and
commits a delta of the rows it changed or, every ``mor_compact_every``-th
round (every round by default), a compacted snapshot.

Scale notes (10^10 frontier):
- the snapshot is written by ``host_bucket`` and read back unpartitioned,
  so the discovery anti-join (URL-seen test) and MoR merge-back shuffle
  both sides; ROADMAP item 6 measures whether that matters at scale.
- the politeness window shuffles by host once; its budget output bounds
  per-host rows, killing hot-host skew before the fetch.
- the fetch ships only the success rows' 64-bit keys to the pages scan
  (a broadcast left-semi); extraction runs fused with that scan on its
  file splits, so its layout does not depend on host and the wide
  ``html`` column crosses no exchange. Only selected rows' pages are
  ever decoded, and html is dropped inside the extract stage.
- every round-partition write (extractions, fetch_log, frontier_delta,
  live fetch_raw) is rebalanced by the catalog, so its file count
  follows the round's budget, not the pages-scan split count, and each
  file is written in url order. Each adds one exchange of budget-sized
  rows; the extractions it moves carry text and outlinks, not html
  (live mode's fetch_raw rows do carry the fetched bodies, once).
- no table the round writes (the frontier snapshot, frontier_delta,
  extractions, revisit_stats, fetch_raw) stores ``url_hash``: it is 8
  incompressible bytes a row, over half of a delta partition's bytes,
  and every read derives it from ``url`` again (``_keyed``). In-memory
  frames keep it, so the joins and the URL-seen anti-join are
  unchanged. The snapshot stays in ``host_bucket`` order, not url
  order: sorting it would add a frontier-sized sort to every
  compaction.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import InitVar, dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.urls import canonicalize_url, host_bucket, url_hash
from ..operators.extract import extract_pages
from ..operators.politeness import (
    DISTRIBUTED_LIMIT_THRESHOLD,
    select_polite,
    split_robots,
)
from ..operators.priority import (
    DISCOVERED_PERIOD_IDX,
    DISCOVERED_SEED_RANK,
    DISCOVERED_YACHT_RANK,
    PRIORITY_COLS,
)
from ..operators.revisit import (
    RevisitPolicy,
    schedule_from_stats,
    update_revisit_stats,
)
from ..sources.catalog import ParquetSnapshotCatalog
from ..sources.fixtures import PolitenessSpec

__all__ = ["CrawlEngine", "FRONTIER_COLS"]

FRONTIER_COLS = [
    "url",
    "url_hash",
    "host",
    "host_bucket",
    "depth",
    "discovery_round",
    "seed_rank",
    "yacht_rank",
    "period_idx",
    "competitor",
    "yacht_id",
    "period_from",
    "period_to",
    "state",
    "attempts",
    "not_before",
]

_TIMEOUT_ERROR = "max_request_number_reached"  # nausys_tracker.py:299


def _keyed(df: DataFrame) -> DataFrame:
    """``df`` with ``url_hash`` derived from its ``url`` (the round's
    tables do not store it). ``withColumn`` replaces a stored key, so
    state written with the key stored reads the same."""
    return df.withColumn("url_hash", url_hash(F.col("url")))


def _observed(obs: Observation) -> dict:
    """The metrics a write's observation collected; ``{}`` when the
    observed frame was empty. The catalog rebalances round-partition
    writes, and when that shuffle stage materializes empty, AQE swaps
    it for an empty relation whose observed metrics are never reported:
    Spark then completes the observation with a schema-less empty row,
    which ``Observation.get`` cannot convert."""
    if obs._jo.getRow().length() == 0:
        return {}
    return obs.get


@dataclass
class CrawlEngine:
    spark: SparkSession
    catalog: ParquetSnapshotCatalog
    spec: PolitenessSpec
    n_buckets: int = 16
    # live-fetch mode: a client factory (one construction per Python
    # worker, P12) switches the round's fetch stage from the pages-table
    # lookup join to the Arrow-batched HTTP stage — same politeness-
    # bounded input, same outcome split/extraction/frontier transitions
    # downstream (parity pinned by tests/test_live_round.py). None =
    # offline lookup mode (the only network-free mode in this sandbox).
    client_factory: Callable[[], object] | None = None
    # keep this many frontier snapshot versions (None = all). An
    # unbounded daily crawl retains its full snapshot history forever
    # without this. Resume only ever needs the last committed round;
    # deeper time travel is a retention policy choice.
    snapshot_retention: int | None = None
    # The frontier is merge-on-read, Iceberg's row-delta design: a
    # round writes only the rows it changed (state transitions and
    # discoveries, budget-proportional) as a `frontier_delta` round
    # partition, and reads overlay those deltas onto the newest
    # snapshot (latest per key). Every `mor_compact_every`-th round
    # folds the merged view into a fresh snapshot instead and drops the
    # deltas, so 1 writes a full snapshot every round and no delta. On
    # a real Iceberg catalog the overlay collapses into the scan
    # (equality deletes) instead of the window/anti-join the parquet
    # shim runs.
    mor_compact_every: int = 1
    # init-only and never stored; "mor" is its one value
    frontier_mode: InitVar[str] = "mor"
    # adaptive re-crawl (None = off, the reference-parity mode): a
    # RevisitPolicy turns `fetched` frontier rows whose change-rate
    # schedule says they are due back into candidates. The schedule is
    # derived from a compact per-URL stats snapshot (`revisit_stats`,
    # one row per content URL: visit/interval/change counters + last
    # fingerprint) merged each round with that round's extractions —
    # budget-proportional maintenance, never a rescan of the
    # extraction history. Revisit candidates are seen URLs by
    # definition (seen dedup gates *discovery*; revisit gates
    # *freshness*); they still pass the robots gate and compete for the
    # same politeness budget.
    revisit: "RevisitPolicy | None" = None
    # selection sizes up to here broadcast the narrow crawl attrs onto
    # the extraction output so the attrs join shuffles no extracted
    # text; beyond it the attrs join shuffles rather than build a
    # driver-side hash table of every selected row
    ATTRS_BROADCAST_THRESHOLD: int = 1_000_000

    def __post_init__(self, frontier_mode: str) -> None:
        if frontier_mode != "mor":
            raise ValueError(
                f"frontier_mode={frontier_mode!r}: the frontier is merge-on-read "
                "only; mor_compact_every=1 writes a snapshot every round"
            )

    # ------------------------------------------------------------------
    # frontier bootstrap: T1 (weekly periods) + T3 (seeds x periods)
    # ------------------------------------------------------------------
    def init_frontier(
        self,
        seeds: DataFrame,
        period_start: str,
        period_end: str,
    ) -> DataFrame:
        """Seed expansion as pure DataFrame ops.

        T1 — ``generate_weekly_dates`` (nausys_tracker.py:323-338) via
        ``sequence + explode`` (period pairs: from 17:00 → +7d 08:00,
        last start strictly < end).
        T3 — the reference's triple loop (nausys_tracker.py:367-397)
        as explode(yacht_ids) x crossJoin(periods). ``yacht_rank`` is
        the lexicographic rank of the yacht name within a competitor
        (the fixture encodes config insertion order into the names).
        """
        periods = (
            self.spark.range(1)
            .select(
                F.explode(
                    F.sequence(
                        F.to_date(F.lit(period_start)),
                        F.to_date(F.lit(period_end)),
                        F.expr("interval 7 days"),
                    )
                ).alias("d")
            )
            .filter(F.col("d") < F.to_date(F.lit(period_end)))
            .select(
                F.col("d"),
                F.concat(F.date_format("d", "yyyy-MM-dd"), F.lit(" 17:00:00")).alias(
                    "period_from"
                ),
                F.concat(
                    F.date_format(F.date_add("d", 7), "yyyy-MM-dd"),
                    F.lit(" 08:00:00"),
                ).alias("period_to"),
            )
            .withColumn("period_idx", F.row_number().over(Window.orderBy("d")) - 1)
            .drop("d")
        )

        yachts = (
            seeds.select(
                F.col("competitor_name").alias("competitor"),
                "host",
                "seed_rank",
                F.explode("yacht_ids").alias("yacht_name", "yacht_id"),
            )
            .withColumn(
                "yacht_rank",
                F.row_number().over(Window.partitionBy("host").orderBy("yacht_name")) - 1,
            )
        )

        tasks = yachts.crossJoin(F.broadcast(periods))
        d_from = F.substring("period_from", 1, 10)
        d_to = F.substring("period_to", 1, 10)
        raw_url = F.concat(
            F.lit("https://"),
            F.col("host"),
            F.lit("/yacht/"),
            F.col("yacht_id"),
            F.lit("/period/"),
            d_from,
            F.lit("?period_to="),
            d_to,
            F.lit("&period_from="),
            d_from,
        )
        frontier = (
            tasks.withColumn("url", canonicalize_url(raw_url))
            .withColumn("url_hash", url_hash(F.col("url")))
            .withColumn("host_bucket", host_bucket(F.col("host"), self.n_buckets))
            .withColumn("depth", F.lit(0))
            .withColumn("discovery_round", F.lit(0))
            .withColumn("state", F.lit("pending"))
            .withColumn("attempts", F.lit(0))
            .withColumn("not_before", F.lit(0))
            .select(*FRONTIER_COLS)
        )
        self.catalog.write_snapshot(
            "frontier",
            frontier.drop("url_hash").repartition(self.n_buckets, "host_bucket"),
            version=0,
        )
        return _keyed(self.catalog.read("frontier"))

    def _read_frontier(self, as_of_round: int) -> DataFrame:
        """The frontier as of ``as_of_round``."""
        return self._overlaid_frontier(as_of_round)[0]

    def _overlaid_frontier(self, as_of_round: int) -> tuple[DataFrame, bool]:
        """(the frontier as of ``as_of_round``, whether deltas were
        overlaid): the delta partitions in ``(base, as_of]`` overlaid
        onto the newest snapshot ≤ ``as_of`` — latest-per-key within the
        deltas (delta-proportional shuffle), then a key anti-join to drop
        superseded base rows. With no delta in that range it is the
        snapshot read alone (no shuffle). A key appears at most once per
        round partition, so ``round_id`` is a total per-key order.
        Resume/time-travel reads pick the right base from the version
        history, so re-reading an old round after later compactions
        stays correct."""
        base_v = max(
            v for v in self.catalog.versions("frontier") if v <= as_of_round
        )
        base = _keyed(self.catalog.read("frontier", version=base_v))
        delta_rounds = [
            r
            for r in self.catalog.log_round_ids("frontier_delta")
            if base_v < r <= as_of_round
        ]
        if not delta_rounds:
            return base, False
        deltas = _keyed(
            self.catalog.read_log("frontier_delta").filter(
                (F.col("round_id") > base_v) & (F.col("round_id") <= as_of_round)
            )
        )
        w = Window.partitionBy("url_hash", "url").orderBy(
            F.col("round_id").desc()
        )
        latest = (
            deltas.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*FRONTIER_COLS)
        )
        # latest has one row per delta key: its keys are the deltas' key set
        survivors = base.join(
            latest.select("url_hash", "url"), ["url_hash", "url"], "left_anti"
        )
        return survivors.unionByName(latest), True

    # ------------------------------------------------------------------
    def _fetch_live(
        self, selected: DataFrame, round_id: int
    ) -> tuple[DataFrame, DataFrame]:
        """Live-mode fetch: Arrow HTTP stage (one client per Python
        worker, P12) + idempotent raw materialization — the WARC-analog
        store. Returns ``(fetched, extracted)``: the outcome-classified
        selection and the Arrow extraction of its HTTP-200 bodies. The
        raw round partition is written BEFORE any consumer runs, making
        the at-least-once task-level fetch exactly-once at round level:
        re-runs of a committed round never refetch, and every downstream
        consumer (outcome split, extraction, fetch log) reads the
        WRITTEN bytes with column pruning — wide bodies are never cached
        and never refetched.

        F3 status map, mirroring the lookup path's page_status split:
        HTTP 200 → success, any other HTTP status → empty (fetched, no
        usable content — nausys_tracker.py:299's non-200 branch),
        status ≤ 0/null (network failure) → timeout. Round parity with
        the lookup join is pinned by tests/test_live_round.py.
        """
        from ..sources.http_fetch import http_fetch_stage

        raw = http_fetch_stage(selected, self.client_factory, keep_cols=True)
        raw_rows = raw.select(
            F.lit(round_id).alias("round_id"),
            *[c for c in selected.columns if c != "url_hash"],
            "status",
            F.encode(F.col("body"), "utf-8").alias("html"),
            "worker_pid",
            "client_seq",
        )
        self.catalog.write_round_partition("fetch_raw", raw_rows)
        back = _keyed(
            self.catalog.read_log("fetch_raw").filter(F.col("round_id") == round_id)
        )
        fetched = (
            back.drop("html", "worker_pid", "client_seq", "round_id")
            .withColumn(
                "outcome",
                F.when(
                    F.col("status").isNull() | (F.col("status") <= 0), "timeout"
                )
                .when(F.col("status") == 200, "success")
                .otherwise("empty"),
            )
            .drop("status")
            .cache()
        )
        with_html = back.filter(F.col("status") == 200).drop(
            "status", "worker_pid", "client_seq", "round_id"
        )
        return fetched, extract_pages(with_html)

    def _fetch_lookup(
        self,
        selected: DataFrame,
        pages_resolved: DataFrame,
        broadcast_attrs: bool,
    ) -> tuple[DataFrame, DataFrame]:
        """Offline fetch: a lookup join against the pages table. Returns
        ``(fetched, extracted)`` like ``_fetch_live``.

        Two phases, for width. Phase 1 classifies outcomes with a NARROW
        projection (url identity + page_status, no html), joined on the
        64-bit key and string-confirmed (hash-collision guard). Phase 2
        reads html for the success rows only, and never moves it: their
        8-byte keys ship to the pages scan as a broadcast left-semi,
        extraction runs fused with that scan on its file splits, and the
        crawl attrs attach to the html-FREE extraction output on the
        exact ``(url_hash, url)`` key — a 64-bit collision extracts one
        extra page, which that join drops. With ``broadcast_attrs`` (a
        budget-bounded selection) the attrs join moves no extracted
        text; the text crosses one budget-sized exchange, the rebalance
        of the extractions write. Event-log evidence
        (BENCH/scaling_round.md): a shuffle join moved the wide html
        through two ~530 MB exchanges per round; this path moves none.
        """
        page_keys = pages_resolved.select(
            F.col("url_hash").alias("p_hash"),
            F.col("url_canon").alias("p_url"),
            "page_status",
        )
        fetched = (
            selected.join(
                page_keys,
                (selected.url_hash == page_keys.p_hash)
                & (selected.url == page_keys.p_url),
                "left",
            )
            .withColumn(
                "outcome",
                F.when(F.col("p_url").isNull(), "timeout")
                .when(F.col("page_status") == "error", "empty")
                .otherwise("success"),
            )
            .drop("p_hash", "p_url", "page_status")
            .cache()
        )
        successes = fetched.filter(F.col("outcome") == "success").drop("outcome")
        success_keys = successes.select(F.col("url_hash").alias("k_hash"))
        pages_sel = pages_resolved.join(
            F.broadcast(success_keys),
            F.col("url_hash") == F.col("k_hash"),
            "left_semi",
        ).select("url_hash", F.col("url_canon").alias("url"), "html")
        attrs = F.broadcast(successes) if broadcast_attrs else successes
        extracted = extract_pages(pages_sel).join(attrs, ["url_hash", "url"])
        return fetched, extracted

    # ------------------------------------------------------------------
    def _revisit_versions(self) -> list[int]:
        if not self.catalog.exists("revisit_stats"):
            return []
        return self.catalog.versions("revisit_stats")

    # ------------------------------------------------------------------
    def _log_rows(self, df: DataFrame, round_id: int, status, error) -> DataFrame:
        status_col = status if not isinstance(status, str) else F.lit(status)
        error_col = error if not isinstance(error, (str, type(None))) else F.lit(error)
        return df.select(
            F.lit(round_id).alias("round_id"),
            "url",
            "host",
            status_col.alias("status"),
            error_col.cast("string").alias("error"),
            F.spark_partition_id().alias("partition_id"),
            *[F.col(c) for c in PRIORITY_COLS if c != "url"],
        )

    # ------------------------------------------------------------------
    def run_round(
        self,
        round_id: int,
        pages_resolved: DataFrame,
        robots: DataFrame,
        seeds: DataFrame,
    ) -> dict:
        """Execute (or resume past) one crawl round."""
        if self.catalog.round_committed(round_id):
            return self.catalog.read_round_manifest(round_id)
        round_caches: list = []
        try:
            return self._run_round(
                round_id, pages_resolved, robots, seeds, round_caches
            )
        finally:
            # on every exit: a crashed round must not leave its caches
            # in the session
            for h in round_caches:
                h.unpersist()

    def _run_round(
        self,
        round_id: int,
        pages_resolved: DataFrame,
        robots: DataFrame,
        seeds: DataFrame,
        round_caches: list,
    ) -> dict:
        """``run_round``'s body; every frame it caches goes into
        ``round_caches``."""
        t0 = time.monotonic()
        # per-section walls (scaling diagnosis: which sections are
        # data-proportional vs fixed overhead) — keyed by pipeline order
        sections: dict[str, float] = {}
        _mark = [t0]

        def _section(name: str) -> None:
            now = time.monotonic()
            sections[name] = round(now - _mark[0], 3)
            _mark[0] = now

        frontier, overlaid = self._overlaid_frontier(round_id - 1)
        if overlaid:
            # Several jobs per round consume the frontier; unpersisted,
            # each re-runs the overlay's window + anti-join over all of
            # it (10-60 s per job at a 10M-row frontier). A plain
            # snapshot read is cheaper to re-scan than to persist
            # (BENCH/BASELINE.md); a real Iceberg catalog folds the
            # overlay into the scan.
            frontier = frontier.persist(StorageLevel.MEMORY_AND_DISK)
            round_caches.append(frontier)

        candidates = frontier.filter(
            (F.col("state") == "pending") & (F.col("not_before") <= round_id)
        )

        # adaptive re-crawl: fetched rows whose schedule is due rejoin
        # the candidate set. The schedule reads the PREVIOUS round's
        # stats snapshot (pure function of committed state — resume
        # re-derives the identical due set).
        revisit_on = self.revisit is not None and any(
            v <= round_id - 1 for v in self._revisit_versions()
        )
        if revisit_on:
            stats_v = max(
                v for v in self._revisit_versions() if v <= round_id - 1
            )
            due_keys = (
                schedule_from_stats(
                    _keyed(self.catalog.read("revisit_stats", version=stats_v)),
                    self.revisit,
                    key_cols=["url_hash", "url"],
                )
                .filter(F.col("next_due") <= round_id)
                .select("url_hash", "url")
            )
            due = frontier.filter(F.col("state") == "fetched").join(
                due_keys, ["url_hash", "url"], "left_semi"
            )
            candidates = candidates.unionByName(due)

        # R9 robots gate (broadcast join)
        allowed, blocked = split_robots(candidates, robots)

        # S6/J1 URL-seen dedup needs no step here: candidates are the
        # frontier's `pending` rows and the seen set is its `fetched`
        # rows, and the frontier holds one row per (url_hash, url) (the
        # init, the discovery anti-join below, and the MoR overlay's
        # latest-per-key all keep it so), so the two never overlap.
        # The URL-seen test runs where the reference runs it: on
        # discoveries (the exact anti-join against the frontier keys).
        # The seen total is carried forward from the previous round's
        # manifest (a JSON read, no Spark job).
        seen_total_prev = 0
        if round_id > 1 and self.catalog.round_committed(round_id - 1):
            seen_total_prev = self.catalog.read_round_manifest(round_id - 1).get(
                "seen_total", 0
            )

        # R1-R5 politeness + R8 priority + global budget. A frontier row
        # count only matters past the distributed-limit threshold, where
        # it can prove the global limit unnecessary and bound the
        # selection for the fetch's attrs join; below it the budget alone
        # decides and the count job is skipped (select_polite is exact
        # either way).
        frontier_rows = (
            frontier.count()
            if self.spec.global_budget > DISTRIBUTED_LIMIT_THRESHOLD
            else None
        )
        _section("plan_prep")
        selected = select_polite(
            allowed,
            robots,
            self.spec,
            cache_handles=round_caches,
            candidate_upper_bound=frontier_rows,
        )

        # P1 fetch + extraction — the only Python stage, Arrow-batched
        if self.client_factory is not None:
            # live mode: Arrow-batched HTTP stage, no join at all
            fetched, extracted = self._fetch_live(selected, round_id)
        else:
            # the politeness stage emits at most this many rows
            selection_bound = (
                self.spec.global_budget
                if frontier_rows is None
                else min(self.spec.global_budget, frontier_rows)
            )
            fetched, extracted = self._fetch_lookup(
                selected,
                pages_resolved,
                broadcast_attrs=selection_bound <= self.ATTRS_BROADCAST_THRESHOLD,
            )
        round_caches.append(fetched)
        timeouts = fetched.filter(F.col("outcome") == "timeout").drop("outcome")
        empties = fetched.filter(F.col("outcome") == "empty").drop("outcome")

        # The extraction product is materialized ONCE to the catalog and
        # every downstream consumer (fetch log, discoveries) reads the
        # WRITTEN partition with column pruning. Never .cache() this
        # frame: at 600k ~19 KB pages the deserialized rows are ~8 GiB
        # of storage pool, which squeezed execution memory until the
        # frontier-merge hash aggregate threw AGGREGATE_OUT_OF_MEMORY on
        # the default heap — and at 100 TB caching the extraction output
        # is not an option at all. ``partition_id`` (the extraction
        # task's lineage) is materialized into the table so the re-read
        # preserves W3 per-partition lineage; it is computed below the
        # catalog's write rebalance, so it still names the extraction
        # task, not the writer.
        extractions = extracted.select(
            F.lit(round_id).alias("round_id"),
            "url",
            "competitor",
            "yacht_id",
            "period_from",
            "period_to",
            "details",
            "text",
            "host",
            "outlinks",
            F.spark_partition_id().alias("partition_id"),
            *[F.col(c) for c in PRIORITY_COLS if c != "url"],
        )
        self.catalog.write_round_partition("extractions", extractions)
        _section("select_fetch_extract")
        ext = self.catalog.read_log("extractions").filter(
            F.col("round_id") == round_id
        )

        if self.revisit is not None:
            # incremental change-rate stats: merge this round's content
            # fingerprints into the per-URL counters (full-outer join,
            # visit side bounded by the budget). Reads the previous
            # snapshot, writes version=round_id — idempotent on re-run
            # like every other per-round commit.
            prev_stats = None
            prev_vs = [v for v in self._revisit_versions() if v <= round_id - 1]
            if prev_vs:
                prev_stats = _keyed(
                    self.catalog.read("revisit_stats", version=max(prev_vs))
                )
            visits = _keyed(ext).select(
                "url_hash",
                "url",
                F.lit(round_id).alias("round_id"),
                F.md5(F.col("text")).alias("fingerprint"),
            )
            self.catalog.write_snapshot(
                "revisit_stats",
                update_revisit_stats(
                    prev_stats, visits, key_cols=["url_hash", "url"]
                ).drop("url_hash"),
                version=round_id,
            )

        # W3 fetch log (per-partition lineage)
        log = (
            self._log_rows(blocked, round_id, "robots", "disallowed")
            .unionByName(
                self._log_rows(timeouts, round_id, "error", _TIMEOUT_ERROR)
            )
            .unionByName(self._log_rows(empties, round_id, "empty", None))
            .unionByName(
                # success rows come off the written extractions table —
                # narrow projection, stored lineage partition_id
                ext.select(
                    F.lit(round_id).alias("round_id"),
                    "url",
                    "host",
                    F.lit("success").alias("status"),
                    F.lit(None).cast("string").alias("error"),
                    "partition_id",
                    *[F.col(c) for c in PRIORITY_COLS if c != "url"],
                )
            )
        )
        _section("revisit_stats")
        # status totals ride the log write as an observation, so the A6
        # scalar counts cost no extra driver job
        status_obs = Observation(f"statuses_r{round_id}")
        log = log.observe(
            status_obs,
            *[
                F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(s)
                for s in ("success", "empty", "error", "robots")
            ],
        )
        self.catalog.write_round_partition("fetch_log", log)
        _section("fetch_log_write")

        # W4 frontier merge-back: discoveries (depth+1), state updates
        seed_ranks = seeds.select(
            F.col("host").alias("d_host"), F.col("seed_rank").alias("d_seed_rank")
        )
        discoveries = (
            ext.select(
                F.col("depth").alias("parent_depth"),
                F.explode("outlinks").alias("raw_link"),
            )
            .withColumn("url", canonicalize_url(F.col("raw_link")))
            .filter(F.col("url").isNotNull())
            .withColumn("host", F.lower(F.try_parse_url(F.col("url"), F.lit("HOST"))))
            .groupBy("url", "host")
            .agg(F.min(F.col("parent_depth") + 1).alias("depth"))
            .join(F.broadcast(seed_ranks), F.col("host") == F.col("d_host"), "left")
            .select(
                "url",
                url_hash(F.col("url")).alias("url_hash"),
                "host",
                host_bucket(F.col("host"), self.n_buckets).alias("host_bucket"),
                "depth",
                F.lit(round_id).alias("discovery_round"),
                F.coalesce("d_seed_rank", F.lit(DISCOVERED_SEED_RANK)).alias(
                    "seed_rank"
                ),
                F.lit(DISCOVERED_YACHT_RANK).alias("yacht_rank"),
                F.lit(DISCOVERED_PERIOD_IDX).alias("period_idx"),
                F.lit("").alias("competitor"),
                F.lit("").alias("yacht_id"),
                F.lit("").alias("period_from"),
                F.lit("").alias("period_to"),
                F.lit("pending").alias("state"),
                F.lit(0).alias("attempts"),
                F.lit(0).alias("not_before"),
            )
            # S6/J1 URL-seen test, exact: (url_hash, url) anti-join
            # against every frontier key (pending, fetched or failed) —
            # hash alone would drop a new URL that collides with an
            # existing frontier entry
            .join(frontier.select("url_hash", "url"), ["url_hash", "url"], "left_anti")
        )

        # state transitions (R6 retry/backoff machine) — outcome comes
        # straight from the cached narrow fetch classification; the
        # merge key is string-confirmed like the fetch join, so a hash
        # collision cannot mark the wrong pending row fetched
        outcome = fetched.select("url_hash", "url", "outcome")

        def _transitions(joined: DataFrame) -> DataFrame:
            """R6 state machine over frontier rows carrying an
            ``outcome`` column (NULL = untouched). Column order matters:
            ``not_before`` tests the UPDATED state (still pending ⇒
            retry scheduled; exhausted ⇒ failed, no backoff)."""
            return (
                joined.withColumn(
                    "state",
                    F.when(
                        F.col("outcome").isin("success", "empty"), F.lit("fetched")
                    )
                    .when(
                        (F.col("outcome") == "timeout")
                        # only a PENDING row can exhaust into `failed`:
                        # a revisit timeout keeps the row `fetched` —
                        # stale content beats forgetting we have it
                        & (F.col("state") == "pending")
                        & (F.col("attempts") + 1 >= self.spec.retry_max_attempts),
                        F.lit("failed"),
                    )
                    .otherwise(F.col("state")),
                )
                .withColumn(
                    "attempts",
                    F.when(
                        F.col("outcome") == "timeout", F.col("attempts") + 1
                    ).otherwise(F.col("attempts")),
                )
                .withColumn(
                    "not_before",
                    F.when(
                        (F.col("outcome") == "timeout")
                        & (F.col("state") == "pending"),
                        F.lit(round_id + self.spec.retry_backoff_rounds),
                    ).otherwise(F.col("not_before")),
                )
                .drop("outcome")
            )

        delta_round = round_id % self.mor_compact_every != 0

        # discovery count rides the state write as an OBSERVATION —
        # previously a separate count job that re-scanned the entire
        # just-written snapshot (frontier-proportional: a full-table
        # scan per round at 10^10 rows). Observed metrics are computed
        # by the write's own tasks for free.
        disc_obs = Observation(f"discoveries_r{round_id}")
        _disc_expr = F.sum(
            F.when(F.col("discovery_round") == round_id, 1).otherwise(0)
        ).alias("n")

        tw = time.monotonic()
        if delta_round:
            # W4 as an Iceberg-style row delta: ONLY the rows this round
            # changed — outcome transitions (≤ budget rows), newly
            # robots-blocked rows, and discoveries. Write cost is
            # budget-proportional regardless of frontier size; the
            # overlay happens at read time (_read_frontier).
            touched = _transitions(
                frontier.join(outcome, ["url_hash", "url"], "inner")
            )
            delta = (
                touched.select(*FRONTIER_COLS)
                .unionByName(
                    blocked.withColumn(
                        "state", F.lit("robots_blocked")
                    ).select(*FRONTIER_COLS)
                )
                .unionByName(discoveries)
                .drop("url_hash")
                .withColumn("round_id", F.lit(round_id))
                .observe(disc_obs, _disc_expr)
            )
            self.catalog.write_round_partition("frontier_delta", delta)
        else:
            # compaction: the merged view with this round's changes
            # becomes snapshot v<round_id>
            new_frontier = _transitions(
                frontier.join(outcome, ["url_hash", "url"], "left")
            )
            # robots-blocked rows become permanent
            new_frontier = (
                new_frontier.join(
                    blocked.select("url_hash", "url", F.lit(True).alias("__rb")),
                    ["url_hash", "url"],
                    "left",
                )
                .withColumn(
                    "state",
                    F.when(
                        F.col("__rb").isNotNull(), F.lit("robots_blocked")
                    ).otherwise(F.col("state")),
                )
                .drop("__rb")
                .select(*FRONTIER_COLS)
                .unionByName(discoveries)
                .observe(disc_obs, _disc_expr)
            )
            self.catalog.write_snapshot(
                "frontier",
                new_frontier.drop("url_hash").repartition(
                    self.n_buckets, "host_bucket"
                ),
                version=round_id,
            )
        frontier_write_s = time.monotonic() - tw
        _section("state_commit")

        # metrics rollup (A6): round totals into the manifest; per-host
        # counts are one groupBy of the fetch_log partition when wanted
        wall_s = time.monotonic() - t0

        # collected by the fetch-log write's tasks (Observation above)
        status_totals = {
            k: int(v or 0) for k, v in _observed(status_obs).items()
        }
        # collected by the state write's own tasks (Observation above);
        # None or absent only when the write produced zero rows
        n_discovered = int(_observed(disc_obs).get("n") or 0)
        counts = {
            "selected": sum(
                v for k, v in status_totals.items() if k != "robots"
            ),
            "success": status_totals.get("success", 0),
            "empty": status_totals.get("empty", 0),
            "error": status_totals.get("error", 0),
            "robots": status_totals.get("robots", 0),
            "discovered": n_discovered,
        }

        # revisits re-fetch already-seen URLs: they must not inflate
        # the seen total
        n_revisit_seen = 0
        if revisit_on:
            revisit = F.col("state") == "fetched"
            row = fetched.agg(
                F.sum(revisit.cast("long")).alias("revisited"),
                F.sum(
                    (revisit & F.col("outcome").isin("success", "empty")).cast(
                        "long"
                    )
                ).alias("seen"),
            ).first()
            counts["revisited"] = int(row["revisited"] or 0)
            n_revisit_seen = int(row["seen"] or 0)

        info = {
            **counts,
            "seen_total": seen_total_prev
            + counts["success"]
            + counts["empty"]
            - n_revisit_seen,
            "wall_seconds": wall_s,
            # per-round cost of the frontier write (delta or compaction
            # snapshot) — the state write that must stay
            # budget-proportional as the frontier grows
            "frontier_write_seconds": round(frontier_write_s, 3),
            "urls_per_sec": counts["selected"] / wall_s if wall_s > 0 else 0.0,
            # delta rounds do not advance the snapshot version —
            # the round's state lives in its frontier_delta partition
            "frontier_version": self.catalog.current_version("frontier"),
        }
        _section("metrics_rollup")
        info["sections"] = sections
        self.catalog.commit_round(round_id, info)
        # maintenance only AFTER the round commit, so a crash anywhere in
        # the round leaves every input a resume reads in place
        if not delta_round:
            # compaction point: deltas ≤ round_id are folded into the
            # snapshot this round committed. Dropped earlier, a crash
            # before the commit would make the re-run read the older
            # base without them. A crash after the commit leaves folded
            # partitions that later rounds' reads skip (they start above
            # the base version) and the next compaction removes.
            self.catalog.drop_log_partitions("frontier_delta", round_id)
        if self.snapshot_retention is not None:
            # expiring only versions older than the retention window can
            # never touch the snapshot a resume would read
            self.catalog.expire_snapshots("frontier", self.snapshot_retention)
            if self.revisit is not None:
                self.catalog.expire_snapshots(
                    "revisit_stats", self.snapshot_retention
                )
        return {"round_id": round_id, "status": "committed", **info}

    # ------------------------------------------------------------------
    def run(
        self,
        n_rounds: int,
        pages_resolved: DataFrame,
        robots: DataFrame,
        seeds: DataFrame,
    ) -> list[dict]:
        """Run rounds 1..n, resuming past any already-committed round."""
        return [
            self.run_round(r, pages_resolved, robots, seeds)
            for r in range(1, n_rounds + 1)
        ]


# dataclasses leaves an InitVar's default on the class; without it,
# ``engine.frontier_mode`` fails like any attribute the engine lacks
del CrawlEngine.frontier_mode
