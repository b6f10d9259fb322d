"""Snapshot-versioned table catalog — Iceberg-shaped, parquet-backed.

The design target is Iceberg (`MERGE INTO`, hidden partitioning, atomic
snapshot commits, time travel); this sandbox has no iceberg-spark-runtime
jar, so the same contract is implemented over partitioned parquet:

- every logical table lives at ``root/<name>/v<version>/`` (a full
  copy-on-write snapshot, exactly how Iceberg CoW MERGE produces a new
  snapshot of affected files);
- ``MANIFEST.json`` is the atomic commit pointer (written via
  tmp-file + ``os.replace`` rename, the same atomicity primitive);
- crawl rounds map versions deterministically (``version = round_id``),
  which makes round re-runs idempotent and any round resumable — the
  checkpoint story the north rule requires;
- append-only tables (fetch_log, extractions, frontier_delta) are written as
  ``round_id=<r>/`` partitions with dynamic partition overwrite, so a
  re-run of round r replaces exactly round r's partition and nothing
  else.

Snapshots keep the layout the caller hands them and record no
partitioning: the crawl round writes its frontier snapshot
``repartition(n_buckets, "host_bucket")``, and a plain parquet read
carries no partitioning, so the discovery anti-join and the MoR
merge-back shuffle both sides; they are not co-partitioned. ROADMAP
item 6 measures whether that matters at frontier scale. Round
partitions do not keep the caller's layout: each write is rebalanced,
so AQE sizes its files (one file for a budget-sized round, advisory-size
splits for a large one) instead of one file per upstream task, and each
file is sorted by ``(round_id, url)`` (``round_partition_layout``).

The catalog stores the columns it is handed. The crawl round hands it
no ``url_hash``: its frontier tables and extractions store ``url`` only
and derive the key when they read it back (``plans/rounds.py``).

Every write records the table's schema in its ``MANIFEST.json`` and
every read passes it to the parquet reader, so a read runs no
schema-inference job; a table written before schemas were recorded
reads with inference.

If an Iceberg runtime is on the classpath,
``sources/iceberg_catalog.IcebergCatalog`` (same interface) maps these
operations onto real Iceberg tables — ``make_catalog`` picks it up
automatically when ``spark.sql.catalog.<name>`` is configured.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

__all__ = ["ParquetSnapshotCatalog", "make_catalog", "round_partition_layout"]


def round_partition_layout(df: DataFrame) -> DataFrame:
    """The rows of a round-partition write as they are laid out in its
    files: rebalanced, so AQE sizes the files instead of the upstream
    task count, then sorted within each file by ``(round_id, url)``.
    Neighbouring rows of one host share long URL prefixes and
    ``host``/``depth`` runs, so zstd and parquet's dictionary and
    run-length pages shrink the file; ``round_id`` leads the sort so the
    writer's own partition-column sort is already satisfied. A table
    without a ``url`` column is sorted by ``round_id`` alone."""
    order = ["round_id"] + (["url"] if "url" in df.columns else [])
    return df.hint("rebalance").sortWithinPartitions(*order)


class ParquetSnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- manifest plumbing ------------------------------------------------
    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.root, name, "MANIFEST.json")

    def _read_manifest(self, name: str) -> dict:
        path = self._manifest_path(name)
        if not os.path.exists(path):
            return {"current": None, "history": []}
        with open(path) as f:
            return json.load(f)

    def _commit_manifest(self, name: str, manifest: dict) -> None:
        """Atomic pointer swap (tmp write + rename)."""
        path = self._manifest_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, path)

    # ---- snapshot tables (frontier, seen, seeds, robots) ------------------
    def snapshot_dir(self, name: str, version: int) -> str:
        """Resolve a version to its data directory. Compaction rewrites a
        version into a new generation directory (``v<N>.gen<G>``) and
        repoints the manifest — so the directory for a version is looked
        up, never assumed."""
        dirs = self._read_manifest(name).get("dirs", {})
        return os.path.join(self.root, name, dirs.get(str(version), f"v{version}"))

    def current_version(self, name: str) -> int | None:
        return self._read_manifest(name)["current"]

    def versions(self, name: str) -> list[int]:
        """All committed snapshot versions (ascending)."""
        return sorted(self._read_manifest(name)["history"])

    def exists(self, name: str) -> bool:
        return self.current_version(name) is not None

    def write_snapshot(
        self,
        name: str,
        df: DataFrame,
        version: int,
        partition_by: list[str] | None = None,
    ) -> None:
        """Copy-on-write snapshot commit; overwriting the same version is
        idempotent (round re-run)."""
        path = self.snapshot_dir(name, version)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        manifest = self._read_manifest(name)
        if version not in manifest["history"]:
            manifest["history"] = sorted(manifest["history"] + [version])
        manifest["current"] = version
        # per version, so time travel reads each version's own schema
        manifest.setdefault("schemas", {})[str(version)] = df.schema.json()
        self._commit_manifest(name, manifest)

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Current snapshot, or time-travel to ``version``."""
        manifest = self._read_manifest(name)
        v = version if version is not None else manifest["current"]
        if v is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        schema = manifest.get("schemas", {}).get(str(v))
        return self._reader(schema).parquet(self.snapshot_dir(name, v))

    def _reader(self, schema: str | None):
        """A parquet reader bound to a recorded schema (no inference
        job), or an inferring one for a table written without it."""
        reader = self.spark.read
        if schema is None:
            return reader
        return reader.schema(StructType.fromJson(json.loads(schema)))

    def rollback(self, name: str, version: int) -> None:
        manifest = self._read_manifest(name)
        if version not in manifest["history"]:
            raise ValueError(f"unknown version {version} for {name}")
        manifest["current"] = version
        self._commit_manifest(name, manifest)

    # ---- maintenance (Iceberg expire_snapshots / rewrite_data_files) ------
    def expire_snapshots(self, name: str, keep_last: int) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshot versions (the
        current version is always kept). A long crawl would otherwise
        retain every round's full copy-on-write frontier forever —
        Iceberg's ``expire_snapshots`` maintenance action. Returns the
        expired versions. Manifest commits BEFORE the data deletes, so
        a crash between the two leaves unreferenced files (harmless,
        re-collectable), never a referenced-but-deleted version.
        """
        manifest = self._read_manifest(name)
        history = manifest["history"]
        current = manifest["current"]
        keep = set(sorted(history)[-max(1, keep_last):]) | {current}
        expired = [v for v in history if v not in keep]
        if not expired:
            return []
        manifest["history"] = [v for v in history if v in keep]
        dirs = manifest.get("dirs", {})
        schemas = manifest.get("schemas", {})
        expired_paths = [self.snapshot_dir(name, v) for v in expired]
        for v in expired:
            dirs.pop(str(v), None)
            schemas.pop(str(v), None)
        self._commit_manifest(name, manifest)
        for p in expired_paths:
            shutil.rmtree(p, ignore_errors=True)
        return expired

    def compact_snapshot(self, name: str, target_partitions: int) -> None:
        """Rewrite the CURRENT snapshot into ``target_partitions`` files
        (Iceberg's ``rewrite_data_files`` small-file compaction). Many
        rounds of bucketed writes accumulate small files whose per-file
        open cost dominates scans.

        Crash-safe commit protocol (the referenced directory is NEVER
        absent at any instant): write the rewrite into a fresh generation
        directory ``v<N>.gen<G>``, atomically commit a manifest whose
        ``dirs`` map points version N at the new generation, then delete
        the now-unreferenced old directory. A crash before the manifest
        commit leaves only an unreferenced staged dir; a crash after it
        leaves only an unreferenced old dir — both are garbage-collected
        on the next compaction's entry sweep, and the current snapshot
        stays readable throughout.
        """
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        manifest = self._read_manifest(name)
        dirs = manifest.setdefault("dirs", {})
        cur_dir = dirs.get(str(v), f"v{v}")
        table_root = os.path.join(self.root, name)
        # entry sweep: drop stale generations / legacy swap leftovers of
        # THIS version that are not the referenced directory
        for entry in os.listdir(table_root):
            stale = entry != cur_dir and (
                entry == f"v{v}"
                or entry.startswith((f"v{v}.", f"v{v}-"))
            )
            if stale:
                shutil.rmtree(os.path.join(table_root, entry), ignore_errors=True)
        gen = int(cur_dir.rsplit(".gen", 1)[1]) + 1 if ".gen" in cur_dir else 1
        staged_name = f"v{v}.gen{gen}"
        (
            self.read(name, version=v)
            .repartition(target_partitions)
            .write.mode("overwrite")
            .parquet(os.path.join(table_root, staged_name))
        )
        dirs[str(v)] = staged_name
        self._commit_manifest(name, manifest)
        shutil.rmtree(os.path.join(table_root, cur_dir), ignore_errors=True)

    # ---- append tables (fetch_log, extractions, frontier_delta) -----------
    def append_dir(self, name: str) -> str:
        return os.path.join(self.root, name, "data")

    def write_round_partition(self, name: str, df: DataFrame) -> None:
        """Idempotent per-round append: dynamic partition overwrite on
        ``round_id`` replaces exactly the partitions present in ``df``
        (session conf ``partitionOverwriteMode=dynamic``).

        The rows are rebalanced before the write, so the file count
        follows the rows written, not the upstream task count: AQE
        coalesces a budget-sized round into one file and splits a large
        one at its advisory partition size. The shuffle moves only the
        rows ``df`` holds; the crawl round's extractions have dropped
        ``html`` by then. Each file is written in url order
        (``round_partition_layout``)."""
        path = self.append_dir(name)
        round_partition_layout(df).write.mode("overwrite").partitionBy(
            "round_id"
        ).parquet(path)
        # a partition column reads back after the data columns
        schema = StructType(
            [f for f in df.schema if f.name != "round_id"]
            + [StructField("round_id", IntegerType())]
        ).json()
        manifest = self._read_manifest(name)
        if manifest.get("schema") != schema:
            manifest["schema"] = schema
            self._commit_manifest(name, manifest)

    def read_log(self, name: str) -> DataFrame:
        path = self.append_dir(name)
        schema = self._read_manifest(name).get("schema")
        return self._reader(schema).option("basePath", path).parquet(path)

    def log_round_ids(self, name: str) -> list[int]:
        """round_id partitions present in an append table (ascending),
        from directory names only — no file scan."""
        path = self.append_dir(name)
        if not os.path.exists(path):
            return []
        return sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(path)
            if e.startswith("round_id=")
        )

    def drop_log_partitions(self, name: str, upto_round: int) -> list[int]:
        """Remove ``round_id`` partitions ≤ ``upto_round`` (delta
        cleanup after a merge-on-read compaction folded them into a
        snapshot). Data deletes only — append tables have no manifest
        pointer, and readers filter by round_id, so a concurrent crash
        here leaves extra (already-folded) partitions that the next
        compaction removes again."""
        dropped = [r for r in self.log_round_ids(name) if r <= upto_round]
        for r in dropped:
            shutil.rmtree(
                os.path.join(self.append_dir(name), f"round_id={r}"),
                ignore_errors=True,
            )
        return dropped

    def log_exists(self, name: str) -> bool:
        path = self.append_dir(name)
        return os.path.exists(path) and any(
            e.startswith("round_id=") for e in os.listdir(path)
        )

    # ---- round manifests (checkpoint/resume) ------------------------------
    def rounds_dir(self) -> str:
        return os.path.join(self.root, "_rounds")

    def round_manifest_path(self, round_id: int) -> str:
        return os.path.join(self.rounds_dir(), f"round_{round_id:06d}.json")

    def commit_round(self, round_id: int, info: dict) -> None:
        os.makedirs(self.rounds_dir(), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.rounds_dir(), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"round_id": round_id, "status": "committed", **info}, f, indent=1)
        os.replace(tmp, self.round_manifest_path(round_id))

    def round_committed(self, round_id: int) -> bool:
        return os.path.exists(self.round_manifest_path(round_id))

    def read_round_manifest(self, round_id: int) -> dict:
        with open(self.round_manifest_path(round_id)) as f:
            return json.load(f)

    def last_committed_round(self) -> int:
        if not os.path.isdir(self.rounds_dir()):
            return 0
        rounds = [
            int(f[len("round_") : -len(".json")])
            for f in os.listdir(self.rounds_dir())
            if f.startswith("round_") and f.endswith(".json")
        ]
        return max(rounds, default=0)

    def drop(self, name: str) -> None:
        shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)


def make_catalog(
    spark: SparkSession, root: str, iceberg_catalog: str = "crawl"
) -> ParquetSnapshotCatalog:
    """Factory — returns the Iceberg-backed catalog when a Spark catalog
    named ``iceberg_catalog`` is configured (runtime jar +
    ``spark.sql.catalog.<name>``), else the parquet snapshot catalog
    (the only one testable in this jar-less sandbox)."""
    from .iceberg_catalog import IcebergCatalog

    ice = IcebergCatalog(spark, catalog=iceberg_catalog)
    if ice.available():
        return ice  # type: ignore[return-value]  # same duck-typed surface
    return ParquetSnapshotCatalog(spark, root)
