"""Iceberg-backed implementation of the snapshot-catalog contract.

``ParquetSnapshotCatalog`` (sources/catalog.py) implements the crawl
engine's table contract over partitioned parquet because this sandbox
has no ``iceberg-spark-runtime`` jar. This module is the real-cluster
drop-in: the SAME method surface mapped onto Iceberg SQL —

- ``write_snapshot``  → ``INSERT OVERWRITE`` + ``CREATE OR REPLACE TAG
  v<version>`` (version = round_id, exactly the parquet layout's
  versioning, but as Iceberg snapshot tags instead of directories);
- ``read(version=)``  → ``VERSION AS OF 'v<version>'`` time travel;
- ``merge_upsert``    → a real ``MERGE INTO`` (W2), replacing the
  parquet shim's full-outer + coalesce copy-on-write;
- ``write_round_partition`` → dynamic-overwrite ``INSERT OVERWRITE``
  of the ``round_id`` partition (W1/W3 idempotent re-runs);
- ``expire_snapshots`` / ``compact_snapshot`` → the
  ``system.expire_snapshots`` / ``system.rewrite_data_files``
  maintenance procedures;
- ``rollback``        → ``system.rollback_to_snapshot`` via the tag.

Every statement is produced by a pure ``*_sql`` builder so the DDL is
unit-testable in this jar-less sandbox (tests/test_iceberg_catalog.py
pins the strings); the execution wrappers raise a clear error unless a
Spark catalog is actually configured (``spark.sql.catalog.<name>`` set
to the Iceberg SparkCatalog, per the public Iceberg docs).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

__all__ = ["IcebergCatalog"]


class IcebergCatalog:
    def __init__(
        self,
        spark: SparkSession,
        catalog: str = "crawl",
        namespace: str = "web",
    ):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace

    # ---- availability ------------------------------------------------------
    def available(self) -> bool:
        """True when a Spark catalog with this name is configured (the
        iceberg-spark-runtime jar + ``spark.sql.catalog.<name>``)."""
        try:
            impl = self.spark.conf.get(f"spark.sql.catalog.{self.catalog}")
        except Exception:
            return False
        return impl is not None and "Catalog" in str(impl)

    def _require(self) -> None:
        if not self.available():
            raise RuntimeError(
                f"no Iceberg catalog {self.catalog!r} configured: set "
                f"spark.sql.catalog.{self.catalog}="
                "org.apache.iceberg.spark.SparkCatalog and put "
                "iceberg-spark-runtime on the classpath"
            )

    # ---- SQL builders (pure — unit-tested without the jar) -----------------
    def ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def create_table_sql(
        self,
        name: str,
        schema_ddl: str,
        partition_by: list[str] | None = None,
    ) -> str:
        part = (
            f" PARTITIONED BY ({', '.join(partition_by)})"
            if partition_by
            else ""
        )
        return (
            f"CREATE TABLE IF NOT EXISTS {self.ident(name)} "
            f"({schema_ddl}) USING iceberg{part}"
        )

    def insert_overwrite_sql(self, name: str, source_view: str) -> str:
        return (
            f"INSERT OVERWRITE {self.ident(name)} "
            f"SELECT * FROM {source_view}"
        )

    def tag_sql(self, name: str, version: int) -> str:
        return (
            f"ALTER TABLE {self.ident(name)} "
            f"CREATE OR REPLACE TAG `v{version}`"
        )

    def read_sql(self, name: str, version: int | None = None) -> str:
        if version is None:
            return f"SELECT * FROM {self.ident(name)}"
        return (
            f"SELECT * FROM {self.ident(name)} VERSION AS OF 'v{version}'"
        )

    def merge_upsert_sql(
        self,
        name: str,
        source_view: str,
        key_cols: list[str],
    ) -> str:
        """The W2 registry upsert as a real MERGE: update matched rows,
        insert unmatched — the operation the parquet shim emulates with
        full-outer + coalesce + CoW snapshot."""
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        return (
            f"MERGE INTO {self.ident(name)} t USING {source_view} s "
            f"ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )

    def expire_snapshots_sql(self, name: str, keep_last: int) -> str:
        return (
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.namespace}.{name}', "
            f"retain_last => {int(keep_last)})"
        )

    def compact_sql(self, name: str, target_file_size_mb: int = 512) -> str:
        return (
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.namespace}.{name}', "
            "options => map('target-file-size-bytes', "
            f"'{int(target_file_size_mb) * 1024 * 1024}'))"
        )

    def rollback_sql(self, name: str, version: int) -> str:
        # tags name snapshots; rollback re-points the current snapshot
        return (
            f"CALL {self.catalog}.system.set_current_snapshot("
            f"table => '{self.namespace}.{name}', ref => 'v{version}')"
        )

    # ---- execution wrappers (ParquetSnapshotCatalog surface) ---------------
    def current_version(self, name: str) -> int | None:
        self._require()
        tags = self.spark.sql(
            f"SELECT name FROM {self.ident(name)}.refs WHERE type = 'TAG'"
        ).collect()
        versions = [
            int(r["name"][1:]) for r in tags if r["name"].startswith("v")
        ]
        return max(versions, default=None)

    def exists(self, name: str) -> bool:
        self._require()
        return self.spark.catalog.tableExists(self.ident(name))

    def write_snapshot(
        self,
        name: str,
        df: DataFrame,
        version: int,
        partition_by: list[str] | None = None,
    ) -> None:
        self._require()
        view = f"_src_{name}_{version}"
        df.createOrReplaceTempView(view)
        if not self.exists(name):
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in df.schema
            )
            self.spark.sql(self.create_table_sql(name, ddl, partition_by))
        self.spark.sql(self.insert_overwrite_sql(name, view))
        self.spark.sql(self.tag_sql(name, version))

    def read(self, name: str, version: int | None = None) -> DataFrame:
        self._require()
        return self.spark.sql(self.read_sql(name, version))

    def merge_upsert(
        self, name: str, updates: DataFrame, key_cols: list[str]
    ) -> None:
        self._require()
        view = f"_merge_{name}"
        updates.createOrReplaceTempView(view)
        self.spark.sql(self.merge_upsert_sql(name, view, key_cols))

    def write_round_partition(self, name: str, df: DataFrame) -> None:
        """Idempotent per-round append — with
        ``spark.sql.sources.partitionOverwriteMode=dynamic`` the INSERT
        OVERWRITE replaces exactly the round_id partitions in ``df``.
        Rebalanced first, like ``ParquetSnapshotCatalog``, so AQE sizes
        the data files instead of the upstream task count."""
        self._require()
        view = f"_log_{name}"
        df.hint("rebalance").createOrReplaceTempView(view)
        self.spark.sql(self.insert_overwrite_sql(name, view))

    def read_log(self, name: str) -> DataFrame:
        self._require()
        return self.spark.sql(self.read_sql(name))

    def expire_snapshots(self, name: str, keep_last: int) -> list[int]:
        self._require()
        self.spark.sql(self.expire_snapshots_sql(name, keep_last))
        return []  # Iceberg reports expirations via the procedure output

    def compact_snapshot(self, name: str, target_partitions: int) -> None:
        self._require()
        self.spark.sql(self.compact_sql(name))

    def rollback(self, name: str, version: int) -> None:
        self._require()
        self.spark.sql(self.rollback_sql(name, version))

    def drop(self, name: str) -> None:
        self._require()
        self.spark.sql(f"DROP TABLE IF EXISTS {self.ident(name)}")

    # ---- engine contract: versions / round manifests / log partitions -----
    # ParquetSnapshotCatalog keeps round manifests as JSON files and log
    # round-ids as directory names; here both become Iceberg state so the
    # WHOLE CrawlEngine surface (plans/rounds.py) runs against one catalog:
    # manifests live in a `rounds` table (round_id, info JSON) committed
    # via the same MERGE builder as W2, and log round-ids/retention are
    # plain SQL over the round_id partition column (Iceberg DELETE drops
    # whole partitions metadata-only when the predicate aligns).

    ROUNDS_TABLE = "rounds"

    def versions(self, name: str) -> list[int]:
        self._require()
        tags = self.spark.sql(
            f"SELECT name FROM {self.ident(name)}.refs WHERE type = 'TAG'"
        ).collect()
        return sorted(
            int(r["name"][1:]) for r in tags if r["name"].startswith("v")
        )

    def log_round_ids_sql(self, name: str) -> str:
        return (
            f"SELECT DISTINCT round_id FROM {self.ident(name)} "
            "ORDER BY round_id"
        )

    def log_round_ids(self, name: str) -> list[int]:
        self._require()
        if not self.exists(name):
            return []
        return [
            int(r["round_id"])
            for r in self.spark.sql(self.log_round_ids_sql(name)).collect()
        ]

    def drop_log_partitions_sql(self, name: str, upto_round: int) -> str:
        # predicate on the partition column → metadata-only delete
        return (
            f"DELETE FROM {self.ident(name)} "
            f"WHERE round_id <= {int(upto_round)}"
        )

    def drop_log_partitions(self, name: str, upto_round: int) -> list[int]:
        self._require()
        dropped = [r for r in self.log_round_ids(name) if r <= upto_round]
        if dropped:
            self.spark.sql(self.drop_log_partitions_sql(name, upto_round))
        return dropped

    def log_exists(self, name: str) -> bool:
        self._require()
        return self.exists(name)

    def _ensure_rounds_table(self) -> None:
        self.spark.sql(
            self.create_table_sql(
                self.ROUNDS_TABLE, "round_id bigint, info string"
            )
        )

    def commit_round(self, round_id: int, info: dict) -> None:
        """Idempotent manifest commit: MERGE on round_id (re-running a
        committed round overwrites the same manifest row, exactly the
        parquet layout's atomic-rename semantics)."""
        self._require()
        self._ensure_rounds_table()
        src = self.spark.createDataFrame(
            [(int(round_id), json.dumps(info, sort_keys=True))],
            "round_id bigint, info string",
        )
        self.merge_upsert(self.ROUNDS_TABLE, src, ["round_id"])

    def round_committed(self, round_id: int) -> bool:
        self._require()
        if not self.exists(self.ROUNDS_TABLE):
            return False
        n = self.spark.sql(
            f"SELECT count(*) AS n FROM {self.ident(self.ROUNDS_TABLE)} "
            f"WHERE round_id = {int(round_id)}"
        ).first()["n"]
        return n > 0

    def read_round_manifest(self, round_id: int) -> dict:
        self._require()
        row = self.spark.sql(
            f"SELECT info FROM {self.ident(self.ROUNDS_TABLE)} "
            f"WHERE round_id = {int(round_id)}"
        ).first()
        if row is None:
            raise FileNotFoundError(f"round {round_id} not committed")
        return json.loads(row["info"])

    def last_committed_round(self) -> int:
        self._require()
        if not self.exists(self.ROUNDS_TABLE):
            return 0
        row = self.spark.sql(
            f"SELECT max(round_id) AS m FROM {self.ident(self.ROUNDS_TABLE)}"
        ).first()
        return int(row["m"]) if row["m"] is not None else 0
