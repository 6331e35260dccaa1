"""Real-Iceberg backend behind the same Warehouse API.

`sources.storage.Warehouse` reproduces Iceberg's commit semantics on
plain parquet because this sandbox ships no Iceberg jars (CLAUDE.md
env facts). Production (BASELINE.json north_star: "persisted as
Iceberg tables") targets the real thing. This module closes the gap as
a *readiness shim*:

- :class:`IcebergWarehouse` — the identical method surface
  (append / overwrite / merge_upsert / read(as_of) / exists / tables /
  snapshot_ids / compact / expire_snapshots / wave_commits /
  discard_waves_after) implemented on a real Iceberg catalog via
  ``df.writeTo``, ``MERGE INTO``, snapshot-id time travel, a
  ``docrawl.wave`` snapshot summary property, and the
  ``rewrite_data_files`` / ``expire_snapshots`` /
  ``rollback_to_snapshot`` procedures.
- :func:`iceberg_available` — jar/extension detection.
- :func:`make_warehouse` — backend selector: callers (the crawl loop,
  tests, spark-submit entrypoints) construct their warehouse through
  this and never branch on backend themselves.

The crawl loop (`plans/crawl.run_crawl`) takes whatever this factory
returns — `tests/test_iceberg_backend.py` runs the SAME contract
exercise against both backends (the Iceberg leg importorskip-gated on
the jars) and a full crawl through the factory, so flipping a cluster
to real Iceberg is a constructor argument, not a pipeline change.

Scale notes (why the mapping is faithful): Iceberg `MERGE INTO` with a
bucket-partitioned table is the production twin of Warehouse's
bucket-scoped copy-on-write merge; `snapshot-id` reads are the
checkpoint/resume mechanism (`run_crawl(resume=True)` replays from
committed state only); `rewrite_data_files` replaces the manifest
replay that Warehouse.compact emulates.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from docrawl_spark.sources.storage import Warehouse, validate_merge_source

__all__ = ["iceberg_available", "IcebergWarehouse", "make_warehouse"]

_ICEBERG_EXTENSION = (
    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
)
# snapshot summary key carrying the crawl wave (Warehouse.wave_commits)
_WAVE_PROP = "docrawl.wave"


def iceberg_available(spark: SparkSession, catalog: str | None = None) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath (and,
    when ``catalog`` is given, that catalog is configured)."""
    try:
        spark._jvm.java.lang.Class.forName(_ICEBERG_EXTENSION)  # type: ignore[union-attr]
    except Exception:
        return False
    if catalog is not None:
        try:
            impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
        except Exception:
            return False
        return bool(impl)
    return True


class IcebergWarehouse:
    """`Warehouse`-API-compatible wrapper over a real Iceberg catalog.

    Snapshot ids are Iceberg's own (stringified longs), so
    ``read(as_of=...)`` round-trips ids returned by the write methods
    exactly like the parquet backend's manifest ids.
    """

    def __init__(self, catalog: str, spark: SparkSession, namespace: str = "docrawl"):
        self.catalog = catalog
        self.namespace = namespace
        self.spark = spark
        self._wave: int | None = None
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    # -- identifiers -------------------------------------------------------
    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def _current_snapshot_id(self, table: str) -> str:
        row = (
            self.spark.sql(
                f"SELECT snapshot_id FROM {self._ident(table)}.snapshots "
                f"ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1"
            )
        ).first()
        return str(row["snapshot_id"])

    def _writer(self, table: str, df: DataFrame):
        w = df.writeTo(self._ident(table)).using("iceberg")
        if self._wave is not None:
            w = w.option(f"snapshot-property.{_WAVE_PROP}", str(self._wave))
        return w

    # -- wave scope --------------------------------------------------------
    # the parquet backend's scope: it sets self._wave, which _writer
    # turns into the docrawl.wave summary property of every append and
    # overwrite (merge_upsert runs SQL MERGE INTO and is not tagged)
    wave_commits = Warehouse.wave_commits

    def discard_waves_after(self, wave: int) -> dict[str, list[str]]:
        """Roll every table back to the snapshot before its first
        current-ancestry snapshot tagged with a wave newer than
        ``wave`` (drop the table if that snapshot created it). Iceberg
        history is linear, so an untagged snapshot after that point
        cannot survive the rollback: that case raises instead of
        losing it. Returns ``{table: [discarded ids]}``."""
        out: dict[str, list[str]] = {}
        for table in self.tables():
            ident = self._ident(table)
            snaps = self._ancestry(table)
            first = next(
                (i for i, s in enumerate(snaps)
                 if s["wave"] is not None and int(s["wave"]) > wave),
                None,
            )
            if first is None:
                continue
            dropped = snaps[first:]
            if any(s["wave"] is None for s in dropped):
                raise ValueError(
                    f"{ident}: an untagged snapshot follows wave "
                    f"{dropped[0]['wave']}'s; rolling back would lose it"
                )
            parent = dropped[0]["parent_id"]
            if parent is None:
                self.spark.sql(f"DROP TABLE {ident}")
            else:
                self.spark.sql(
                    f"CALL {self.catalog}.system.rollback_to_snapshot("
                    f"'{self.namespace}.{table}', {int(parent)})"
                )
            out[table] = [str(s["snapshot_id"]) for s in dropped]
        return out

    # -- writes ------------------------------------------------------------
    def append(
        self, table: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        w = self._writer(table, df)
        if self.exists(table):
            w.append()
        else:
            from pyspark.sql import functions as F

            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.create()
        return self._current_snapshot_id(table)

    def overwrite(
        self, table: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        from pyspark.sql import functions as F

        w = self._writer(table, df)
        if partition_by and not self.exists(table):
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        return self._current_snapshot_id(table)

    def merge_upsert(
        self, table: str, df: DataFrame, key_cols: list[str], n_buckets: int = 16
    ) -> str:
        """Real ``MERGE INTO`` — new rows insert, matched keys replace.
        ``n_buckets`` is accepted for API parity; bucketing on Iceberg
        is a table-creation partition transform (``bucket(n, key)``),
        not a per-merge knob."""
        validate_merge_source(df, key_cols, table)
        if not self.exists(table):
            return self.overwrite(table, df)
        view = f"_merge_src_{uuid.uuid4().hex[:8]}"
        df.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"t.{k} <=> s.{k}" for k in key_cols)
            self.spark.sql(
                f"MERGE INTO {self._ident(table)} t USING {view} s ON {on} "
                f"WHEN MATCHED THEN UPDATE SET * "
                f"WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)
        return self._current_snapshot_id(table)

    # -- maintenance -------------------------------------------------------
    def compact(self, table: str, target_files: int = 8) -> str:
        """``rewrite_data_files`` — the real twin of the parquet
        backend's manifest-collapse; target size derived the same way
        (table_bytes / target_files, floored at 32 MB)."""
        self.spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.namespace}.{table}')"
        )
        return self._current_snapshot_id(table)

    def expire_snapshots(self, table: str) -> list[str]:
        before = set(self.snapshot_ids(table))
        self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.namespace}.{table}', retain_last => 1)"
        )
        after = set(self.snapshot_ids(table))
        return sorted(before - after)

    # -- reads -------------------------------------------------------------
    def tables(self) -> list[str]:
        rows = self.spark.sql(
            f"SHOW TABLES IN {self.catalog}.{self.namespace}"
        ).collect()
        return sorted(r["tableName"] for r in rows)

    def _ancestry(self, table: str) -> list:
        """(snapshot_id, parent_id, wave) of the current state's
        ancestors in commit order — rolled-back snapshots stay in the
        ``snapshots`` metadata table until expiry, so filter on
        ``history.is_current_ancestor``."""
        ident = self._ident(table)
        return self.spark.sql(
            f"SELECT s.snapshot_id, s.parent_id, "
            f"s.summary['{_WAVE_PROP}'] AS wave FROM {ident}.snapshots s "
            f"JOIN (SELECT DISTINCT snapshot_id FROM {ident}.history "
            f"WHERE is_current_ancestor) h ON s.snapshot_id = h.snapshot_id "
            f"ORDER BY s.committed_at, s.snapshot_id"
        ).collect()

    def snapshot_ids(self, table: str) -> list[str]:
        if not self.exists(table):
            return []
        return [str(r["snapshot_id"]) for r in self._ancestry(table)]

    def read(
        self,
        table: str,
        as_of: str | None = None,
        empty_schema: T.StructType | None = None,
    ) -> DataFrame:
        if not self.exists(table):
            if empty_schema is None:
                raise ValueError(f"table {table} is empty and no schema given")
            return self.spark.createDataFrame([], empty_schema)
        reader = self.spark.read.format("iceberg")
        if as_of is not None:
            reader = reader.option("snapshot-id", int(as_of))
        return reader.table(self._ident(table))

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._ident(table))


def make_warehouse(
    spark: SparkSession,
    root: str | None = None,
    catalog: str | None = None,
    namespace: str = "docrawl",
) -> "Warehouse | IcebergWarehouse":
    """Backend selector. ``catalog`` given → real Iceberg (raises with
    a clear message when the jars/catalog are missing — no silent
    downgrade of a durability contract); otherwise the parquet
    ``Warehouse`` at ``root``."""
    if catalog is not None:
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                f"Iceberg backend requested (catalog={catalog!r}) but the "
                f"Iceberg Spark runtime jar or spark.sql.catalog.{catalog} "
                f"configuration is missing"
            )
        return IcebergWarehouse(catalog, spark, namespace=namespace)
    if root is None:
        raise ValueError("make_warehouse needs either root= or catalog=")
    return Warehouse(root, spark)
