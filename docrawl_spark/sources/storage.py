"""Snapshot-versioned warehouse — the sandbox stand-in for Iceberg.

Production target is Iceberg (``df.writeTo(...).append()``, ``MERGE
INTO``, snapshot time-travel as the checkpoint mechanism — SURVEY.md
§1.2). The sandbox image has no Iceberg jars, so this module implements
the same *commit semantics* on plain parquet:

- a table = a directory of immutable snapshot delta-dirs + an atomic
  JSON manifest (write-temp + rename) naming the committed snapshots;
- ``append`` = write a new delta-dir, commit manifest;
- ``overwrite`` = write a new delta-dir, commit manifest with only it;
- ``read(as_of=...)`` = union of delta-dirs committed up to that
  snapshot — time travel;
- readers never see uncommitted data (crash between write and manifest
  rename = clean rollback);
- ``wave_commits(w)`` tags every snapshot committed inside it with the
  crawl wave ``w`` (a manifest-entry field, Iceberg's snapshot summary
  property), and ``discard_waves_after(w)`` drops the entries tagged
  with a newer wave from every table — so a wave whose commits span
  several tables is undone as a whole after a crash, which is the
  wave-checkpoint guarantee the crawl loop needs.

Swapping this for real Iceberg is a constructor change, not a pipeline
change: every caller goes through Warehouse.append/overwrite/read.
Change data capture between snapshots (``snapshot_diff``,
``cdc_apply``) lives in ``sources/cdc.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _bucket_expr(key_cols: list[str], n_buckets: int) -> Column:
    """Stable key→bucket mapping for merge scoping (Iceberg
    ``bucket(n, key)`` analogue): pmod(xxhash64(keys), n) ∈ [0, n)."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)).cast("int")


def validate_merge_source(df: DataFrame, key_cols: list[str], table: str) -> None:
    """Iceberg MERGE INTO's source contract, enforced eagerly for both
    backends: duplicate source keys would be "multiple rows match";
    NULL keys could never be retired by the equality match and would
    silently accumulate duplicates."""
    null_flags = [
        F.max(F.col(k).isNull().cast("int")).alias(f"_null_{k}") for k in key_cols
    ]
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(k) for k in key_cols]).alias("nd"),
        *null_flags,
    ).first()
    if any(stats[f"_null_{k}"] for k in key_cols):
        raise ValueError(f"merge_upsert({table}): NULL in key columns {key_cols}")
    if stats["n"] != stats["nd"]:
        raise ValueError(
            f"merge_upsert({table}): duplicate source keys "
            f"({stats['n']} rows, {stats['nd']} distinct {key_cols})"
        )


class Warehouse:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        self._wave: int | None = None
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _mpath(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._mpath(table)
        if not os.path.exists(p):
            return {"snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, table: str, manifest: dict) -> None:
        p = self._mpath(table)
        tmp = p + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, p)  # atomic commit

    def _commit_snapshot(self, table: str, entry: dict) -> str:
        """Add one snapshot entry to ``table``'s manifest, tagged with
        the open wave scope's wave (if any)."""
        if self._wave is not None:
            entry["wave"] = self._wave
        m = self._load_manifest(table)
        m["snapshots"].append(entry)
        self._commit_manifest(table, m)
        return entry["id"]

    def _snap_path(self, table: str, snap_id: str) -> str:
        return os.path.join(self.root, table, f"snap-{snap_id}")

    # -- wave scope --------------------------------------------------------
    @contextmanager
    def wave_commits(self, wave: int):
        """Tag every snapshot committed inside the block with ``wave``
        — the crawl opens one scope per wave, so
        :meth:`discard_waves_after` can undo a half-committed wave."""
        prev, self._wave = self._wave, wave
        try:
            yield
        finally:
            self._wave = prev

    def discard_waves_after(self, wave: int) -> dict[str, list[str]]:
        """Drop, in every table, the snapshot entries tagged with a
        wave newer than ``wave`` (untagged entries survive) and delete
        their data dirs. Returns ``{table: [discarded ids]}``. As in
        :meth:`expire_snapshots`, each manifest commits before its dirs
        are deleted."""
        out: dict[str, list[str]] = {}
        for table in self.tables():
            m = self._load_manifest(table)
            drop = [s for s in m["snapshots"] if s.get("wave", -1) > wave]
            if not drop:
                continue
            m["snapshots"] = [s for s in m["snapshots"] if s not in drop]
            self._commit_manifest(table, m)
            for s in drop:
                shutil.rmtree(self._snap_path(table, s["id"]), ignore_errors=True)
            out[table] = [s["id"] for s in drop]
        return out

    # -- writes ------------------------------------------------------------
    def _write_snapshot(
        self, table: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        snap_id = uuid.uuid4().hex[:12]
        path = self._snap_path(table, snap_id)
        w = df.write.mode("errorifexists")
        if partition_by:
            # hive-style partition dirs: reads filter on the partition
            # column via PartitionFilters (directory pruning, no data IO
            # for pruned partitions) — the Iceberg partition-transform
            # stand-in
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return snap_id

    def append(
        self, table: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        snap_id = self._write_snapshot(table, df, partition_by)
        return self._commit_snapshot(table, {"id": snap_id, "mode": "append"})

    def overwrite(
        self, table: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        snap_id = self._write_snapshot(table, df, partition_by)
        return self._commit_snapshot(table, {"id": snap_id, "mode": "overwrite"})

    def merge_upsert(
        self, table: str, df: DataFrame, key_cols: list[str], n_buckets: int = 16
    ) -> str:
        """``MERGE INTO`` semantics (SURVEY.md §1.2: the url_seen upsert
        on real Iceberg): rows in ``df`` replace current rows with the
        same key, new keys append.

        Bucket-scoped, like Iceberg's copy-on-write MERGE with bucket
        partitioning: the new snapshot contains ONLY the rows of the
        key-buckets (``pmod(xxhash64(keys), n_buckets)``) that ``df``
        touches; untouched buckets' files are never rewritten — the
        manifest records which buckets this snapshot replaces and
        ``read`` masks those buckets out of older snapshots. A merge of
        k keys is O(table/n_buckets · k') work, not O(table).

        Faithful to Iceberg MERGE INTO's source contract: raises on
        duplicate source keys ("multiple rows match") and on NULL keys
        (which the equality anti-join could never retire, silently
        accumulating duplicates). Readers see pre- or post-merge state,
        never partial (same atomic-manifest commit as append/overwrite).
        """
        from pyspark.sql import functions as F

        validate_merge_source(df, key_cols, table)
        if not self.exists(table):
            return self.overwrite(table, df)
        bexpr = _bucket_expr(key_cols, n_buckets)
        affected = sorted(
            r["_b"] for r in df.select(bexpr.alias("_b")).distinct().collect()
        )
        cur = self.read(table).where(bexpr.isin(affected))
        kept = cur.join(df.select(*key_cols), key_cols, "left_anti")
        merged = kept.unionByName(df)
        snap_id = self._write_snapshot(table, merged)
        return self._commit_snapshot(
            table,
            {
                "id": snap_id,
                "mode": "merge",
                "key_cols": list(key_cols),
                "n_buckets": n_buckets,
                "buckets": affected,
            },
        )

    # -- maintenance -------------------------------------------------------
    def compact(self, table: str, target_files: int = 8) -> str:
        """Iceberg ``rewrite_data_files`` analogue: materialize the
        table's CURRENT state into one fresh overwrite snapshot with
        ``target_files`` files, committing atomically. A long-running
        crawl appends a delta-dir per wave plus bucket-rewrites per
        merge; after hundreds of waves the read path unions hundreds of
        snapshot dirs of small files and planning cost (file listing,
        row-group headers) dominates the scan. Compaction collapses the
        manifest replay to a single snapshot; older snapshots stay on
        disk so time travel to pre-compaction ids keeps working until
        :meth:`expire_snapshots` garbage-collects them.

        coalesce (not repartition) — file-count reduction needs no
        shuffle; at cluster scale pick target_files ≈ table_bytes /
        512 MB."""
        df = self.read(table).coalesce(max(1, target_files))
        snap_id = self._write_snapshot(table, df)
        return self._commit_snapshot(
            table, {"id": snap_id, "mode": "overwrite", "compacted": True}
        )

    def expire_snapshots(self, table: str) -> list[str]:
        """Iceberg ``expire_snapshots`` analogue: drop every manifest
        entry STRICTLY BEFORE the latest overwrite barrier (those
        snapshots are shadowed — no current read touches them; only
        time travel could) and delete their data dirs. Returns the
        expired snapshot ids. Manifest commit happens BEFORE dir
        deletion so a crash mid-GC leaves orphan dirs (harmless,
        re-collectable), never a manifest pointing at deleted data."""
        m = self._load_manifest(table)
        snaps = m["snapshots"]
        barrier = max(
            (i for i, s in enumerate(snaps) if s["mode"] == "overwrite"),
            default=None,
        )
        if barrier is None or barrier == 0:
            return []
        expired, kept = snaps[:barrier], snaps[barrier:]
        m["snapshots"] = kept
        self._commit_manifest(table, m)
        ids = []
        for s in expired:
            shutil.rmtree(self._snap_path(table, s["id"]), ignore_errors=True)
            ids.append(s["id"])
        return ids

    # -- reads -------------------------------------------------------------
    def tables(self) -> list[str]:
        """Names of the tables with a manifest under ``root``."""
        return sorted(
            t for t in os.listdir(self.root) if os.path.exists(self._mpath(t))
        )

    def snapshot_ids(self, table: str) -> list[str]:
        return [s["id"] for s in self._load_manifest(table)["snapshots"]]

    def read(
        self,
        table: str,
        as_of: str | None = None,
        empty_schema: T.StructType | None = None,
    ) -> DataFrame:
        """Current (or time-travel ``as_of`` snapshot id) table state."""
        snaps = self._load_manifest(table)["snapshots"]
        if as_of is not None:
            idx = next((i for i, s in enumerate(snaps) if s["id"] == as_of), None)
            if idx is None:
                raise ValueError(
                    f"table {table} has no snapshot {as_of!r} (never "
                    "committed, expired or discarded)"
                )
            snaps = snaps[: idx + 1]
        # replay: overwrite resets; append adds; merge adds AND masks its
        # key-buckets out of every earlier live snapshot (those buckets'
        # rows were rewritten into the merge snapshot)
        live: list[tuple[dict, list[dict]]] = []  # (snapshot, bucket-masks)
        for s in snaps:
            if s["mode"] == "overwrite":
                live = [(s, [])]
            elif s["mode"] == "merge":
                for _, masks in live:
                    masks.append(s)
                live.append((s, []))
            else:
                live.append((s, []))
        if not live:
            if empty_schema is None:
                raise ValueError(f"table {table} is empty and no schema given")
            return self.spark.createDataFrame([], empty_schema)
        unmasked = [s for s, masks in live if not masks]
        masked = [(s, masks) for s, masks in live if masks]
        parts = []
        if unmasked:
            paths = [self._snap_path(table, s["id"]) for s in unmasked]
            parts.append(self.spark.read.parquet(*paths))
        for s, masks in masked:
            df = self.spark.read.parquet(self._snap_path(table, s["id"]))
            for mk in masks:
                df = df.where(
                    ~_bucket_expr(mk["key_cols"], mk["n_buckets"]).isin(mk["buckets"])
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def exists(self, table: str) -> bool:
        return bool(self._load_manifest(table)["snapshots"])
