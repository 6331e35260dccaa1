"""Bucketed seen-set probe index — the cross-wave scan-reuse path.

The crawl wave (plans/wave.schedule_wave_stages) resolves
seen-ness with a 3-key anti-join whose sides are co-partitioned on
(host_hash, _salt). Within one wave that costs one explicit repartition
per side; ACROSS waves the accumulated seen side was still re-shuffled
every wave — the r3 128M sweep's dominating tail. This module persists
the seen set as a Spark CATALOG table bucketed by (host_hash, _salt)
with ``n_buckets`` equal to the wave's repartition count, so the probe
side arrives PRE-PARTITIONED from disk: the bucketed scan reports the
hash layout, subset co-partitioning (session.get_spark pins
``spark.sql.requireAllClusterKeysForCoPartition=false``) lets the
3-key join consume it, and the anti-join shuffles NEITHER side.

Division of labor vs the Warehouse: ``url_seen`` in the Warehouse
remains the SOURCE OF TRUTH (snapshots, time travel, retirement);
this is the access-path index (same pattern as similarity.py's
IVF partition-pruned index) — append-only per wave, rebuildable from
url_seen at any time, dropped without data loss.

At 10^10-URL scale each bucket holds ~n_seen/n_buckets rows across
one file per wave; ``compact()`` folds a bucket's files back to one
(run it every ~32 waves, exactly like Warehouse.compact). On a real
cluster the same layout is an Iceberg table with a
``bucket(n, host_hash)`` partition transform.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class BucketedSeenIndex:
    """Append-only bucketed (host_hash, _salt) twin of url_seen.

    ``n_salts`` is pinned at creation: the stored ``_salt`` column is
    ``pmod(url_hash, n_salts)`` and must match the wave's salt rule, so
    `schedule_wave(..., n_salts=...)` callers must pass the same value.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int | None = None,
        n_salts: int = 8,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.n_buckets = n_buckets or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        self.n_salts = n_salts
        # catalog entry name derived from the path (bucket METADATA
        # lives in the session catalog; the files live at ``path``) —
        # a full-path hash disambiguates paths whose sanitized tails
        # coincide (two indexes must never share a catalog entry)
        import hashlib

        digest = hashlib.md5(self.path.encode()).hexdigest()[:10]
        self.table = (
            "seen_idx_"
            + re.sub(r"[^A-Za-z0-9_]", "_", self.path)[-64:]
            + "_"
            + digest
        )

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def append(self, delta: DataFrame) -> None:
        """Add (url_hash, host_hash) rows — one wave's fetched set."""
        rows = delta.select(
            "url_hash",
            "host_hash",
            F.pmod(F.col("url_hash"), F.lit(self.n_salts)).alias("_salt"),
        )
        (
            rows.write.mode("append")
            .format("parquet")
            .bucketBy(self.n_buckets, "host_hash", "_salt")
            .option("path", self.path)
            .saveAsTable(self.table)
        )

    def frame(self) -> DataFrame:
        """The probe side for the wave's 3-key anti-join: a bucketed
        scan that already reports HashPartitioning(host_hash, _salt,
        n_buckets). The wave detects the precomputed ``_salt`` column
        and skips its own repartition of this side."""
        return self.spark.table(self.table)

    def rebuild(self, url_seen: DataFrame) -> None:
        """Recreate the index from the source-of-truth url_seen table
        (resume into a warehouse that predates the index, or after a
        retirement shrank the seen set)."""
        self.drop()
        self.append(url_seen)

    def compact(self) -> None:
        """Fold each bucket's per-wave files back to one file per
        bucket (same motive as Warehouse.compact): stage the rows to a
        scratch dir, rebuild the bucketed table from the staging copy,
        drop the staging. (A cache would not survive the DROP TABLE —
        Spark uncaches plans that reference a dropped table — so the
        staging copy is load-bearing, not an optimization.)"""
        import shutil

        tmp = self.path + ".compact-tmp"
        (
            self.frame()
            .select("url_hash", "host_hash", "_salt")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        staged = self.spark.read.parquet(tmp)
        self.drop(keep_files=False)
        (
            staged.write.mode("overwrite")
            .format("parquet")
            .bucketBy(self.n_buckets, "host_hash", "_salt")
            .option("path", self.path)
            .saveAsTable(self.table)
        )
        shutil.rmtree(tmp, ignore_errors=True)

    def drop(self, keep_files: bool = False) -> None:
        if self.exists():
            self.spark.sql(f"DROP TABLE {self.table}")
        if not keep_files:
            import shutil

            shutil.rmtree(self.path, ignore_errors=True)
