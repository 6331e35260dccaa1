"""Warehouse and seen-index subclasses the crawl workload hands to
``run_crawl``: every commit is timestamped (the ``crawl_state`` commits
mark wave boundaries) and, when a tracer is given, every call runs in its
own span."""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

from docrawl_spark.sources.seen_index import BucketedSeenIndex
from docrawl_spark.sources.storage import Warehouse


class ObservedWarehouse(Warehouse):
    def __init__(self, root, spark, tracer=None):
        super().__init__(root, spark)
        self.tracer = tracer
        self.commits: list[dict] = []

    def _commit(self, kind, table, df, partition_by):
        span = self.tracer.span(f"storage.commit.{table}") if self.tracer else nullcontext()
        with span:
            snap = getattr(super(), kind)(table, df, partition_by)
        rec = {"table": table, "end": time.time()}
        if self.tracer is not None:
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(os.path.join(self.root, table, f"snap-{snap}"))
                for f in fs if f.endswith(".parquet")
            ]
            rec["files"] = len(files)
            rec["mb"] = sum(os.path.getsize(f) for f in files) / 2**20
        self.commits.append(rec)
        return snap

    def append(self, table, df, partition_by=None):
        return self._commit("append", table, df, partition_by)

    def overwrite(self, table, df, partition_by=None):
        return self._commit("overwrite", table, df, partition_by)


class ObservedSeenIndex(BucketedSeenIndex):
    def __init__(self, spark, path, tracer=None, **kw):
        super().__init__(spark, path, **kw)
        self.tracer = tracer

    def append(self, delta):
        with self.tracer.span("seen_index.append") if self.tracer else nullcontext():
            return super().append(delta)
