"""A wave commits as a unit: a crash at any of its commits resumes to
the simulator's crawl, the wave plan runs once, and a crawl leaves
exactly its five tables and no cached frame (plans/crawl.run_crawl)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docrawl_spark.operators.fetch import synthetic_fetch
from docrawl_spark.operators.scan import scan_documents
from docrawl_spark.plans.crawl import run_crawl
from docrawl_spark.plans.simulator import simulate_crawl
from docrawl_spark.sources.fixtures import fixture_to_dfs, generate_web
from docrawl_spark.sources.seen_index import BucketedSeenIndex
from docrawl_spark.sources.storage import Warehouse

MAX_WAVES = 6
CRASH_AT_CALL = 3  # the 3rd commit of a table is wave 2's


class _Crash(RuntimeError):
    pass


class _CrashingWarehouse(Warehouse):
    """Raises instead of committing the ``CRASH_AT_CALL``-th write of
    ``table`` — the process dies before that commit lands."""

    def __init__(self, root, spark, table):
        super().__init__(root, spark)
        self.table, self.calls = table, 0

    def _maybe_crash(self, table):
        if table == self.table:
            self.calls += 1
            if self.calls == CRASH_AT_CALL:
                raise _Crash(f"crash before commit {self.calls} of {table}")

    def append(self, table, df, partition_by=None):
        self._maybe_crash(table)
        return super().append(table, df, partition_by)

    def overwrite(self, table, df, partition_by=None):
        self._maybe_crash(table)
        return super().overwrite(table, df, partition_by)


class _CrashingIndex(BucketedSeenIndex):
    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.calls = 0

    def append(self, delta):
        self.calls += 1
        if self.calls == CRASH_AT_CALL:
            raise _Crash("crash before seen-index append")
        return super().append(delta)


@pytest.fixture(scope="module")
def web(spark):
    fx = generate_web(seed=42)
    sim = simulate_crawl(fx.documents_raw, fx.hosts, fx.seeds, max_waves=MAX_WAVES)
    return fx, sim


@pytest.mark.parametrize(
    "crash_at, use_seen_index",
    [
        ("fetch_log", False),
        ("url_seen", False),
        ("url_seen", True),
        ("seen_index", True),
        ("quarantine", False),
        ("frontier_pending", False),
        ("crawl_state", False),
    ],
)
def test_crash_at_any_commit_resumes_exactly(spark, web, tmp_path, crash_at, use_seen_index):
    fx, sim = web
    docs, hosts, seeds = fixture_to_dfs(spark, fx)
    root, index_path = str(tmp_path / "wh"), str(tmp_path / "seen_index")
    crashing_index = None
    if use_seen_index:
        cls = _CrashingIndex if crash_at == "seen_index" else BucketedSeenIndex
        crashing_index = cls(spark, index_path)
    try:
        with pytest.raises(_Crash):
            run_crawl(
                spark, docs, hosts, seeds, max_waves=MAX_WAVES,
                warehouse=_CrashingWarehouse(root, spark, crash_at),
                seen_index=crashing_index,
            )
        wh = Warehouse(root, spark)
        # the crash fell in wave 2: waves 0-1 finished
        assert [r["wave"] for r in wh.read("crawl_state").orderBy("wave").collect()] == [0, 1]
        index = BucketedSeenIndex(spark, index_path) if use_seen_index else None
        res = run_crawl(
            spark, docs, hosts, seeds, max_waves=MAX_WAVES, warehouse=wh,
            resume=True, collect_visits=True, seen_index=index,
        )
        assert res.visits == sim.visits
        assert res.seen_urls == sim.seen
        dup = res.fetch_log.groupBy("wave", "url_hash").count().where(F.col("count") > 1)
        assert dup.count() == 0
        assert wh.read("url_seen").count() == len(sim.seen)
        if index is not None:
            assert index.frame().count() == len(sim.seen)
    finally:
        if use_seen_index:
            BucketedSeenIndex(spark, index_path).drop()


class _WaveMarks(Warehouse):
    """Calls ``mark()`` at each crawl_state commit (a finished wave)."""

    def __init__(self, root, spark, mark):
        super().__init__(root, spark)
        self.mark = mark

    def append(self, table, df, partition_by=None):
        snap = super().append(table, df, partition_by)
        if table == "crawl_state":
            self.mark()
        return snap


def test_wave_plan_runs_once_per_wave(spark, tmp_path):
    """A fetcher whose input passes a counting Python UDF: the UDF runs
    exactly once per fetched row in every wave — only the fetch_log
    write executes the wave plan."""
    fx = generate_web(seed=42)
    docs, hosts, seeds = fixture_to_dfs(spark, fx)
    docs_clean = scan_documents(docs)
    acc = spark.sparkContext.accumulator(0)

    def count_row(url):
        acc.add(1)
        return True

    # nondeterministic: the optimizer may not push it below the rank
    counted = F.udf(count_row, "boolean").asNondeterministic()

    def fetcher(selected):
        return synthetic_fetch(selected.where(counted("url")), docs_clean)

    marks = []
    wh = _WaveMarks(str(tmp_path / "wh"), spark, lambda: marks.append(acc.value))
    res = run_crawl(
        spark, docs, hosts, seeds, max_waves=4, warehouse=wh,
        collect_visits=True, fetcher=fetcher,
    )
    per_wave = [sum(1 for w, _ in res.visits if w == k) for k in range(len(marks))]
    assert len(marks) == 4 and all(per_wave)
    assert [b - a for a, b in zip([0, *marks], marks)] == per_wave
    assert acc.value == len(res.visits)


def test_crawl_writes_five_tables_and_releases_its_cache(spark, tmp_path):
    fx = generate_web(seed=42)
    docs, hosts, seeds = fixture_to_dfs(spark, fx)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    wh = Warehouse(str(tmp_path / "wh"), spark)
    res = run_crawl(spark, docs, hosts, seeds, max_waves=3, warehouse=wh)
    assert cache.isEmpty(), "run_crawl left a persisted frame behind"
    assert wh.tables() == [
        "crawl_state", "fetch_log", "frontier_pending", "quarantine", "url_seen",
    ]
    # fetch_log carries the whole fetched row
    assert {"spans", "headers", "cookies", "json_requests", "wave",
            "visit_rank", "fetched_at", "partition_id"} <= set(res.fetch_log.columns)
    # every snapshot carries its wave; crawl_state holds one row per wave
    for t in wh.tables():
        assert all("wave" in s for s in wh._load_manifest(t)["snapshots"]), t
    assert wh.read("crawl_state").count() == 3
