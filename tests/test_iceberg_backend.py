"""Backend selector + real-Iceberg readiness: the SAME warehouse
contract exercised against the parquet backend and (jar-gated) the
real Iceberg backend, plus a crawl driven through make_warehouse —
flipping backends must be a constructor change only."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from docrawl_spark.sources.iceberg import (
    IcebergWarehouse,
    iceberg_available,
    make_warehouse,
)
from docrawl_spark.sources.storage import Warehouse


def _exercise_contract(spark, wh) -> None:
    """Append/overwrite/time-travel/merge/exists/snapshot_ids — the
    exact call surface run_crawl and the LSH index builders use."""
    s1 = wh.append("t", spark.range(3).select(F.col("id"), F.lit("a").alias("v")))
    s2 = wh.append("t", spark.range(3, 5).select(F.col("id"), F.lit("b").alias("v")))
    assert wh.exists("t")
    assert wh.read("t").count() == 5
    assert wh.read("t", as_of=s1).count() == 3
    assert wh.snapshot_ids("t")[-1] == s2

    # merge: replace id=0, insert id=9
    src = spark.createDataFrame([(0, "z"), (9, "z")], "id long, v string")
    wh.merge_upsert("t", src, ["id"])
    got = {r["id"]: r["v"] for r in wh.read("t").collect()}
    assert got[0] == "z" and got[9] == "z" and got[4] == "b" and len(got) == 6

    # merge source contract enforced on both backends
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "id long, v string")
    with pytest.raises(ValueError, match="duplicate source keys"):
        wh.merge_upsert("t", dup, ["id"])

    s3 = wh.overwrite("t", spark.range(2).select(F.col("id"), F.lit("c").alias("v")))
    assert wh.read("t").count() == 2
    assert s3 in wh.snapshot_ids("t")

    # wave scope: a discard undoes the newer wave's commits only
    with wh.wave_commits(0):
        kept = wh.append("w", spark.range(2).select(F.col("id")))
    with wh.wave_commits(1):
        wh.append("w", spark.range(5, 7).select(F.col("id")))
        wh.overwrite("w_new", spark.range(1).select(F.col("id")))
    assert wh.read("w").count() == 4
    wh.discard_waves_after(0)
    assert {r["id"] for r in wh.read("w").collect()} == {0, 1}
    assert wh.snapshot_ids("w")[-1] == kept
    assert not wh.exists("w_new")

    # empty-table schema contract
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("x", T.LongType())])
    assert wh.read("nope", empty_schema=schema).count() == 0
    with pytest.raises(ValueError):
        wh.read("nope")


def test_parquet_backend_contract(spark, tmp_path):
    wh = make_warehouse(spark, root=str(tmp_path / "w"))
    assert isinstance(wh, Warehouse)
    _exercise_contract(spark, wh)


def test_iceberg_backend_contract(spark):
    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jars not on the classpath")
    wh = make_warehouse(spark, catalog="docrawl_it", namespace="contract_test")
    assert isinstance(wh, IcebergWarehouse)
    _exercise_contract(spark, wh)


def test_missing_jars_raise_not_downgrade(spark, tmp_path):
    if iceberg_available(spark):
        pytest.skip("Iceberg IS available here; the failure leg is moot")
    with pytest.raises(RuntimeError, match="Iceberg backend requested"):
        make_warehouse(spark, catalog="prod_catalog")
    # and no silent fallback: explicit root still works
    assert isinstance(make_warehouse(spark, root=str(tmp_path / "w")), Warehouse)
    with pytest.raises(ValueError):
        make_warehouse(spark)


def test_crawl_runs_through_factory(spark, tmp_path):
    """The wave loop never branches on backend: run a real crawl with a
    factory-built warehouse and check resume state landed."""
    from docrawl_spark.plans.crawl import run_crawl
    from docrawl_spark.sources.fixtures import fixture_to_dfs, generate_web

    fx = generate_web(seed=13)
    docs, hosts, seeds = fixture_to_dfs(spark, fx)
    wh = make_warehouse(spark, root=str(tmp_path / "wh"))
    run_crawl(spark, docs, hosts, seeds, max_waves=2, warehouse=wh)
    assert wh.exists("url_seen") and wh.exists("crawl_state")
    assert wh.read("url_seen").count() > 0
