"""BucketedSeenIndex: cross-wave scan reuse for the wave's 3-key anti-join
(VERDICT r4 item 5) — the seen side arrives pre-partitioned from a
bucketed catalog table, so the wave anti-join shuffles NEITHER side."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import host_of_col, url_hash_col
from docrawl_spark.sources.seen_index import BucketedSeenIndex


def _mk_seen(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % 13).cast("string"),
            F.lit(".test/p"), F.col("id").cast("string"),
        ).alias("url")
    ).select(
        url_hash_col("url").alias("url_hash"),
        url_hash_col(host_of_col("url")).alias("host_hash"),
    )


def test_index_roundtrip_append_rebuild_compact(spark, tmp_path):
    idx = BucketedSeenIndex(spark, str(tmp_path / "idx"), n_salts=4)
    try:
        assert not idx.exists()
        idx.append(_mk_seen(spark, 0, 500))
        idx.append(_mk_seen(spark, 500, 800))
        assert idx.exists()
        assert idx.frame().count() == 800
        # stored salt matches the wave's rule
        bad = idx.frame().where(
            F.col("_salt") != F.pmod(F.col("url_hash"), F.lit(4))
        )
        assert bad.count() == 0
        idx.compact()
        assert idx.frame().count() == 800
        idx.rebuild(_mk_seen(spark, 0, 100))
        assert idx.frame().count() == 100
    finally:
        idx.drop()
    assert not idx.exists()


def test_fused_antijoin_probes_bucketed_scan_no_seen_exchange(spark, tmp_path):
    """With the index as the seen side, the wave's plan must show
    (a) the seen scan as a BUCKETED read (Bucketed: true) and (b) only
    ONE (host_hash, _salt) exchange in the whole selected-stage plan —
    the candidate side's explicit repartition; the accumulated seen set
    crosses NO exchange at all."""
    from docrawl_spark.plans.wave import schedule_wave_stages

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    idx = BucketedSeenIndex(
        spark, str(tmp_path / "idx2"), n_buckets=n_part, n_salts=4
    )
    try:
        idx.append(_mk_seen(spark, 0, 2000))
        c = spark.range(6000).select(
            F.concat(
                F.lit("https://h"), (F.col("id") % 13).cast("string"),
                F.lit(".test/p"), F.col("id").cast("string"),
            ).alias("url"),
            F.col("id").alias("parent_rank"),
            (F.col("id") % 31).cast("int").alias("offset"),
            F.lit(1).alias("depth"),
            F.lit("x").alias("discovered_by"),
        ).select(
            "*",
            url_hash_col("url").alias("url_hash"),
            host_of_col("url").alias("host"),
            url_hash_col(host_of_col("url")).alias("host_hash"),
        )
        hosts = spark.range(13).select(
            F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".test")).alias("host"),
            F.lit(5).alias("budget"),
            F.lit("").alias("robots_blob"),
        )
        st = schedule_wave_stages(c, hosts, n_salts=4, seen=idx.frame())
        plan = st["selected"]._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        salt_exchanges = [
            ln for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln and "_salt" in ln
        ]
        assert len(salt_exchanges) == 1, plan  # candidate side only
        # correctness: every unseen candidate survives, every seen one
        # is dropped
        got = {r["url_hash"] for r in st["unseen"].collect()}
        seen_hashes = {r["url_hash"] for r in _mk_seen(spark, 0, 2000).collect()}
        all_hashes = {r["url_hash"] for r in c.select("url_hash").collect()}
        assert got == all_hashes - seen_hashes
    finally:
        idx.drop()


def test_run_crawl_with_seen_index_matches_simulator(spark, tmp_path):
    """run_crawl(seen_index=...) visits exactly what the plain engine
    and the simulator visit, across resume, and the index stays in sync
    with url_seen."""
    from docrawl_spark.plans.crawl import run_crawl
    from docrawl_spark.plans.simulator import simulate_crawl
    from docrawl_spark.sources.fixtures import fixture_to_dfs, generate_web
    from docrawl_spark.sources.storage import Warehouse

    fx = generate_web(seed=555)
    sim = simulate_crawl(fx.documents_raw, fx.hosts, fx.seeds, max_waves=5)
    docs, hosts, seeds = fixture_to_dfs(spark, fx)

    wh = Warehouse(str(tmp_path / "wh"), spark)
    idx = BucketedSeenIndex(spark, str(tmp_path / "sidx"), n_salts=8)
    try:
        res = run_crawl(
            spark, docs, hosts, seeds, max_waves=5, warehouse=wh,
            collect_visits=True, seen_index=idx,
        )
        assert res.visits == sim.visits
        assert res.seen_urls == sim.seen
        # index ≡ url_seen after the run
        n_seen = wh.read("url_seen").count()
        assert idx.frame().count() == n_seen

        # resume rebuilds the index and continues identically
        wh2 = Warehouse(str(tmp_path / "wh2"), spark)
        idx2 = BucketedSeenIndex(spark, str(tmp_path / "sidx2"), n_salts=8)
        try:
            run_crawl(
                spark, docs, hosts, seeds, max_waves=2, warehouse=wh2,
                seen_index=idx2,
            )
            res2 = run_crawl(
                spark, docs, hosts, seeds, max_waves=5, warehouse=wh2,
                resume=True, collect_visits=True, seen_index=idx2,
            )
            assert res2.visits == sim.visits
            assert res2.seen_urls == sim.seen
        finally:
            idx2.drop()
    finally:
        idx.drop()


def test_run_crawl_rejects_salt_mismatch(spark, tmp_path):
    """An index whose stored _salt uses a different n_salts than the
    crawl would silently fail the 3-key anti-join equality and
    re-crawl seen urls — run_crawl must refuse the combination."""
    from docrawl_spark.plans.crawl import run_crawl
    from docrawl_spark.sources.fixtures import fixture_to_dfs, generate_web
    from docrawl_spark.sources.storage import Warehouse

    fx = generate_web(seed=556)
    docs, hosts, seeds = fixture_to_dfs(spark, fx)
    idx = BucketedSeenIndex(spark, str(tmp_path / "mm"), n_salts=4)
    with pytest.raises(ValueError, match="n_salts"):
        run_crawl(
            spark, docs, hosts, seeds, max_waves=1,
            warehouse=Warehouse(str(tmp_path / "wh"), spark),
            n_salts=8, seen_index=idx,
        )
