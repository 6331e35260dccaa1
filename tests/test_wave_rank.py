"""The wave's global rank (plans/wave.schedule_wave_stages ``ranked``):
one sorted partition of the selected skinny rows, built lazily.

- Building ``schedule_wave`` / ``schedule_wave_stages`` runs no Spark
  job; every job waits for the caller to force the result.
- The rank equals ``operators/ranking.with_global_rank`` over the same
  ``selected`` frame: the same dense total order on
  ``(shiftright(_pack, 5), url_hash)``, at any shuffle-partition count
  and ``rank_start``, with and without a seen set, including requeued
  rows that share the sentinel pack 0 and so tie-break on ``url_hash``.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import host_of_col, url_hash_col
from docrawl_spark.operators.discovery import _DEPTH_BITS
from docrawl_spark.operators.ranking import with_global_rank
from docrawl_spark.plans.wave import schedule_wave, schedule_wave_stages

N_HOSTS = 11


def _wave_inputs(spark):
    """(candidates, hosts, seen): 3,000 link rows over 1,200 urls on 11
    hosts (duplicates, a robots rule, a 20 % seen set) plus 40 requeued
    rows — parent_rank -1, offset 0, depth 0, so all share pack 0 —
    crowded onto two hosts so the budget cut falls among them."""
    links = spark.range(3000).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % N_HOSTS).cast("string"),
            F.lit(".test/p"), (F.col("id") % 1200).cast("string"),
        ).alias("url"),
        F.col("id").alias("parent_rank"),
        (F.col("id") % 29).cast("int").alias("offset"),
        F.lit(1).alias("depth"),
        F.concat(F.lit("parent"), F.col("id").cast("string")).alias("discovered_by"),
    )
    requeued = spark.range(40).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % 2).cast("string"),
            F.lit(".test/requeued"), F.col("id").cast("string"),
        ).alias("url"),
        F.lit(-1).cast("long").alias("parent_rank"),
        F.lit(0).alias("offset"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("discovered_by"),
    )
    cands = links.unionByName(requeued).select(
        url_hash_col("url").alias("url_hash"),
        "url",
        host_of_col("url").alias("host"),
        url_hash_col(host_of_col("url")).alias("host_hash"),
        "depth",
        "parent_rank",
        "offset",
        "discovered_by",
    )
    hosts = spark.range(N_HOSTS).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".test")).alias("host"),
        F.lit(12).alias("budget"),
        F.when(F.col("id") % 4 == 0, F.lit("/p1")).otherwise(F.lit("")).alias("robots_blob"),
    )
    seen = cands.where(F.col("parent_rank") % 5 == 0).select("url_hash", "host_hash")
    return cands, hosts, seen


def _jobs_in(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_wave_build_runs_no_spark_job(spark):
    """Building the wave is pure planning: no persist, no range-sampling
    job, no count collect and no offsets broadcast. Counted in a fresh
    job group, so the status store's retained-job cap cannot hide a job."""
    sc = spark.sparkContext
    cands, hosts, seen = _wave_inputs(spark)
    group = f"wave-build-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "wave build")
    try:
        out = schedule_wave(cands, hosts, seen=seen)
        stages = schedule_wave_stages(cands, hosts, seen=seen)
        assert _jobs_in(sc, group) == 0
        # the counter does see this group's jobs once something forces
        assert stages["ranked"].count() > 0
        assert out.count() > 0
        assert _jobs_in(sc, group) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def test_wave_rank_is_one_skinny_sorted_partition(spark, plan_of):
    """The rank adds exactly one exchange — a user SinglePartition
    repartition of the skinny (url_hash, host_hash, _pack) rows — and
    its window is partitioned (no empty partition spec, which is what
    makes Spark log "No Partition Defined for Window operation!")."""
    cands, hosts, seen = _wave_inputs(spark)
    ranked = schedule_wave_stages(cands, hosts, seen=seen)["ranked"]
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    single = [ln for ln in plan.splitlines() if "Exchange SinglePartition" in ln]
    assert len(single) == 1 and "REPARTITION_BY_NUM" in single[0], plan
    blocks = [
        b for b in plan_of(ranked).split("\n\n")
        if ") Exchange" in b and "SinglePartition" in b
    ]
    assert blocks, plan
    for b in blocks:
        for col in ("url#", "_budget#", "parent_rank#", "offset#"):
            assert col not in b, f"{col} rides the rank exchange:\n{b}"
    assert "windowspecdefinition(_pid" in plan, plan


@pytest.mark.parametrize(
    "n_part,rank_start,with_seen",
    [(1, 37, True), (4, 0, True), (4, 1_000_003, False), (17, 37, True)],
)
def test_wave_rank_equals_global_rank(spark, n_part, rank_start, with_seen):
    cands, hosts, seen = _wave_inputs(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
    try:
        stages = schedule_wave_stages(
            cands, hosts, n_salts=4, rank_col="_r", rank_start=rank_start,
            seen=seen if with_seen else None,
        )
        order = [F.shiftright(F.col("_pack"), _DEPTH_BITS), F.col("url_hash")]
        ref = with_global_rank(
            stages["selected"], order, rank_col="_r", start=rank_start,
            num_partitions=n_part,
        )
        got = sorted(tuple(r) for r in stages["ranked"].select("_r", "url_hash", "_pack").collect())
        want = sorted(tuple(r) for r in ref.select("_r", "url_hash", "_pack").collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got == want
    assert [r[0] for r in got] == list(range(rank_start, rank_start + len(got)))
    # the fixture exercises the url_hash tie-break: several selected
    # requeued rows share pack 0
    assert sum(1 for r in got if r[2] == 0) > 1
    spark.catalog.clearCache()


def test_wave_rank_empty_selection(spark):
    cands, hosts, seen = _wave_inputs(spark)
    stages = schedule_wave_stages(
        cands.where(F.lit(False)), hosts, rank_col="_r", rank_start=5,
        seen=seen,
    )
    assert stages["ranked"].count() == 0
    order = [F.shiftright(F.col("_pack"), _DEPTH_BITS), F.col("url_hash")]
    assert with_global_rank(stages["selected"], order, rank_col="_r", start=5).count() == 0
    spark.catalog.clearCache()
