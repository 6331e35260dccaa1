from __future__ import annotations

import os

import tracing


def test_union_length_merges_overlaps():
    assert tracing.union_length([]) == 0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(0, 10), (1, 3)]) == 10


def test_span_counters_come_from_its_own_job_group(spark):
    tracer = tracing.Tracer(spark, "t")
    with tracer.span("outer") as outer:
        spark.range(1000).repartition(3).write.mode("overwrite").format("noop").save()
        with tracer.span("inner") as inner:
            spark.range(500).repartition(3).write.mode("overwrite").format("noop").save()
    assert inner.parent == outer.span_id and outer.end >= inner.end
    assert tracer.stage_sums({outer.job_group}).shuffle_write_records == 1000
    assert tracer.stage_sums({inner.job_group}).shuffle_write_records == 500
    groups = {j["group"] for j in tracer.jobs()}
    assert groups == {outer.job_group, inner.job_group}


def test_process_tree_samples_this_process():
    assert os.getpid() in tracing.process_tree(os.getpid())
    assert tracing.tree_pss_mb(os.getpid()) > 0
    assert tracing.tree_cpu_s(os.getpid()) > 0
