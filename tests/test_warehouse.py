"""Warehouse (Iceberg-semantics-on-parquet) commit guarantees."""

from __future__ import annotations

import os

from docrawl_spark.sources.storage import Warehouse


def test_append_overwrite_time_travel(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "w"), spark)
    s1 = wh.append("t", spark.range(3).selectExpr("id"))
    s2 = wh.append("t", spark.range(3, 5).selectExpr("id"))
    assert {r["id"] for r in wh.read("t").collect()} == set(range(5))
    # time travel to the first snapshot
    assert {r["id"] for r in wh.read("t", as_of=s1).collect()} == {0, 1, 2}
    # overwrite resets visible state; history remains addressable
    wh.overwrite("t", spark.range(100, 102).selectExpr("id"))
    assert {r["id"] for r in wh.read("t").collect()} == {100, 101}
    assert {r["id"] for r in wh.read("t", as_of=s2).collect()} == set(range(5))


def test_uncommitted_snapshot_is_invisible(spark, tmp_path):
    """A crash between data write and manifest commit must roll back
    cleanly: data dirs without a manifest entry are never read."""
    wh = Warehouse(str(tmp_path / "w2"), spark)
    wh.append("t", spark.range(2).selectExpr("id"))
    # simulate a crashed writer: snapshot dir exists, manifest not updated
    orphan = os.path.join(str(tmp_path / "w2"), "t", "snap-deadbeef0000")
    spark.range(50, 60).selectExpr("id").write.parquet(orphan)
    assert {r["id"] for r in wh.read("t").collect()} == {0, 1}


def test_empty_table_needs_schema(spark, tmp_path):
    import pytest
    from docrawl_spark.sources.schemas import URL_SEEN_SCHEMA

    wh = Warehouse(str(tmp_path / "w3"), spark)
    df = wh.read("missing", empty_schema=URL_SEEN_SCHEMA)
    assert df.count() == 0 and "url_hash" in df.columns
    with pytest.raises(ValueError):
        wh.read("missing2")


def test_unknown_snapshot_id_raises_value_error(spark, tmp_path):
    import pytest

    wh = Warehouse(str(tmp_path / "w6"), spark)
    s1 = wh.append("t", spark.range(2).selectExpr("id"))
    wh.overwrite("t", spark.range(3).selectExpr("id"))
    wh.expire_snapshots("t")
    with pytest.raises(ValueError, match=f"table t has no snapshot '{s1}'"):
        wh.read("t", as_of=s1)
    with pytest.raises(ValueError, match="table t has no snapshot 'nope'"):
        wh.read("t", as_of="nope")


def test_discard_waves_after_undoes_tagged_snapshots(spark, tmp_path):
    """Snapshots committed in a ``wave_commits(w)`` scope carry w; a
    discard drops, in every table, the entries of newer waves (and
    their data dirs) while untagged entries survive."""
    root = str(tmp_path / "w7")
    wh = Warehouse(root, spark)
    for w in range(3):
        with wh.wave_commits(w):
            wh.append("a", spark.range(w, w + 1).selectExpr("id"))
            if w == 2:
                wh.overwrite("b", spark.range(10).selectExpr("id"))
    untagged = wh.append("a", spark.range(100, 101).selectExpr("id"))
    with wh.wave_commits(2):
        wh.append("a", spark.range(200, 201).selectExpr("id"))
    assert wh._wave is None  # the scope closes
    waves = [s.get("wave") for s in wh._load_manifest("a")["snapshots"]]
    assert waves == [0, 1, 2, None, 2]

    dropped = wh.discard_waves_after(1)
    assert sorted(dropped) == ["a", "b"] and len(dropped["a"]) == 2
    assert {r["id"] for r in wh.read("a").collect()} == {0, 1, 100}
    assert wh.snapshot_ids("a")[-1] == untagged
    assert not wh.exists("b") and wh.tables() == ["a", "b"]
    for ids in dropped.values():
        for i in ids:
            assert not os.path.exists(os.path.join(root, "a", f"snap-{i}"))
            assert not os.path.exists(os.path.join(root, "b", f"snap-{i}"))
    assert wh.discard_waves_after(1) == {}


def test_merge_upsert_semantics(spark, tmp_path):
    """MERGE INTO analogue: same-key rows are replaced, new keys
    append, and the merge lands as one atomic snapshot (time travel to
    the pre-merge state still works)."""
    wh = Warehouse(str(tmp_path / "w4"), spark)
    pre = wh.append(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    wh.merge_upsert(
        "t", spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"), ["k"]
    )
    got = {(r["k"], r["v"]) for r in wh.read("t").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    before = {(r["k"], r["v"]) for r in wh.read("t", as_of=pre).collect()}
    assert before == {(1, "a"), (2, "b")}
    # merge into a missing table = plain insert
    wh.merge_upsert("t2", spark.createDataFrame([(9, "z")], "k long, v string"), ["k"])
    assert {(r["k"], r["v"]) for r in wh.read("t2").collect()} == {(9, "z")}


def test_merge_upsert_is_bucket_scoped(spark, tmp_path):
    """A merge must rewrite only the key-buckets it touches: prior
    snapshot files stay byte-identical on disk, and the new snapshot
    holds just the affected buckets' rows — not the whole table."""
    import glob

    from pyspark.sql import functions as F

    from docrawl_spark.sources.storage import _bucket_expr

    wh = Warehouse(str(tmp_path / "w5"), spark)
    base = spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    wh.append("t", base)

    def file_state(root):
        return {
            p: (os.path.getmtime(p), os.path.getsize(p))
            for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        }

    before = file_state(str(tmp_path / "w5"))
    upd = spark.createDataFrame([(7, "SEVEN"), (200, "NEW")], "k long, v string")
    snap = wh.merge_upsert("t", upd, ["k"], n_buckets=16)

    # untouched files: every pre-merge parquet file unchanged on disk
    after = file_state(str(tmp_path / "w5"))
    assert all(after[p] == before[p] for p in before)

    # the merge snapshot carries only the affected buckets' rows
    snap_rows = spark.read.parquet(str(tmp_path / "w5" / "t" / f"snap-{snap}"))
    n_affected_buckets = upd.select(_bucket_expr(["k"], 16)).distinct().count()
    expected_bucket_rows = (
        base.unionByName(upd)
        .join(upd.select("k"), "k", "left_anti")
        .unionByName(upd)
        .where(
            _bucket_expr(["k"], 16).isin(
                [r[0] for r in upd.select(_bucket_expr(["k"], 16)).distinct().collect()]
            )
        )
        .count()
    )
    assert snap_rows.count() == expected_bucket_rows < 101
    assert n_affected_buckets <= 2

    # semantics: replaced + appended + untouched all visible
    got = dict((r["k"], r["v"]) for r in wh.read("t").collect())
    assert got[7] == "SEVEN" and got[200] == "NEW" and got[0] == "v0"
    assert len(got) == 101


def test_merge_upsert_rejects_bad_source(spark, tmp_path):
    """Iceberg MERGE INTO contract: duplicate source keys and NULL keys
    are errors, not silent duplicate accumulation."""
    import pytest

    wh = Warehouse(str(tmp_path / "w6"), spark)
    wh.append("t", spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(ValueError, match="duplicate source keys"):
        wh.merge_upsert(
            "t", spark.createDataFrame([(2, "x"), (2, "y")], "k long, v string"), ["k"]
        )
    with pytest.raises(ValueError, match="NULL"):
        wh.merge_upsert(
            "t", spark.createDataFrame([(None, "x")], "k long, v string"), ["k"]
        )


def test_snapshot_diff_over_time_travel(spark, tmp_path):
    """CDC between two committed snapshots via read(as_of=...): the
    diff classifies exactly the rows the second commit touched."""
    from docrawl_spark.sources.cdc import snapshot_diff
    from docrawl_spark.sources.storage import Warehouse

    wh = Warehouse(str(tmp_path / "wh"), spark)
    s1 = wh.overwrite(
        "pages",
        spark.createDataFrame(
            [("u1", "sigA"), ("u2", "sigB"), ("u3", "sigC")],
            "url string, content_sig string",
        ),
    )
    wh.overwrite(
        "pages",
        spark.createDataFrame(
            # u2 changed, u3 gone, u4 new
            [("u1", "sigA"), ("u2", "sigB2"), ("u4", "sigD")],
            "url string, content_sig string",
        ),
    )
    old = wh.read("pages", as_of=s1)
    new = wh.read("pages")
    got = {
        r["url"]: r["change_type"]
        for r in snapshot_diff(old, new, ["url"], ["content_sig"]).collect()
    }
    assert got == {"u2": "changed", "u3": "removed", "u4": "added"}


def test_snapshot_diff_null_safe_compare(spark):
    """NULL compare values: NULL==NULL is unchanged (dropped);
    NULL -> value and value -> NULL are 'changed'."""
    from docrawl_spark.sources.cdc import snapshot_diff

    old = spark.createDataFrame(
        [("a", None), ("b", None), ("c", "x")], "url string, sig string"
    )
    new = spark.createDataFrame(
        [("a", None), ("b", "y"), ("c", None)], "url string, sig string"
    )
    got = {
        r["url"]: r["change_type"]
        for r in snapshot_diff(old, new, ["url"], ["sig"]).collect()
    }
    assert got == {"b": "changed", "c": "changed"}


def test_priority_banded_frontier_partition_pruned(spark, tmp_path):
    """The persisted priority queue: band filter prunes at the
    DIRECTORY level (PartitionFilters), band assignment is exact on
    the boundaries, and the top-band read returns exactly the high-
    priority rows."""
    from pyspark.sql import functions as F

    from docrawl_spark.operators.ranking import (
        read_top_bands,
        write_priority_banded,
    )
    from docrawl_spark.sources.storage import Warehouse

    frontier = spark.range(1000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 100).cast("long").alias("priority_units"),
    )
    wh = Warehouse(str(tmp_path / "wh"), spark)
    # bands: 0 = [80, inf), 1 = [50, 80), 2 = [20, 50), 3 = rest
    write_priority_banded(frontier, wh, [80, 50, 20])
    top = read_top_bands(wh, max_band=0)
    rows = top.collect()
    assert all(r["priority_units"] >= 80 for r in rows)
    assert len(rows) == 200  # priorities 80..99 x 10 each
    both = read_top_bands(wh, max_band=1)
    assert both.count() == 500  # >= 50
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_band" in plan.split("PartitionFilters", 1)[1][:200]
    # boundary exactness: 79 -> band 1, 80 -> band 0
    bands = {
        r["priority_units"]: r["_band"]
        for r in wh.read("frontier_banded")
        .where(F.col("priority_units").isin(79, 80, 49, 50, 19, 20, 0))
        .collect()
    }
    assert bands == {79: 1, 80: 0, 49: 2, 50: 1, 19: 3, 20: 2, 0: 3}


def test_training_shard_export_deterministic(spark, tmp_path):
    """Shard membership is a pure function of the data: two exports of
    the same rows under different partitionings produce identical
    manifests; a single shard re-reads partition-pruned; the written
    manifest equals the source manifest."""
    from pyspark.sql import functions as F

    from docrawl_spark.datapipe.export import (
        shard_manifest,
        write_training_shards,
    )
    from docrawl_spark.sources.storage import Warehouse

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
    )
    src_manifest = {
        r["shard"]: (r["n_rows"], r["xor_sig"])
        for r in shard_manifest(docs, 8).collect()
    }
    wh1 = Warehouse(str(tmp_path / "w1"), spark)
    wh2 = Warehouse(str(tmp_path / "w2"), spark)
    m1 = {
        r["shard"]: (r["n_rows"], r["xor_sig"])
        for r in write_training_shards(docs.repartition(7), wh1, 8).collect()
    }
    m2 = {
        r["shard"]: (r["n_rows"], r["xor_sig"])
        for r in write_training_shards(docs.coalesce(1), wh2, 8).collect()
    }
    assert m1 == m2 == src_manifest
    assert sum(n for n, _ in m1.values()) == 500
    # single-shard re-read is directory-pruned
    one = wh1.read("training_shards").where(F.col("_shard") == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_shard" in plan.split("PartitionFilters", 1)[1][:200]
    # a corrupted payload changes the signature (the manifest detects it)
    tampered = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 123, F.lit("tampered")).otherwise(
            F.col("text")
        ),
    )
    mt = {
        r["shard"]: (r["n_rows"], r["xor_sig"])
        for r in shard_manifest(tampered, 8).collect()
    }
    assert mt != src_manifest


# ------------------------------------------------------------- CDC apply


def _cdc(spark, base_rows, chg_rows):
    from docrawl_spark.sources.cdc import cdc_apply

    base = spark.createDataFrame(base_rows, "k long, v string")
    chg = spark.createDataFrame(chg_rows, "k long, v string, op string, seq int")
    return {
        r["k"]: r["v"] for r in cdc_apply(base, chg, ["k"], "seq").collect()
    }


def test_cdc_apply_semantics(spark):
    base = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    chg = [
        (2, "b2", "U", 1), (2, "b3", "U", 2),        # stacked updates
        (3, None, "D", 1),                             # delete
        (5, "e", "I", 1), (5, None, "D", 2),           # insert-then-delete
        (6, None, "D", 1), (6, "f", "I", 2),           # delete-then-reinsert
        (7, "g", "U", 1),                              # update absent = upsert
    ]
    got = _cdc(spark, base, chg)
    assert got == {1: "a", 2: "b3", 4: "d", 6: "f", 7: "g"}


def test_cdc_apply_tombstone_wins_equal_seq_and_idempotent(spark):
    base = [(1, "a"), (2, "b")]
    chg = [(1, "a2", "U", 5), (1, None, "D", 5)]  # same seq: D beats U
    got = _cdc(spark, base, chg)
    assert got == {2: "b"}
    # replaying the same log over the resulting state changes nothing
    from docrawl_spark.sources.cdc import cdc_apply

    base_df = spark.createDataFrame(base, "k long, v string")
    chg_df = spark.createDataFrame(chg, "k long, v string, op string, seq int")
    once = cdc_apply(base_df, chg_df, ["k"], "seq")
    twice = cdc_apply(once, chg_df, ["k"], "seq")
    assert sorted((r["k"], r["v"]) for r in twice.collect()) == sorted(
        (r["k"], r["v"]) for r in once.collect()
    )
