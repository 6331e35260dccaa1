"""Bloom seen-set prefilter: soundness (NO false negatives, ever) and
usefulness (fpp in the expected ballpark)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from docrawl_spark.functions.bloom import Bloom, build_bloom
from docrawl_spark.operators.dedup import anti_join_seen


@settings(max_examples=100, deadline=None)
@given(
    keys=st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200),
    probes=st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=50),
)
def test_no_false_negatives(keys, probes):
    bloom = Bloom.for_items(max(len(keys), 1))
    if keys:
        bloom.add(np.array(keys, dtype=np.int64))
    got = bloom.contains(np.array(keys + probes, dtype=np.int64))
    # every inserted key must be reported present
    assert got[: len(keys)].all() or not keys


def test_fpp_reasonable():
    rng = np.random.default_rng(7)
    inserted = rng.integers(-(2**62), 2**62, size=50_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, size=50_000, dtype=np.int64) + 2**62
    bloom = Bloom.for_items(len(inserted), fpp=0.03)
    bloom.add(inserted)
    assert bloom.contains(inserted).all()
    fp = bloom.contains(other).mean()
    assert fp < 0.06, fp  # ~2x slack over nominal 3%


def test_roundtrip_bytes():
    bloom = Bloom.for_items(1000)
    keys = np.arange(1000, dtype=np.int64) * 7919
    bloom.add(keys)
    again = Bloom.from_bytes(bloom.to_bytes())
    assert again.contains(keys).all()
    assert (again.words == bloom.words).all()


def test_distributed_build_and_anti_join(spark):
    seen = spark.range(0, 5000).selectExpr(
        "xxhash64(cast(id as string)) as url_hash", "cast(id as string) as url",
        "0 as first_wave",
    ).repartition(8)
    cand = spark.range(2500, 7500).selectExpr(
        "xxhash64(cast(id as string)) as url_hash", "cast(id as string) as url"
    )
    blob = build_bloom(seen, "url_hash", expected_items=5000)
    with_bloom = anti_join_seen(cand, seen, blob)
    without = anti_join_seen(cand, seen, None)
    a = {r["url"] for r in with_bloom.collect()}
    b = {r["url"] for r in without.collect()}
    assert a == b == {str(i) for i in range(5000, 7500)}


def test_windowed_seen_filter_expiry():
    """Sliding-window membership: no false negatives within the window,
    O(1) whole-epoch expiry once an epoch falls out."""
    import numpy as np

    from docrawl_spark.functions.bloom import WindowedSeenFilter

    w = WindowedSeenFilter(window=3, shard_items=1000, fpp=0.01)
    epochs = {}
    rng = np.random.default_rng(5)
    for e in range(6):
        keys = rng.integers(0, 2**62, size=200)
        epochs[e] = keys
        w.add(keys)
        # everything within the live window must be present
        for le in w.live_epochs():
            assert w.contains(epochs[le]).all()
        if e < 5:
            w.advance()
    assert w.live_epochs() == [3, 4, 5]
    # epoch 0-2 keys are expired: mostly absent (only fpp survivors)
    old = np.concatenate([epochs[0], epochs[1], epochs[2]])
    frac = w.contains(old).mean()
    assert frac < 0.1, frac
    # current-window keys still all present
    assert w.contains(np.concatenate([epochs[3], epochs[4], epochs[5]])).all()


def test_sql_bloom_twin_no_false_negatives_and_calibratable_fpr(spark):
    """The relational Bloom twin: every member probes positive
    (structural — its own positions are set), non-members show a
    false-positive rate in the textbook band for m=256, k=3, n=60
    (expected (1 - e^(-kn/m))^3 ~ 0.12), and the membership frame is
    deterministic across partitionings."""
    from pyspark.sql import functions as F

    from docrawl_spark.functions.bloom import sql_bloom_membership

    universe = spark.range(0, 400).select(
        F.concat(F.lit("https://h.test/p/"), F.col("id").cast("string")).alias(
            "url"
        ),
        (F.col("id") < 60).alias("member"),
    )
    members = universe.where("member").select("url")
    out = sql_bloom_membership(members, universe, "url", m_bits=256, k=3)
    joined = {
        r["url"]: (r["member"], r["bloom_positive"])
        for r in out.join(universe, "url").collect()
    }
    assert len(joined) == 400
    n_fp = 0
    for _url, (member, positive) in joined.items():
        if member:
            assert positive == 1  # no false negatives, ever
        else:
            n_fp += positive
    # 340 non-members at ~12% expected FPR: demand a non-degenerate,
    # sane band rather than a point (hash-deterministic, so stable)
    assert 5 <= n_fp <= 120

    again = sql_bloom_membership(
        members.repartition(7), universe.repartition(5), "url", m_bits=256, k=3
    )
    assert {
        (r["url"], r["bloom_positive"]) for r in again.collect()
    } == {(u, p) for u, (_m, p) in joined.items()}


def test_anti_join_hint_gated_on_prepartitioned(spark):
    """The generic anti-join carries no join-strategy hint (ADVICE r5):
    a hint would override the auto-broadcast threshold, so with a tiny
    seen set Spark must stay free to pick a broadcast-hash anti-join
    (zero candidate-side exchange)."""
    cand = spark.range(0, 10_000).selectExpr(
        "xxhash64(cast(id as string)) as url_hash", "cast(id as string) as url"
    )
    seen = spark.range(0, 50).selectExpr(
        "xxhash64(cast(id as string)) as url_hash"
    )
    generic = anti_join_seen(cand, seen, None)
    plan_g = generic._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_g, plan_g
    assert "ShuffledHashJoin" not in plan_g, plan_g
    assert {r["url"] for r in generic.collect()} == {
        str(i) for i in range(50, 10_000)
    }
