"""Sketches (HLL, count-min) + BM25 search: estimator quality,
mergeability, bound guarantees, and the scale-shaped plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docrawl_spark.datapipe.search import bm25_topk
from docrawl_spark.functions.sketches import (
    cms_counters,
    cms_estimate,
    hll_estimate,
    hll_registers,
)


def _keys(spark, n, prefix="k"):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("key")
    )


def test_hll_estimate_tracks_cardinality(spark):
    """p=6 HLL has ~13% theoretical stderr; require |est-n|/n < 0.3 at
    three decades — and exact determinism (same input → same sketch)."""
    for n in (100, 1000, 10000):
        reg = hll_registers(_keys(spark, n), "key", p=6)
        est = hll_estimate(reg, p=6).first()["estimate_units"]
        assert abs(est - n) / n < 0.30, f"n={n} est={est}"


def test_hll_registers_merge_by_max(spark):
    """Union sketch == bucket-wise MAX of part sketches — the property
    that makes the summary mergeable across waves/executors."""
    a, b = _keys(spark, 400, "a"), _keys(spark, 400, "b")
    whole = hll_registers(a.union(b), "key", p=6)
    parts = (
        hll_registers(a, "key", p=6)
        .union(hll_registers(b, "key", p=6))
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    got = {r["bucket"]: r["max_rho"] for r in whole.collect()}
    merged = {r["bucket"]: r["max_rho"] for r in parts.collect()}
    assert got == merged


def test_hll_duplicates_do_not_move_estimate(spark):
    """Cardinality, not count: replicating every key 5x leaves the
    register table identical."""
    base = _keys(spark, 500)
    dup = base.crossJoin(spark.range(5).select(F.lit(1).alias("_x"))).select("key")
    assert (
        hll_registers(base, "key", p=6).exceptAll(
            hll_registers(dup, "key", p=6)
        ).count()
        == 0
    )


def test_cms_upper_bound_and_hot_key(spark):
    """CMS never under-counts, and the planted heavy hitter's estimate
    is exact-ish (width 1024 >> 30 keys → no collisions)."""
    hot = spark.range(900).select(F.lit("hot.test").alias("host"))
    cold = (
        spark.range(300)
        .select(F.concat(F.lit("c"), (F.col("id") % 29).cast("string"),
                         F.lit(".test")).alias("host"))
    )
    df = hot.union(cold)
    counters = cms_counters(df, "host", depth=4, width=1024)
    cand = df.select("host").distinct()
    est = {
        r["host"]: r["cm_estimate"]
        for r in cms_estimate(counters, cand, "host").collect()
    }
    truth = {r["host"]: r["cnt"] for r in
             df.groupBy("host").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for h, t in truth.items():
        assert est[h] >= t, f"{h}: CMS {est[h]} < true {t}"
    assert est["hot.test"] == 900
    assert max(est.values()) == est["hot.test"]


def test_cms_counters_sketch_sized(spark):
    """The counter table is bounded by d·w regardless of input size —
    the property that makes it shippable between waves."""
    df = _keys(spark, 20000)
    assert cms_counters(df, "key", depth=4, width=64).count() <= 4 * 64


def test_sketch_plans_are_hashaggregates(spark):
    """Both sketches build via HashAggregate (map-side combinable) —
    no windows, no cartesian."""
    for plan_df in (
        hll_registers(_keys(spark, 100), "key", p=6),
        cms_counters(_keys(spark, 100), "key"),
    ):
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan
        assert "Window" not in plan and "CartesianProduct" not in plan


def test_bm25_ranks_term_density(spark):
    """A doc stuffed with query terms outranks a diluted one; docs
    with zero hits never appear; k1 saturation keeps tf growth
    sublinear."""
    rows = [
        (0, "spark spark spark hash"),                   # dense hits
        (1, "spark hash " + "filler " * 40),             # diluted
        (2, "table row scan value"),                     # no hits
        (3, "spark " * 30),                              # tf saturation
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(docs, ["spark", "hash"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 2 not in ids
    score = {r["doc_id"]: r["score_units"] for r in out}
    assert score[0] > score[1]
    # 30 repeats of one term must NOT beat two distinct terms at
    # reasonable density (BM25 tf saturation + idf sum)
    assert score[0] > score[3]


def test_bm25_deterministic_and_integer(spark):
    docs = spark.createDataFrame(
        [(i, f"spark hash value w{i % 7} merge") for i in range(50)],
        "doc_id long, text string",
    )
    a = bm25_topk(docs, ["spark", "merge"], k=5).collect()
    b = bm25_topk(docs, ["spark", "merge"], k=5).collect()
    assert a == b
    assert all(isinstance(r["score_units"], int) for r in a)


def test_log2_histogram_bounds_and_merge(spark):
    """Every value lies inside its bucket's [floor, ceil]; relative
    width <= 1/8 above the sub-bucket threshold; counters merge by
    addition (union hist == summed part hists)."""
    from docrawl_spark.functions.sketches import log2_histogram

    vals = spark.range(1, 5000).select((F.col("id") * 7 % 4096 + 1).alias("v"))
    hist = log2_histogram(vals, "v")
    rows = hist.collect()
    # reconstruct membership: every value must fall in exactly one bucket
    for r in rows:
        assert r["bucket_floor"] <= r["bucket_ceil"]
        if r["msb"] > 3:
            width = r["bucket_ceil"] - r["bucket_floor"] + 1
            assert width * 8 <= 2 ** r["msb"]
    total = sum(r["cnt"] for r in rows)
    assert total == 4999
    # merge = counter addition
    a = vals.where(F.col("v") % 2 == 0)
    b = vals.where(F.col("v") % 2 == 1)
    merged = (
        log2_histogram(a, "v")
        .unionByName(log2_histogram(b, "v"))
        .groupBy("msb", "sub", "bucket_floor", "bucket_ceil")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r["msb"], r["sub"]): r["cnt"] for r in rows}
    got = {(r["msb"], r["sub"]): r["cnt"] for r in merged.collect()}
    assert whole == got


def test_histogram_percentiles_certified(spark):
    """The percentile interval CONTAINS the exact nearest-rank value."""
    from docrawl_spark.functions.sketches import (
        histogram_percentile_bounds,
        log2_histogram,
    )

    vals = spark.range(1, 2001).select((F.col("id") * 13 % 9973 + 1).alias("v"))
    hist = log2_histogram(vals, "v")
    bounds = {
        r["percentile"]: (r["lo"], r["hi"])
        for r in histogram_percentile_bounds(hist, [50, 95, 99]).collect()
    }
    exact = sorted(r["v"] for r in vals.collect())
    n = len(exact)
    for p, (lo, hi) in bounds.items():
        true = exact[-(-p * n // 100) - 1]  # nearest-rank
        assert lo <= true <= hi, f"p{p}: {true} not in [{lo},{hi}]"


def test_incremental_rollup_equals_recompute(spark):
    """old rollup ⊕ CDC adjustments == direct rollup of the new state —
    including group birth (all-added host) and group death (all-removed
    host)."""
    from docrawl_spark.operators.rollup import (
        apply_rollup_delta,
        rollup_adjustments,
        rollup_from_state,
    )
    from docrawl_spark.sources.cdc import snapshot_diff

    old = spark.createDataFrame(
        [("h1", "u1", 10), ("h1", "u2", 20), ("h2", "u3", 30)],
        "host string, url string, n_chars long",
    )
    new = spark.createDataFrame(
        # h1/u2 changed, h2 fully removed, h3 born
        [("h1", "u1", 10), ("h1", "u2", 25), ("h3", "u4", 40)],
        "host string, url string, n_chars long",
    )
    old_stats = rollup_from_state(old, ["host"], ["n_chars"], count_col="n_docs")
    delta = snapshot_diff(old, new, ["host", "url"], ["n_chars"])
    adj = rollup_adjustments(delta, ["host"], ["n_chars"])
    inc = apply_rollup_delta(old_stats, adj, ["host"], ["n_chars"], "n_docs")
    direct = rollup_from_state(new, ["host"], ["n_chars"], count_col="n_docs")
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, direct.collect()))
    got = {r["host"]: (r["n_docs"], r["sum_n_chars"]) for r in inc.collect()}
    assert got == {"h1": (2, 35), "h3": (1, 40)}


def test_bm25_plan_filters_before_shuffle_and_broadcasts_idf(spark):
    """Scale shape: the vocabulary filter sits below the tf aggregate's
    exchange (the shuffle sees only query-term hits, not the corpus
    token stream), the idf dim arrives by broadcast, and there is no
    real cartesian (the single-row stats crossJoin broadcasts)."""
    docs = spark.createDataFrame(
        [(i, f"spark hash w{i % 5}") for i in range(100)],
        "doc_id long, text string",
    )
    plan = (
        bm25_topk(docs, ["spark", "hash"], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cms_estimate_broadcasts_counters(spark):
    """The sketch side of the point-query join must broadcast — the
    candidates side can be arbitrarily large."""
    from docrawl_spark.functions.sketches import cms_counters, cms_estimate

    df = _keys(spark, 5000)
    est = cms_estimate(cms_counters(df, "key"), df.distinct(), "key")
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_single_key_join(spark):
    """CDC diff is ONE full-outer join on the key — no window, no
    cartesian, nothing driver-side."""
    from docrawl_spark.sources.cdc import snapshot_diff

    old = spark.range(1000).selectExpr(
        "CAST(id AS STRING) AS url", "md5(CAST(id AS STRING)) AS sig"
    )
    new = spark.range(500, 1500).selectExpr(
        "CAST(id AS STRING) AS url", "md5(CAST(id + 7 AS STRING)) AS sig"
    )
    out = snapshot_diff(old, new, ["url"], ["sig"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FullOuter") == 1
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_hll_grouped_tracks_per_group_cardinality(spark):
    """Grouped HLL: per-group estimates track wildly different group
    sizes (5 / 500 / 20000) within 30%, from ONE register aggregate."""
    from docrawl_spark.functions.sketches import (
        hll_estimate_grouped,
        hll_registers_grouped,
    )

    parts = []
    for g, n in (("tiny", 5), ("mid", 500), ("big", 20000)):
        parts.append(
            spark.range(n).select(
                F.lit(g).alias("grp"),
                F.concat(F.lit(g), F.col("id").cast("string")).alias("key"),
            )
        )
    df = parts[0].union(parts[1]).union(parts[2])
    reg = hll_registers_grouped(df, ["grp"], "key", p=6)
    est = {
        r["grp"]: r["estimate_units"]
        for r in hll_estimate_grouped(reg, ["grp"], p=6).collect()
    }
    for g, n in (("tiny", 5), ("mid", 500), ("big", 20000)):
        assert abs(est[g] - n) / n < 0.30, f"{g}: est {est[g]} vs {n}"


def test_hll_grouped_single_aggregate_plan(spark):
    """The grouped register build is one HashAggregate keyed
    (grp, bucket) — no window, no join, no per-group pass."""
    from docrawl_spark.functions.sketches import hll_registers_grouped

    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        F.col("id").cast("string").alias("key"),
    )
    plan = (
        hll_registers_grouped(df, ["grp"], "key", p=6)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "HashAggregate" in plan
    assert "Window" not in plan and "Join" not in plan


def test_hll_global_estimate_matches_grouped_single_group(spark):
    """hll_estimate(registers) == hll_estimate_grouped on one group —
    the shared estimator arithmetic has no spine/grouping drift."""
    from docrawl_spark.functions.sketches import (
        hll_estimate,
        hll_estimate_grouped,
        hll_registers,
        hll_registers_grouped,
    )

    keys = _keys(spark, 700)
    glob = hll_estimate(hll_registers(keys, "key", p=6), p=6).first()[
        "estimate_units"
    ]
    one = keys.select(F.lit("g").alias("grp"), "key")
    grp = hll_estimate_grouped(
        hll_registers_grouped(one, ["grp"], "key", p=6), ["grp"], p=6
    ).first()["estimate_units"]
    assert glob == grp


def test_hll_union_estimates_set_union(spark):
    """Merged sketch estimates |A ∪ B| of overlapping sets within
    tolerance, and hll_union(A, B) == hll_registers(A ∪ B) exactly."""
    from docrawl_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
        hll_union,
    )

    a = _keys(spark, 600, "x")          # x0..x599
    b = _keys(spark, 600, "x").union(_keys(spark, 300, "y"))  # overlap + y
    merged = hll_union(
        hll_registers(a, "key", p=6), hll_registers(b, "key", p=6)
    )
    direct = hll_registers(a.union(b), "key", p=6)
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0
    est = hll_estimate(merged, p=6).first()["estimate_units"]
    assert abs(est - 900) / 900 < 0.30


def test_rrf_fuse_hybrid_semantics(spark):
    """A doc present in BOTH lists outranks single-list docs of
    similar ranks; integer scores; deterministic tie-break."""
    from docrawl_spark.datapipe.search import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(3, 1), (4, 2), (5, 3)], "doc_id long, rank int"
    )
    out = rrf_fuse([a, b], topk=5).collect()
    assert out[0]["doc_id"] == 3 and out[0]["n_lists"] == 2
    # doc 3: 1e6//63 + 1e6//61 = 15873 + 16393
    assert out[0]["rrf_units"] == 1000000 // 63 + 1000000 // 61
    singles = [r for r in out if r["n_lists"] == 1]
    assert all(r["rrf_units"] < out[0]["rrf_units"] for r in singles)


def test_postings_stats_exact_gaps(spark):
    """Hand-computed posting lists: 1-based first-absolute delta gaps,
    varint byte cost (incl. a 2-byte gap), df/min/max, min_df prune."""
    from docrawl_spark.datapipe.search import postings_stats

    docs = spark.createDataFrame(
        [(0, "a b"), (2, "b"), (9, "b a a"), (300, "a")],
        "doc_id long, text string",
    )
    out = {r["token"]: r for r in postings_stats(docs).collect()}
    a, b = out["a"], out["b"]
    # a: docs 0,9,300 -> gaps 1,9,291; 291 needs 9 bits -> 2 varint bytes
    assert (a["df"], a["first_doc"], a["last_doc"]) == (3, 0, 300)
    assert a["sum_gap_bytes"] == 1 + 1 + 2 and a["max_gap"] == 291
    # b: docs 0,2,9 -> gaps 1,2,7 -> 3 bytes
    assert (b["df"], b["sum_gap_bytes"], b["max_gap"]) == (3, 3, 7)
    pruned = postings_stats(docs, min_df=3).select("token").collect()
    assert {r["token"] for r in pruned} == {"a", "b"}


def test_term_upper_bounds_dominate_scores(spark):
    """The WAND invariant: for every (doc, term) posting, the term's
    ub_units >= that posting's actual BM25 contribution — checked by
    re-scoring a query through bm25_topk and comparing per-term
    contributions against the index bounds."""
    from docrawl_spark.datapipe.search import bm25_topk, term_upper_bounds

    docs = spark.createDataFrame(
        [
            (0, "spark spark spark hash"),
            (1, "spark window"),
            (2, "merge hash window window window"),
            (3, "vector"),
        ],
        "doc_id long, text string",
    )
    ub = {r["term"]: r for r in term_upper_bounds(docs).collect()}
    assert set(ub) == {"spark", "hash", "window", "merge", "vector"}
    assert ub["spark"]["df"] == 2 and ub["spark"]["max_tf"] == 3
    # single-term queries: the top-1 score IS the term's best posting
    for term in ub:
        top = bm25_topk(docs, [term], k=1).collect()[0]
        assert top["score_units"] == ub[term]["ub_units"], term
    # multi-term query scores never exceed the sum of bounds
    top = bm25_topk(docs, ["spark", "hash"], k=1).collect()[0]
    assert top["score_units"] <= ub["spark"]["ub_units"] + ub["hash"]["ub_units"]


def test_retrieval_ndcg_hand_case(spark):
    """Perfect ranking -> ndcg_ppm 1000000; a swapped ranking scores
    strictly less; unjudged docs gain 0; no-positive queries dropped."""
    from docrawl_spark.datapipe.search import retrieval_ndcg

    qrels = spark.createDataFrame(
        [("q1", 1, 3), ("q1", 2, 1), ("q1", 3, 0), ("q2", 9, 0)],
        "query_id string, doc_id long, rel int",
    )
    perfect = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3)],
        "query_id string, doc_id long, rank long",
    )
    out = {r["query_id"]: r for r in retrieval_ndcg(perfect, qrels).collect()}
    assert out["q1"]["ndcg_ppm"] == 1000000
    assert "q2" not in out  # no positive rel -> undefined, dropped
    # hand DCG with the bit-length discount (bitlen(rank+1)): ranks 1-2
    # share discount 2 -> rel3@1: 7e6//2=3500000, rel1@2: 1e6//2=500000
    assert out["q1"]["dcg_units"] == 3500000 + 500000

    # the discount is BANDED (1-2, 3-6, 7-14...): only a swap ACROSS
    # bands loses score — rel3 demoted to rank 3 (discount 3)
    demoted = spark.createDataFrame(
        [("q1", 2, 1), ("q1", 99, 2), ("q1", 1, 3)],  # 99 unjudged
        "query_id string, doc_id long, rank long",
    )
    out2 = {r["query_id"]: r for r in retrieval_ndcg(demoted, qrels).collect()}
    # rel1@1 -> 1e6//2 = 500000; rel3@3 -> 7e6//3 = 2333333
    assert out2["q1"]["dcg_units"] == 500000 + 2333333
    assert out2["q1"]["ndcg_ppm"] < 1000000
    assert out2["q1"]["idcg_units"] == out["q1"]["idcg_units"]


def test_chao1_completeness_hand_case(spark):
    """Hand-exact Chao1 + Good-Turing: singleton-heavy host gets a
    richness bump; a host with no singletons is judged complete."""
    from docrawl_spark.functions.sketches import chao1_completeness

    df = spark.createDataFrame(
        [
            ("a", "u1", 1), ("a", "u2", 1), ("a", "u3", 1), ("a", "u4", 2),
            ("b", "v1", 2), ("b", "v2", 2), ("b", "v3", 3),
        ],
        "host string, url string, n_seen long",
    )
    out = {r["host"]: r.asDict() for r in chao1_completeness(df).collect()}
    # host a: S=4, f1=3, f2=1, N=5; chao1 = 4 + 3*2 div 4 = 5
    assert out["a"]["chao1_est"] == 5
    assert out["a"]["coverage_ppm"] == 800000
    assert out["a"]["unseen_mass_ppm"] == 600000
    # host b: no singletons -> estimator says saturated
    assert out["b"]["chao1_est"] == 3
    assert out["b"]["coverage_ppm"] == 1000000
    assert out["b"]["unseen_mass_ppm"] == 0


def test_rbo_overlap_exact(spark):
    """RBO@k exact-integer form vs a Fraction reference: identical
    rankings hit floor((1 - p^k) * 1e6); disjoint queries are absent;
    partial overlap matches the per-depth definition exactly."""
    from fractions import Fraction

    from docrawl_spark.datapipe.search import rbo_overlap

    k, p = 10, Fraction(9, 10)

    def ref_ppm(ra, rb):
        # ra/rb: item -> rank maps
        total = Fraction(0)
        for d in range(1, k + 1):
            ad = {i for i, r in ra.items() if r <= d}
            bd = {i for i, r in rb.items() if r <= d}
            total += (1 - p) * p ** (d - 1) * Fraction(len(ad & bd), d)
        return int(total * 10**6)  # floor

    ident = {f"i{j}": j for j in range(1, k + 1)}
    swapped = dict(ident)
    swapped["i1"], swapped["i2"] = 2, 1  # swap top-2
    shifted = {f"i{j}": j - 1 for j in range(2, k + 2)}  # i2..i11 at 1..10
    rows_a, rows_b = [], []
    for q, (ra, rb) in {
        "same": (ident, ident),
        "swap": (ident, swapped),
        "shift": (ident, shifted),
        "disjoint": (ident, {f"z{j}": j for j in range(1, k + 1)}),
    }.items():
        rows_a += [(q, i, r) for i, r in ra.items()]
        rows_b += [(q, i, r) for i, r in rb.items()]
    a = spark.createDataFrame(rows_a, "query string, item string, rank int")
    b = spark.createDataFrame(rows_b, "query string, item string, rank int")
    got = {
        r["query"]: (r["n_common"], r["rbo_ppm"])
        for r in rbo_overlap(a, b).collect()
    }
    assert got["same"] == (10, ref_ppm(ident, ident))
    assert got["same"][1] == 651321  # floor((1 - 0.9^10) * 1e6)
    assert got["swap"] == (10, ref_ppm(ident, swapped))
    assert got["shift"] == (9, ref_ppm(ident, shifted))
    assert "disjoint" not in got  # sparse: no common items -> no row
    assert got["shift"][1] < got["swap"][1] < got["same"][1]


def test_hll_rolling_estimate_matches_direct_window_union(spark):
    """The rolling merge is EXACTLY a sketch union: for any day, the
    windowed (day, bucket) MAX-merge must reproduce the estimate of an
    HLL built directly on the trailing-window rows — including the
    short ramp-up windows at the start. Days outside the data emit no
    row (the spine comes from the data itself)."""
    from pyspark.sql import functions as F

    from docrawl_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
        hll_rolling_estimate,
    )

    rows = [
        (d, u)
        for d in range(10)
        for u in range(d * 5, d * 5 + 20)  # overlapping user ranges
    ]
    df = spark.createDataFrame(rows, "day_idx int, user_id long")
    out = {
        r["win_day"]: r["estimate_units"]
        for r in hll_rolling_estimate(
            df, "day_idx", "user_id", window_days=7, p=6
        ).collect()
    }
    assert set(out) == set(range(10))
    for d in (0, 3, 6, 9):
        w = df.where(
            (F.col("day_idx") >= d - 6) & (F.col("day_idx") <= d)
        )
        direct = hll_estimate(hll_registers(w, "user_id", p=6), p=6).collect()[
            0
        ]["estimate_units"]
        assert out[d] == direct, f"day {d}: rolling {out[d]} != direct {direct}"


# --------------------------------------------------------------- KMV/theta


def test_kmv_exact_below_k(spark):
    """Groups with < k distinct keys: the sketch IS the set, so union,
    intersection, and Jaccard are exact."""
    from docrawl_spark.functions.sketches import kmv_mins, kmv_pair_overlap

    rows = [("A", f"t{i}") for i in range(30)] + [
        ("B", f"t{i}") for i in range(20, 60)
    ]
    df = spark.createDataFrame(rows, "g string, key string")
    mins = kmv_mins(df, "g", "key", k=128)
    out = kmv_pair_overlap(mins, k=128).collect()
    assert len(out) == 1
    r = out[0]
    # |A|=30, |B|=40, inter=10, union=60
    assert r["k_u"] == 60
    assert r["est_union"] == 60
    assert r["inter_in_uk"] == 10
    assert r["est_inter"] == 10
    assert r["jaccard_ppm"] == 10 * 1000000 // 60


def test_kmv_estimates_within_tolerance_above_k(spark):
    """2000-token union with 500 shared, k=128: estimates must land
    within ~4/sqrt(k) (~35%) of truth — the sketch bound with margin
    for an unlucky hash draw on one fixed seedless md5 universe."""
    from docrawl_spark.functions.sketches import kmv_mins, kmv_pair_overlap

    rows = [("X", f"tok{i}") for i in range(1250)] + [
        ("Y", f"tok{i}") for i in range(750, 2000)
    ]
    df = spark.createDataFrame(rows, "g string, key string")
    out = kmv_pair_overlap(kmv_mins(df, "g", "key", k=128), k=128).collect()[0]
    assert out["k_u"] == 128
    assert abs(out["est_union"] - 2000) <= 700
    assert abs(out["est_inter"] - 500) <= 260
    assert abs(out["jaccard_ppm"] - 250000) <= 130000


def test_kmv_mins_is_k_smallest_distinct(spark):
    """The sketch holds exactly the k smallest distinct hashes —
    duplicates collapse and rn is dense in hash order."""
    from docrawl_spark.functions.sketches import _hash60, kmv_mins

    rows = [("g", f"v{i % 40}") for i in range(400)]  # heavy duplicates
    df = spark.createDataFrame(rows, "g string, key string")
    got = kmv_mins(df, "g", "key", k=10).collect()
    hs = sorted(r["h"] for r in got)
    assert len(got) == 10
    assert [r["h"] for r in sorted(got, key=lambda r: r["rn"])] == hs
    exact = sorted(
        r["h"]
        for r in df.select(_hash60(F.col("key")).alias("h")).distinct().collect()
    )[:10]
    assert hs == exact


def test_pair_dot_batch_arrow_edges():
    """Pure-pyarrow edges for the Arrow pair-dot kernel: chunked
    arrays, sliced offsets (non-zero window start), empty lists, and
    the ragged-dimension guard — no Spark session needed."""
    import numpy as np
    import pyarrow as pa
    import pytest as _pt

    from docrawl_spark.datapipe.similarity import _pair_dot_batch

    a = pa.array([[1.0, 2.0], [3.0, 4.0], [], [0.5, -1.0]])
    b = pa.array([[2.0, 0.5], [1.0, 1.0], [], [4.0, 2.0]])
    out = _pair_dot_batch(a, b).to_pylist()
    assert out == [3.0, 7.0, 0.0, 0.0]

    # sliced window: offsets no longer start at 0
    out_s = _pair_dot_batch(a.slice(1, 2), b.slice(1, 2)).to_pylist()
    assert out_s == [7.0, 0.0]

    # chunked arrays combine before compute
    ca = pa.chunked_array([a.slice(0, 2), a.slice(2, 2)])
    cb = pa.chunked_array([b.slice(0, 2), b.slice(2, 2)])
    assert _pair_dot_batch(ca, cb).to_pylist() == out

    # ragged dims between sides must raise, not mis-sum
    with _pt.raises(ValueError):
        _pair_dot_batch(pa.array([[1.0, 2.0]]), pa.array([[1.0]]))

    # numerically equal to numpy dot on a bigger random batch
    rng = np.random.default_rng(7)
    m = rng.standard_normal((50, 64))
    n = rng.standard_normal((50, 64))
    got = _pair_dot_batch(
        pa.array(m.tolist()), pa.array(n.tolist())
    ).to_numpy()
    assert np.allclose(got, (m * n).sum(axis=1))


def test_pair_dot_batch_validity_propagation():
    """ADVICE r5: null LIST SLOTS and null ELEMENTS must produce null
    outputs (never a silent 0.0 or a NaN that poisons downstream window
    ordering), including the asymmetric case where one side's null slot
    has zero width while the other's row carries elements (misaligned
    flat buffers — the gather path)."""
    import numpy as np
    import pyarrow as pa
    import pytest as _pt

    from docrawl_spark.datapipe.similarity import _pair_dot_batch

    # symmetric null slots (zero-width both sides)
    a = pa.array([[1.0, 2.0], None, [3.0, 1.0]])
    b = pa.array([[2.0, 1.0], None, [1.0, 1.0]])
    assert _pair_dot_batch(a, b).to_pylist() == [4.0, None, 4.0]

    # asymmetric: null slot on ONE side only, other side has width 2 —
    # flat buffers misalign; valid rows must still be exact
    b2 = pa.array([[2.0, 1.0], [9.0, 9.0], [1.0, 1.0]])
    assert _pair_dot_batch(a, b2).to_pylist() == [4.0, None, 4.0]
    assert _pair_dot_batch(b2, a).to_pylist() == [4.0, None, 4.0]

    # null ELEMENT inside a list → that row nulls, neighbours exact
    c = pa.array([[1.0, None], [2.0, 2.0]])
    d = pa.array([[1.0, 1.0], [3.0, 1.0]])
    assert _pair_dot_batch(c, d).to_pylist() == [None, 8.0]
    assert _pair_dot_batch(d, c).to_pylist() == [None, 8.0]

    # ragged mismatch between two VALID rows still raises
    with _pt.raises(ValueError):
        _pair_dot_batch(
            pa.array([None, [1.0, 2.0]]), pa.array([None, [1.0]])
        )

    # sliced window with nulls: offsets don't start at 0
    e = pa.array([[9.0], None, [1.0, 2.0], [0.5, 2.0]])
    f = pa.array([[9.0], [1.0], [2.0, 3.0], [2.0, 1.0]])
    assert _pair_dot_batch(e.slice(1, 3), f.slice(1, 3)).to_pylist() == [
        None, 8.0, 3.0,
    ]

    # big mixed batch agrees with numpy on valid rows
    rng = np.random.default_rng(11)
    m = rng.standard_normal((40, 16))
    rows_a = [row.tolist() for row in m]
    rows_b = [row.tolist() for row in rng.standard_normal((40, 16))]
    exp = [float(np.dot(x, y)) for x, y in zip(rows_a, rows_b)]
    for i in (3, 17, 31):
        rows_a[i] = None
        exp[i] = None
    got = _pair_dot_batch(pa.array(rows_a), pa.array(rows_b)).to_pylist()
    for g, x in zip(got, exp):
        assert (g is None and x is None) or abs(g - x) < 1e-9
