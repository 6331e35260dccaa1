from __future__ import annotations

import re

import numpy as np

import gen

SPEC = gen.WaveSpec(
    n_links=200_000, n_hosts=2_000, dup=2.0, seen_share=0.25,
    forms=(55, 15, 20, 10), budget=40,
)
SMALL = gen.WaveSpec(
    n_links=3_000, n_hosts=100, dup=2.0, seen_share=0.25,
    forms=(40, 20, 20, 20), budget=5,
)


def test_model_is_deterministic_per_seed():
    a, b, c = (gen.expected_wave(SPEC, s) for s in (7, 7, 8))
    assert np.array_equal(a.targets, b.targets)
    assert (a.n_gated, a.n_deduped, a.n_unseen) == (b.n_gated, b.n_deduped, b.n_unseen)
    assert not np.array_equal(a.targets, c.targets)


def test_achieved_shares_match_the_spec():
    want = gen.predicted_shares(SPEC)
    for seed in (1, 2, 3):
        exp = gen.expected_wave(SPEC, seed)
        assert abs(exp.n_deduped / exp.n_gated - want["keep_ratio"]) < 0.01
        assert abs(1 - exp.n_unseen / exp.n_deduped - want["hit_ratio"]) < 0.01
        s = gen.salts(seed)
        t = gen.target_of_link(np.arange(SPEC.n_links), SPEC, s, gen.NumpyOps)
        hot = gen.host_of_target(t, SPEC, s, gen.NumpyOps) < SPEC.n_hot
        assert abs(hot.mean() - want["hot_link_share"]) < 0.02
        assert 0 < exp.n_selected < exp.n_unseen


def test_jvm_links_resolve_to_the_model_targets(spark):
    from docrawl_spark.functions.canon import build_abs_url

    s = gen.salts(5)
    rows = gen.wave_links_df(spark, SMALL, 5).orderBy("parent_rank").collect()
    assert rows == gen.wave_links_df(spark, SMALL, 5).orderBy("parent_rank").collect()
    i = np.array([r["parent_rank"] for r in rows])
    t = gen.target_of_link(i, SMALL, s, gen.NumpyOps)
    h = gen.host_of_target(t, SMALL, s, gen.NumpyOps)
    for r, ti, hi in zip(rows, t, h):
        url = build_abs_url(r["media_ref"], r["discovered_by"])
        m = re.match(r"^https://site(\d+)\.test/a/[px](\d+)$", url)
        assert m and (int(m.group(1)), int(m.group(2))) == (hi, ti), (r, url)
    forms = {("abs" if "://" in r["media_ref"] else r["media_ref"][:3]) for r in rows}
    assert {"abs", "../", "/a/"} <= forms


def test_jvm_seen_set_matches_the_model(spark):
    s = gen.salts(5)
    t = np.arange(SMALL.n_targets)
    n_seen = int(gen.is_seen(t, SMALL, s, gen.NumpyOps).sum())
    assert gen.wave_seen_df(spark, SMALL, 5).count() == n_seen


def test_corpus_is_deterministic_and_links_stay_in_the_url_space(spark):
    spec = gen.CrawlSpec(n_docs=200, n_hosts=10, budget=5, waves=2)
    docs_a = gen.corpus_dfs(spark, spec, 3)[0].orderBy("doc_id").collect()
    docs_b = gen.corpus_dfs(spark, spec, 3)[0].orderBy("doc_id").collect()
    docs_c = gen.corpus_dfs(spark, spec, 4)[0].orderBy("doc_id").collect()
    assert docs_a == docs_b and docs_a != docs_c
    from docrawl_spark.functions.canon import build_abs_url

    for r in docs_a:
        assert len(r["spans"]) == spec.links_per_doc
        for sp in r["spans"]:
            url = build_abs_url(sp["media_ref"], r["doc_id"])
            m = re.match(r"^https://site(\d+)\.test/a/d(\d+)$", url)
            assert m and int(m.group(2)) % spec.n_hosts == int(m.group(1))
            assert int(m.group(2)) < 2 * spec.n_docs
