"""North-star gate: the Spark engine's crawl ordering, URL-seen set, and
per-doc span sequences must EXACTLY match the reference-semantics
simulator on the deterministic fixture web (BASELINE.json north_star;
SURVEY.md §5.2-5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docrawl_spark.plans.crawl import run_crawl
from docrawl_spark.plans.simulator import clean_spans, simulate_crawl
from docrawl_spark.operators.scan import scan_documents
from docrawl_spark.sources.fixtures import fixture_to_dfs, generate_web
from docrawl_spark.sources.seen_index import BucketedSeenIndex
from docrawl_spark.sources.storage import Warehouse


@pytest.fixture(scope="module")
def fixture_web():
    return generate_web(seed=42)


def test_span_cleaning_parity(spark, fixture_web):
    """Per-row invariant: engine scan kernel == simulator clean_spans on
    the raw variant, and both == the clean fixture, for every doc."""
    fx = fixture_web
    docs_raw, _, _ = fixture_to_dfs(spark, fx, raw=True)
    got = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in scan_documents(docs_raw).collect()
    }
    for url, raw in fx.documents_raw.items():
        sim = clean_spans(raw)
        assert got[url] == sim, f"engine!=simulator for {url}"
        assert sim == fx.documents[url], f"simulator!=clean fixture for {url}"


@pytest.mark.parametrize("use_seen_index", [False, True])
def test_crawl_order_and_seen_set(spark, fixture_web, tmp_path, use_seen_index):
    """Both seen-set probes — the accumulated url_seen table and the
    bucketed BucketedSeenIndex scan perfbench's crawl runs — visit
    exactly what the simulator visits."""
    fx = fixture_web
    sim = simulate_crawl(fx.documents_raw, fx.hosts, fx.seeds, max_waves=6)
    docs_raw, hosts_df, seeds_df = fixture_to_dfs(spark, fx, raw=True)
    wh = Warehouse(str(tmp_path / "wh"), spark)
    index = None
    if use_seen_index:
        index = BucketedSeenIndex(spark, str(tmp_path / "seen_index"))
    try:
        res = run_crawl(
            spark,
            docs_raw,
            hosts_df,
            seeds_df,
            max_waves=6,
            warehouse=wh,
            collect_visits=True,
            seen_index=index,
        )
    finally:
        if index is not None:
            index.drop()
    assert res.visits == sim.visits
    assert res.seen_urls == sim.seen
    # sanity: the crawl actually crawled (multi-wave, multi-host)
    assert len(sim.visits) > 10
    assert len({w for w, _ in sim.visits}) >= 3


def test_robots_and_budget_respected(spark, fixture_web, tmp_path):
    fx = fixture_web
    sim = simulate_crawl(fx.documents_raw, fx.hosts, fx.seeds, max_waves=6)
    # simulator itself must have exercised the gates
    assert sim.budget_dropped or sim.robots_blocked
    # no visited url may be robots-blocked, and per-host-per-wave counts
    # must respect budgets
    robots = {h["host"]: h["robots_blob"] for h in fx.hosts}
    budget = {h["host"]: h["budget"] for h in fx.hosts}
    from collections import Counter

    from docrawl_spark.plans.simulator import host_of, path_of

    per = Counter()
    for wave, url in sim.visits:
        h = host_of(url)
        for p in (robots.get(h) or "").split("\n"):
            if p:
                assert not path_of(url).startswith(p), (url, p)
        per[(wave, h)] += 1
    for (wave, h), n in per.items():
        assert n <= budget.get(h, 2), (wave, h, n)


def test_table_guard_parity_on_adversarial_payloads(spark):
    """Engine from_json guard == simulator on payloads the fixtures
    never generate: type-mismatched th/rows (string, int, nested
    mismatch), non-dict JSON, partial nulls. from_json nulls a
    mismatched field; the simulator counts only list-typed evidence —
    both must agree span-for-span."""
    from docrawl_spark.operators.scan import clean_spans_col

    payloads = [
        '{"th": "x", "rows": null}',        # string th: no evidence -> keep
        '{"th": 5, "rows": []}',            # int th + empty rows -> 0 tr -> drop
        '{"th": [["a"]], "rows": "z"}',     # nested ok th, string rows -> 1 tr -> drop
        '{"th": [["a"], "b"]}',             # mixed th: whole field nulls -> keep
        '{"th": [["a", 5]]}',               # scalar coercion: valid, 1 tr -> drop
        '{"rows": [[["b"]], "x"]}',         # mixed rows: field nulls -> keep
        '{"th": [["a"]], "rows": [[["b"]]]}',  # 2 tr -> keep
        "[]",                               # non-dict -> keep
        "not json",                         # unparseable -> keep
        '{"rows": [[["b"]]]}',              # 1 tr -> drop
        '{"th": ["a"]}',                    # shallow th: 1 tr -> drop
        '{"th": null, "rows": null}',       # no evidence -> keep
    ]
    raw = [
        {"kind": "table", "text": p, "media_ref": "", "offset": i}
        for i, p in enumerate(payloads)
    ]
    sim = clean_spans(raw)
    df = spark.createDataFrame(
        [(raw,)],
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = [s.asDict() for s in df.select(clean_spans_col(F.col("spans")).alias("s")).collect()[0]["s"]]
    assert got == sim, (got, sim)
