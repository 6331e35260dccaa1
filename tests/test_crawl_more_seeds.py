"""Crawl-order equality across MANY fixture webs (different graph
shapes, robots patterns, budgets), plus the quarantine error path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docrawl_spark.plans.crawl import run_crawl
from docrawl_spark.plans.simulator import simulate_crawl
from docrawl_spark.sources.fixtures import fixture_to_dfs, generate_web
from docrawl_spark.sources.schemas import DOCUMENTS_SCHEMA, SEEDS_SCHEMA
from docrawl_spark.sources.storage import Warehouse


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_crawl_equality_across_seeds(spark, tmp_path, seed):
    fx = generate_web(seed=seed, n_hosts=5, pages_cold=5, pages_hot=12, n_seeds=4)
    sim = simulate_crawl(fx.documents_raw, fx.hosts, fx.seeds, max_waves=5)
    docs_raw, hosts_df, seeds_df = fixture_to_dfs(spark, fx)
    wh = Warehouse(str(tmp_path / f"wh{seed}"), spark)
    res = run_crawl(
        spark, docs_raw, hosts_df, seeds_df, max_waves=5, warehouse=wh,
        collect_visits=True,
    )
    assert res.visits == sim.visits
    assert res.seen_urls == sim.seen


def test_quarantine_captures_canon_errors(spark, tmp_path):
    """A link whose relative path underflows ('../..' past the root)
    must be quarantined — never visited, never fatal."""
    docs = spark.createDataFrame(
        [
            (
                "https://q.test/p0",
                [
                    ("link", "bad", "../../../x", 0),
                    ("link", "good", "/p1", 1),
                ],
            ),
            ("https://q.test/p1", [("text", "leaf", "", 0)]),
        ],
        DOCUMENTS_SCHEMA,
    )
    hosts = spark.createDataFrame(
        [("q.test", 1.0, 5, "")],
        "host string, crawl_delay double, budget int, robots_blob string",
    )
    seeds = spark.createDataFrame([("https://q.test/p0", 0)], SEEDS_SCHEMA)
    wh = Warehouse(str(tmp_path / "whq"), spark)
    res = run_crawl(
        spark, docs, hosts, seeds, max_waves=3, warehouse=wh, collect_visits=True
    )
    assert [u for _, u in res.visits] == ["https://q.test/p0", "https://q.test/p1"]
    quarantined = wh.read("quarantine").collect()
    assert len(quarantined) == 1
    assert quarantined[0]["bad_ref"] == "../../../x"
    assert quarantined[0]["discovered_by"] == "https://q.test/p0"
    assert quarantined[0]["canon_error"] is not None


def test_crlf_robots_blob_equality(spark, tmp_path):
    """A robots_blob with CRLF line endings (the norm on real hosts)
    must gate identically in the engine and the simulator: both split
    rule lines on \\r?\\n (spec rule 3). Regression for the round-2
    advisor finding — the simulator used to split on '\\n' only, so a
    CRLF blob left '\\r'-suffixed prefixes that match nothing while the
    engine blocked correctly."""
    docs_py = {
        "https://c.test/p0": [
            {"kind": "link", "text": "a", "media_ref": "/private/x", "offset": 0},
            {"kind": "link", "text": "b", "media_ref": "/ok", "offset": 1},
        ],
        "https://c.test/ok": [{"kind": "text", "text": "leaf", "media_ref": "", "offset": 0}],
    }
    hosts_py = [
        {"host": "c.test", "budget": 5, "robots_blob": "/private\r\n/secret\r\n"}
    ]
    seeds_py = [{"url": "https://c.test/p0", "seed_order": 0}]
    sim = simulate_crawl(docs_py, hosts_py, seeds_py, max_waves=3)
    # the CRLF-split rule must actually fire: /private/x blocked
    assert any(u == "https://c.test/private/x" for _, u in sim.robots_blocked)

    docs = spark.createDataFrame(
        [
            (u, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
            for u, spans in docs_py.items()
        ],
        DOCUMENTS_SCHEMA,
    )
    hosts = spark.createDataFrame(
        [("c.test", 1.0, 5, "/private\r\n/secret\r\n")],
        "host string, crawl_delay double, budget int, robots_blob string",
    )
    seeds = spark.createDataFrame([("https://c.test/p0", 0)], SEEDS_SCHEMA)
    wh = Warehouse(str(tmp_path / "whcrlf"), spark)
    res = run_crawl(
        spark, docs, hosts, seeds, max_waves=3, warehouse=wh, collect_visits=True
    )
    assert res.visits == sim.visits
    assert res.seen_urls == sim.seen


def test_urlsplit_cleaned_links_equality(spark, tmp_path):
    """Links that urlsplit rewrites or rejects must canonicalize as the
    simulator's build_abs_url does: '/p\\nq' loses its LF and reaches
    /pq, and 'http://[::1/x' (unbalanced IPv6 bracket) is a parse
    error, quarantined and never fetched."""
    docs_py = {
        "https://n.test/p0": [
            {"kind": "link", "text": "a", "media_ref": "/p\nq", "offset": 0},
            {"kind": "link", "text": "b", "media_ref": "http://[::1/x", "offset": 1},
        ],
        "https://n.test/pq": [{"kind": "text", "text": "leaf", "media_ref": "", "offset": 0}],
    }
    hosts_py = [{"host": "n.test", "budget": 5, "robots_blob": ""}]
    seeds_py = [{"url": "https://n.test/p0", "seed_order": 0}]
    sim = simulate_crawl(docs_py, hosts_py, seeds_py, max_waves=3)
    assert sim.visits == [(0, "https://n.test/p0"), (1, "https://n.test/pq")]

    docs = spark.createDataFrame(
        [
            (u, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
            for u, spans in docs_py.items()
        ],
        DOCUMENTS_SCHEMA,
    )
    hosts = spark.createDataFrame(
        [("n.test", 1.0, 5, "")],
        "host string, crawl_delay double, budget int, robots_blob string",
    )
    seeds = spark.createDataFrame([("https://n.test/p0", 0)], SEEDS_SCHEMA)
    wh = Warehouse(str(tmp_path / "whn"), spark)
    res = run_crawl(
        spark, docs, hosts, seeds, max_waves=3, warehouse=wh, collect_visits=True
    )
    assert res.visits == sim.visits
    assert res.seen_urls == sim.seen
    quarantined = wh.read("quarantine").collect()
    assert [(r["bad_ref"], r["canon_error"]) for r in quarantined] == [
        ("http://[::1/x", "parse error: Invalid IPv6 URL")
    ]


@pytest.mark.parametrize("seed", [909, 1313])
def test_crawl_equality_dense_web_tight_budgets(spark, tmp_path, seed):
    """Heavier stress shape: denser web, more waves, and a seed list
    perturbed with a duplicate seed plus an unknown-host seed (404
    fetch: seen, no spans) — ordering under budget pressure must still
    match the simulator exactly."""
    fx = generate_web(
        seed=seed, n_hosts=8, pages_cold=8, pages_hot=24, n_seeds=6
    )
    order = max(s["seed_order"] for s in fx.seeds)
    fx.seeds.append(dict(fx.seeds[0], seed_order=order + 1))  # duplicate
    fx.seeds.append(
        {"url": "https://nowhere.test/missing", "seed_order": order + 2}
    )
    sim = simulate_crawl(fx.documents_raw, fx.hosts, fx.seeds, max_waves=7)
    docs_raw, hosts_df, seeds_df = fixture_to_dfs(spark, fx)
    wh = Warehouse(str(tmp_path / f"whd{seed}"), spark)
    res = run_crawl(
        spark, docs_raw, hosts_df, seeds_df, max_waves=7, warehouse=wh,
        collect_visits=True,
    )
    assert res.visits == sim.visits
    assert res.seen_urls == sim.seen
    # the unknown-host seed was fetched (seen) but yielded no links
    assert "https://nowhere.test/missing" in res.seen_urls
    assert len(sim.visits) > 30
