"""Recrawl retirement: url_seen shrink + cuckoo deletion + resumed
revisit (operators/recrawl.py)."""

from __future__ import annotations

import shutil
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import url_hash_col
from docrawl_spark.functions.cuckoo import (
    build_sharded_cuckoo,
    might_contain_cuckoo_col,
)
from docrawl_spark.operators.recrawl import retire_for_recrawl
from docrawl_spark.plans.crawl import run_crawl
from docrawl_spark.sources.fixtures import fixture_to_dfs, generate_web
from docrawl_spark.sources.storage import Warehouse


@pytest.fixture(scope="module")
def exhausted(spark, tmp_path_factory):
    """generate_web(seed=13) crawled to EXHAUSTION, so frontier_pending
    holds only unreachable (robots-blocked) leftovers — retirement then
    fully determines the resumed visits. Tests that retire work on a
    copy of the warehouse (:func:`_copy_warehouse`)."""
    fx = generate_web(seed=13)
    docs, hosts, seeds = fixture_to_dfs(spark, fx)
    root = str(tmp_path_factory.mktemp("exhausted") / "wh")
    res = run_crawl(
        spark, docs, hosts, seeds, max_waves=12,
        warehouse=Warehouse(root, spark), collect_visits=True,
    )
    assert max(w for w, _ in res.visits) < 11, "graph not exhausted"
    return SimpleNamespace(docs=docs, hosts=hosts, seeds=seeds, res=res, root=root)


def _copy_warehouse(spark, exhausted, dest) -> Warehouse:
    shutil.copytree(exhausted.root, dest)
    return Warehouse(str(dest), spark)


def test_retire_and_recrawl(spark, tmp_path, exhausted):
    docs, hosts, seeds = exhausted.docs, exhausted.hosts, exhausted.seeds
    res = exhausted.res
    wh = _copy_warehouse(spark, exhausted, tmp_path / "wh")
    wave0 = {u for w, u in res.visits if w == 0}
    assert wave0

    seen_df = wh.read("url_seen")
    n_seen = seen_df.count()
    shards = build_sharded_cuckoo(seen_df, "url_hash", expected_items=1024, n_shards=4)
    pre_snap = wh.snapshot_ids("url_seen")[-1]

    n_retired, shards2 = retire_for_recrawl(
        wh, F.col("first_wave") == 0, cuckoo_shards=shards
    )
    assert n_retired == len(wave0)
    kept = wh.read("url_seen")
    assert kept.count() == n_seen - n_retired
    # atomicity: time travel still shows the pre-retire state
    assert wh.read("url_seen", as_of=pre_snap).count() == n_seen

    # cuckoo: every kept key still contained (no false negatives)...
    assert all(
        r["m"]
        for r in kept.select(
            might_contain_cuckoo_col(kept, shards2, "url_hash").alias("m")
        ).collect()
    )
    # ...and retired keys are gone (tolerate <=1 fingerprint collision)
    rdf = spark.createDataFrame([(u,) for u in sorted(wave0)], "url string").select(
        url_hash_col("url").alias("url_hash")
    )
    still = [
        r["m"]
        for r in rdf.select(
            might_contain_cuckoo_col(rdf, shards2, "url_hash").alias("m")
        ).collect()
    ]
    assert sum(still) <= 1

    # resumed crawl revisits EXACTLY the retired urls (their links are
    # still seen, so no cascade), and the seen-set returns to full
    last = max(w for w, _ in res.visits)
    res2 = run_crawl(
        spark, docs, hosts, seeds, max_waves=last + 8, warehouse=wh,
        resume=True, collect_visits=True,
    )
    revisited = {u for w, u in res2.visits if w > last}
    assert revisited == wave0
    assert res2.seen_urls == res.seen_urls
    assert wh.read("url_seen").count() == n_seen


def test_retire_nothing_is_noop(spark, tmp_path):
    fx = generate_web(seed=13)
    docs, hosts, seeds = fixture_to_dfs(spark, fx)
    wh = Warehouse(str(tmp_path / "wh"), spark)
    run_crawl(spark, docs, hosts, seeds, max_waves=3, warehouse=wh)
    n_before = wh.read("url_seen").count()
    snaps_before = wh.snapshot_ids("url_seen")
    n, shards = retire_for_recrawl(wh, F.lit(False), cuckoo_shards=None)
    assert n == 0 and shards is None
    assert wh.read("url_seen").count() == n_before
    assert wh.snapshot_ids("url_seen") == snaps_before  # no empty snapshot


def test_midcrawl_retire_preserves_pending_frontier(spark, tmp_path):
    """Retiring while a crawl is UNFINISHED must union the retired
    candidates with the pending frontier, not replace it — the resumed
    crawl converges to the same final seen set as an uninterrupted one
    (budgets made non-binding so politeness drops don't mask a loss)."""
    fx = generate_web(seed=13)
    docs, hosts, seeds = fixture_to_dfs(spark, fx)
    big = hosts.withColumn("budget", F.lit(100))
    wh = Warehouse(str(tmp_path / "wh"), spark)
    res = run_crawl(
        spark, docs, big, seeds, max_waves=2, warehouse=wh, collect_visits=True
    )
    early = {u for w, u in res.visits if w == 0}
    n, _ = retire_for_recrawl(wh, F.col("first_wave") == 0)
    assert n == len(early)
    res2 = run_crawl(
        spark, docs, big, seeds, max_waves=10, warehouse=wh, resume=True,
        collect_visits=True,
    )
    assert early <= {u for w, u in res2.visits if w >= 2}
    full = run_crawl(
        spark, docs, big, seeds, max_waves=10,
        warehouse=Warehouse(str(tmp_path / "wh_full"), spark),
        collect_visits=True,
    )
    assert res2.seen_urls == full.seen_urls


def test_midcrawl_retire_keeps_every_pending_row(spark, tmp_path):
    """frontier_pending holds RAW candidates: a url may repeat, and the
    wave's keep-first dedup picks among its occurrences at schedule
    time. Retiring an unrelated url must keep every pending row, so the
    next wave still schedules the first occurrence (lowest
    (parent_rank, offset)) with its own discovered_by."""
    from docrawl_spark.functions.canon import host_of_col
    from docrawl_spark.plans.wave import schedule_wave

    def candidates(rows):
        return spark.createDataFrame(
            rows, "url string, parent_rank long, offset int, discovered_by string"
        ).select(
            url_hash_col("url").alias("url_hash"),
            "url",
            host_of_col("url").alias("host"),
            url_hash_col(host_of_col("url")).alias("host_hash"),
            F.lit(1).alias("depth"),
            "parent_rank",
            "offset",
            "discovered_by",
        )

    x, y = "https://b.test/x", "https://a.test/y"
    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("frontier_pending", candidates([(x, 9, 3, "p9"), (x, 2, 1, "p2")]))
    wh.overwrite(
        "url_seen",
        candidates([(y, 0, 0, None)]).select(
            "url_hash", "url", "host_hash", F.lit(0).alias("first_wave")
        ),
    )
    n, _ = retire_for_recrawl(wh, F.col("url") == y)
    assert n == 1
    pending = wh.read("frontier_pending")
    assert sorted(
        (r["url"], r["parent_rank"], r["offset"], r["discovered_by"] or "")
        for r in pending.collect()
    ) == [(y, -1, 0, ""), (x, 2, 1, "p2"), (x, 9, 3, "p9")]

    no_hosts = spark.createDataFrame([], "host string, budget int, robots_blob string")
    wave = schedule_wave(pending, no_hosts, seen=wh.read("url_seen"))
    assert {
        r["url"]: (r["parent_rank"], r["offset"], r["discovered_by"])
        for r in wave.collect()
    } == {x: (2, 1, "p2"), y: (-1, 0, None)}


def test_sitemap_lastmod_drives_recrawl(spark, tmp_path, exhausted):
    """End-to-end sitemap-freshness loop: crawl to exhaustion → ingest a
    sitemap whose <lastmod> post-dates the fetch for SOME visited urls
    (plus a stale one, a malformed one, and a never-seen one) → retire →
    resume revisits EXACTLY the fresh-lastmod urls."""
    from docrawl_spark.operators.recrawl import retire_stale_by_sitemap
    from docrawl_spark.operators.sitemap import sitemap_entries

    docs, hosts, seeds = exhausted.docs, exhausted.hosts, exhausted.seeds
    res = exhausted.res
    wh = _copy_warehouse(spark, exhausted, tmp_path / "wh_sm")
    visited = [u for _, u in res.visits]
    fresh = sorted(visited)[:3]          # lastmod 2030 > any fetched_at (2024 epoch)
    stale = sorted(visited)[3]           # lastmod 2000 < fetched_at
    unseen = "https://never.test/x"      # in the sitemap, never crawled

    def ent(loc, lastmod):
        return f"<url><loc>{loc}</loc><lastmod>{lastmod}</lastmod></url>"

    xml = (
        "<urlset>"
        + "".join(ent(u, "2030-01-01T00:00:00Z") for u in fresh)
        + ent(stale, "2000-01-01T00:00:00Z")
        + ent(fresh[0], "not-a-date")      # malformed lastmod: ignored
        + ent(unseen, "2030-01-01T00:00:00Z")
        + "</urlset>"
    )
    entries = sitemap_entries(
        spark.createDataFrame([(xml,)], "sitemap_xml string")
    )
    n_seen = wh.read("url_seen").count()
    n, _ = retire_stale_by_sitemap(wh, entries)
    assert n == len(fresh)

    last = max(w for w, _ in res.visits)
    res2 = run_crawl(
        spark, docs, hosts, seeds, max_waves=last + 8, warehouse=wh,
        resume=True, collect_visits=True,
    )
    revisited = {u for w, u in res2.visits if w > last}
    assert revisited == set(fresh)
    assert res2.seen_urls == res.seen_urls
    assert wh.read("url_seen").count() == n_seen


def test_change_rate_estimator_hand_computed(spark):
    """Cho & Garcia-Molina bias-corrected estimator on a hand-computed
    history: lambda = -ln((n - X + 0.5)/(n + 0.5)) / mean_gap_days."""
    import datetime as dt
    import math

    from docrawl_spark.operators.recrawl import (
        change_rate_estimates,
        recrawl_by_staleness,
    )

    t0 = dt.datetime(2024, 1, 1)
    day = dt.timedelta(days=1)
    rows = (
        # url 1: daily fetches, hashes a->b->b->c (X=2 of n=3 intervals)
        [(1, t0 + i * day, h) for i, h in enumerate("abbc")]
        # url 2: never changes (X=0 -> rate exactly 0)
        + [(2, t0 + i * day, "z") for i in range(3)]
        # url 3: single fetch -> no evidence, NULL rate
        + [(3, t0, "q")]
    )
    df = spark.createDataFrame(
        rows, "url_hash long, fetched_at timestamp, content_hash string"
    )
    est = {r["url_hash"]: r for r in change_rate_estimates(df).collect()}
    assert est[1]["n_fetches"] == 4 and est[1]["n_intervals"] == 3
    assert est[1]["n_changes"] == 2 and est[1]["total_gap_us"] == 3 * 86_400_000_000
    want = -math.log((3 - 2 + 0.5) / (3 + 0.5)) / 1.0
    assert abs(est[1]["change_rate_per_day"] - want) < 1e-12
    assert est[2]["change_rate_per_day"] == 0.0
    assert est[3]["change_rate_per_day"] is None

    # staleness queue at t0+4d: url 1 p = 1-exp(-lambda) ~ 0.5715 -> in;
    # url 2 p = 0 -> out; url 3 NULL -> out
    q = recrawl_by_staleness(
        change_rate_estimates(df), F.to_timestamp(F.lit("2024-01-05 00:00:00"))
    ).collect()
    assert [r["url_hash"] for r in q] == [1]
    assert abs(q[0]["stale_prob"] - (1 - math.exp(-want))) < 1e-12


def test_sitemap_index_malformed_and_missing_children(spark):
    """Index resolution edge cases: a child loc with no fetched
    sitemap drops out (inner join), a plain <urlset> fed to the index
    parser yields no children (PERMISSIVE all-null struct), whitespace
    locs are trimmed before the join."""
    from pyspark.sql import functions as F

    from docrawl_spark.operators.sitemap import expand_sitemap_index

    indexes = spark.createDataFrame(
        [
            ("h1", "<sitemapindex><sitemap><loc> https://h1/s0.xml "
                   "</loc></sitemap><sitemap><loc>https://h1/missing.xml"
                   "</loc></sitemap></sitemapindex>"),
            ("h2", "<urlset><url><loc>https://h2/a</loc></url></urlset>"),
        ],
        "host string, sitemap_xml string",
    )
    children = spark.createDataFrame(
        [
            ("https://h1/s0.xml",
             "<urlset><url><loc>https://h1/p1</loc>"
             "<priority>0.5</priority></url>"
             "<url><loc>https://h1/p2</loc></url></urlset>"),
        ],
        "sitemap_url string, sitemap_xml string",
    )
    out = expand_sitemap_index(indexes, children, keep_cols=["host"]).collect()
    got = sorted((r["host"], r["loc"], r["priority"]) for r in out)
    assert got == [("h1", "https://h1/p1", 0.5), ("h1", "https://h1/p2", None)]
