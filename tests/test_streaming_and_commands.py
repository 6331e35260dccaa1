"""Streaming frontier + remaining command-operator analogues."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docrawl_spark.operators.commands import (
    classify_xpath_col,
    current_urls,
    extract_multiple_kinds,
    follow_clicks,
    raw_pages,
)
from docrawl_spark.sources.fixtures import fixture_to_dfs, generate_web
from docrawl_spark.sources.schemas import DOCUMENTS_SCHEMA
from docrawl_spark.streaming.frontier_stream import (
    run_streaming_crawl,
    streaming_candidates,
    streaming_fetch_rollup,
)


def test_classify_xpath(spark):
    cases = [
        ("//div/table", "table"),
        ("/html/body/ul", "bullet"),
        ("//div[2]/p", "text"),
        ("//h2", "headline"),
        ("//div/a[3]", "link"),
        ("//section/img", "image"),
        ("//form/input", "input"),
        ("//weird/custom", "element"),
    ]
    df = spark.createDataFrame(cases, "xpath string, expected string")
    got = df.select("expected", classify_xpath_col(F.col("xpath")).alias("k")).collect()
    for r in got:
        assert r["k"] == r["expected"]


def test_follow_clicks_and_raw_pages(spark):
    docs = spark.createDataFrame(
        [
            (
                "https://c.test/a/b",
                [
                    ("button", "Next", "/page2", 0),
                    ("link", "Go", "rel/x", 1),
                    ("link", "Other", "/other", 2),
                    ("text", "body", "", 3),
                ],
            )
        ],
        DOCUMENTS_SCHEMA,
    )
    fetched = docs.select(F.col("doc_id").alias("url"), "spans")
    edges = {r["url"] for r in follow_clicks(fetched).collect()}
    assert edges == {
        "https://c.test/page2",
        "https://c.test/a/b/rel/x",
        "https://c.test/other",
    }
    by_text = [r["url"] for r in follow_clicks(fetched, text_equals="Go").collect()]
    assert by_text == ["https://c.test/a/b/rel/x"]

    raw = raw_pages(fetched).first()
    assert raw["doc_id"] == "https://c.test/a/b"
    assert '"kind":"button"' in raw["raw"]


def test_extract_multiple_kinds(spark):
    docs = spark.createDataFrame(
        [("d1", [("text", "hello", "", 0), ("headline", "H", "", 1)])],
        DOCUMENTS_SCHEMA,
    )
    got = extract_multiple_kinds(docs, ["text", "headline", "bullet"]).collect()
    by_kind = {}
    for r in got:
        by_kind.setdefault(r["kind"], []).append(r["line"])
    assert by_kind["text"] == ["hello"]
    assert by_kind["headline"] == ["H"]
    assert by_kind["bullet"] == ["None"]  # per-kind empty marker (O4/O5)


def test_current_urls(spark):
    fl = spark.createDataFrame(
        [(2, 1, "u3"), (0, 0, "u1"), (1, 0, "u2")],
        "visit_rank long, wave int, url string",
    )
    got = [r["url"] for r in current_urls(fl).collect()]
    assert got == ["u1", "u2", "u3"]


def test_streaming_fetch_rollup(spark, tmp_path):
    rows = [
        ("h1.test", 200, "2026-01-01 00:00:10"),
        ("h1.test", 404, "2026-01-01 00:00:40"),
        ("h2.test", 200, "2026-01-01 00:01:10"),
    ]
    src = str(tmp_path / "fl")
    spark.createDataFrame(rows, "host string, status int, fetched_at_s string").select(
        "host", "status", F.to_timestamp("fetched_at_s").alias("fetched_at")
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("host string, status int, fetched_at timestamp")
        .parquet(src)
    )
    out = streaming_fetch_rollup(spark, stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("rollup_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["host"], r["n_fetches"], r["n_errors"])
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    # append mode emits only windows closed by the watermark: the
    # 00:00 window closes once the 00:01 event advances it far enough —
    # with a 2-minute watermark nothing closes on this tiny input, so
    # just assert the query ran and the plan is stateful
    assert got == set() or ("h1.test", 2, 1) in got


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics end-to-end: a record arriving after the
    watermark passed its window must be DROPPED — the closed window's
    emitted counts exclude it and the window is never re-emitted."""
    src = str(tmp_path / "fl_late")
    schema = "host string, status int, fetched_at timestamp"

    def write_batch(name: str, rows):
        spark.createDataFrame(
            rows, "host string, status int, fetched_at_s string"
        ).select(
            "host", "status", F.to_timestamp("fetched_at_s").alias("fetched_at")
        ).coalesce(1).write.mode("append").parquet(src)

    # batch 1: two events in the 00:00 window, plus a 00:05 event that
    # advances the watermark (2 min) to 00:03 > the window's 00:01 end
    write_batch("b1", [
        ("h1.test", 200, "2026-01-01 00:00:10"),
        ("h1.test", 404, "2026-01-01 00:00:40"),
        ("h2.test", 200, "2026-01-01 00:05:00"),
    ])
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = streaming_fetch_rollup(spark, stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE h1 event back inside the already-closed 00:00
        # window — must be dropped, not merged or re-emitted
        write_batch("b2", [("h1.test", 200, "2026-01-01 00:00:50")])
        q.processAllAvailable()
        # batch 3: advance event time further so emission is flushed
        write_batch("b3", [("h3.test", 200, "2026-01-01 00:10:00")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT host, n_fetches, n_errors FROM late_test WHERE host = 'h1.test'"
    ).collect()
    # exactly one emission of h1's 00:00 window, with the ON-TIME counts
    assert [(r["host"], r["n_fetches"], r["n_errors"]) for r in rows] == [
        ("h1.test", 2, 1)
    ]


def test_streaming_crawl_matches_batch_reachability(spark, tmp_path):
    """The streaming self-feeding crawl visits exactly the urls the
    batch engine can reach with unlimited budget (streaming mode has no
    politeness cap — reachability equality is the invariant)."""
    fx = generate_web(seed=11, n_hosts=3, pages_cold=4, pages_hot=6, n_seeds=2)
    docs_raw, hosts, seeds = fixture_to_dfs(spark, fx)
    from docrawl_spark.operators.scan import scan_documents
    from docrawl_spark.plans.simulator import normalize_seed, simulate_crawl

    corpus = scan_documents(docs_raw)
    seed_urls = [normalize_seed(s["url"]) for s in fx.seeds]
    seed_docs = corpus.where(F.col("doc_id").isin(seed_urls))

    visits_df = run_streaming_crawl(
        spark,
        corpus,
        seed_docs,
        watch_dir=str(tmp_path / "watch"),
        checkpoint_dir=str(tmp_path / "ck"),
        hosts=hosts,
        visits_dir=str(tmp_path / "visits"),
    )
    visited = [
        r["doc_id"] for r in visits_df.orderBy("epoch", "doc_id").collect()
    ]
    # batch reachability with effectively-unlimited budget
    big_hosts = [dict(h, budget=10_000) for h in fx.hosts]
    sim = simulate_crawl(fx.documents_raw, big_hosts, fx.seeds, max_waves=20)
    batch_reachable = {u for _, u in sim.visits if u in fx.documents}
    stream_visited = set(visited)
    # streaming visits = every reachable EXISTING doc (404s never land
    # in the watch dir) that is linked from another doc; seeds enter
    # via seeding
    assert stream_visited >= (batch_reachable - set(seed_urls))
    assert stream_visited <= batch_reachable


def test_fetch_log_carries_headers_and_clock(spark, tmp_path):
    """D7 parity: every fetch_log row carries the response-header map
    (etag/content-length/server/content-type, reference capture
    docrawl_core.py:1064-1083) and a fetched_at that is a deterministic
    monotone function of visit_rank."""
    from docrawl_spark.plans.crawl import _FETCH_CLOCK_EPOCH, run_crawl
    from docrawl_spark.sources.storage import Warehouse

    fx = generate_web(seed=5)
    docs, hosts, seeds = fixture_to_dfs(spark, fx)
    wh = Warehouse(str(tmp_path / "whh"), spark)
    run_crawl(spark, docs, hosts, seeds, max_waves=3, warehouse=wh)
    log = wh.read("fetch_log")
    bad = log.where(
        (F.element_at("headers", F.lit("etag")) != F.lower(F.hex(F.xxhash64("url"))))
        | (F.element_at("headers", F.lit("content-length")).cast("int") != F.col("n_spans"))
        | (F.element_at("headers", F.lit("server")) != F.concat(F.lit("synth/"), F.col("host")))
        | (
            F.element_at("headers", F.lit("content-type"))
            != F.when(F.col("status") == 200, F.lit("text/html; charset=utf-8")).otherwise(
                F.lit("text/plain")
            )
        )
        | (
            F.col("fetched_at")
            != F.timestamp_seconds(F.lit(_FETCH_CLOCK_EPOCH) + F.col("visit_rank"))
        )
    ).count()
    assert bad == 0
    # 404 rows exist in this fixture and are marked text/plain
    assert log.where(F.col("status") == 404).count() > 0
    # fetched_at is strictly monotone in crawl order (unique ranks)
    n = log.count()
    assert log.select("fetched_at").distinct().count() == n
    # D7 #2: cookie jar — 200 pages carry (session_id, last_visit),
    # 404s only session_id; last_visit value IS the visit_rank
    bad_cookies = log.where(
        (F.size("cookies") != F.when(F.col("status") == 200, 2).otherwise(1))
        | (F.col("cookies")[0]["name"] != "session_id")
        | (F.col("cookies")[0]["domain"] != F.col("host"))
        | (
            (F.col("status") == 200)
            & (
                F.col("cookies")[1]["value"]
                != F.col("visit_rank").cast("string")
            )
        )
    ).count()
    assert bad_cookies == 0
    # D7 #3: JSON sub-requests — 200 pages with spans issue
    # min(n_spans, 3) api calls against their own host; 404s none
    bad_reqs = log.where(
        (
            F.size("json_requests")
            != F.when(
                F.col("status") == 200, F.least(F.col("n_spans"), F.lit(3))
            ).otherwise(0)
        )
        | F.exists(
            "json_requests",
            lambda r: ~r["url"].startswith(
                F.concat(F.lit("https://"), F.col("host"), F.lit("/api/"))
            )
            | (r["status"] != 200)
            | (r["content_type"] != "application/json"),
        )
    ).count()
    assert bad_reqs == 0


def test_robots_rfc_semantics(spark):
    """RFC 9309 rule algebra: longest-match wins, Allow wins spec ties,
    '*' wildcards, '$' anchors, regex specials in paths are literal,
    no-match and empty-blob default to allowed."""
    from docrawl_spark.operators.politeness import (
        robots_allowed_rfc_col,
        robots_compile_col,
        robots_rules_col,
    )

    blob = "\n".join(
        [
            "User-agent: *",          # ignored non-rule line
            "# comment",
            "Disallow: /a*",          # blocks /a...
            "Allow: /a/pub*",         # longer -> re-allows /a/pub...
            "Disallow: /exact$",      # anchor: blocks exactly /exact
            "Disallow: /t*",          # tie fight:
            "Allow: /t*x",            # longer allow
            "Disallow: /p+q",         # '+' must be literal
            "Allow: /tie*",           # same spec as next -> allow wins
            "Disallow: /tie*",
        ]
    )
    cases = [
        ("https://h.test/a/private", False),
        ("https://h.test/a/pub/x", True),
        ("https://h.test/exact", False),
        ("https://h.test/exactly", True),   # anchor must not prefix-match
        ("https://h.test/t1/x", True),      # /t*x (6) beats /t* (3)
        ("https://h.test/t1/y", False),
        ("https://h.test/p+q", False),      # literal plus
        ("https://h.test/ppq", True),       # NOT regex 'p+' semantics
        ("https://h.test/tieZ", True),      # exact spec tie -> allow
        ("https://h.test/other", True),     # no match -> allowed
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    compiled = robots_compile_col(robots_rules_col(F.lit(blob)))
    got = [
        r[0]
        for r in df.select(robots_allowed_rfc_col(F.col("url"), compiled)).collect()
    ]
    for (u, want), g in zip(cases, got):
        assert g == want, (u, g, want)
    # empty / null blobs allow everything
    empties = df.select(
        robots_allowed_rfc_col(
            F.col("url"), robots_compile_col(robots_rules_col(F.lit("")))
        ).alias("a"),
        robots_allowed_rfc_col(
            F.col("url"),
            robots_compile_col(robots_rules_col(F.lit(None).cast("string"))),
        ).alias("b"),
    ).collect()
    assert all(r["a"] and r["b"] for r in empties)


def test_sitemap_entries_parse(spark):
    from docrawl_spark.operators.sitemap import sitemap_entries

    xml = (
        "<urlset>"
        "<url><loc>https://a.test/1</loc><lastmod>2026-01-01</lastmod>"
        "<priority>0.8</priority></url>"
        "<url><loc>  </loc><priority>0.1</priority></url>"   # blank loc dropped
        "<url><loc>https://a.test/2</loc></url>"             # optional fields null
        "</urlset>"
    )
    df = spark.createDataFrame([("a.test", xml)], "host string, sitemap_xml string")
    rows = sitemap_entries(df, keep_cols=["host"]).collect()
    assert [(r["loc"], r["lastmod"], r["priority"]) for r in rows] == [
        ("https://a.test/1", "2026-01-01", 0.8),
        ("https://a.test/2", None, None),
    ]
    assert all(r["host"] == "a.test" for r in rows)


def test_crawl_delay_parse_and_budget(spark):
    from docrawl_spark.operators.politeness import (
        budget_from_crawl_delay,
        crawl_delay_col,
    )

    rows = [
        ("User-agent: *\nCrawl-delay: 10\nDisallow: /x", 10.0, 360),
        ("Crawl-delay: 0.5", 0.5, 7200),
        ("Disallow: /y", 0.0, 100),            # absent -> default budget
        ("Crawl-delay: 7200", 7200.0, 1),      # floor < 1 -> min 1/wave
        ("Crawl-delay: abc", 0.0, 100),        # invalid -> default
        (None, 0.0, 100),
    ]
    df = spark.createDataFrame([(b,) for b, _, _ in rows], "blob string")
    got = df.select(
        crawl_delay_col(F.col("blob")).alias("d"),
        budget_from_crawl_delay(F.col("blob"), wave_seconds=3600, default_budget=100).alias("b"),
    ).collect()
    for (blob, want_d, want_b), r in zip(rows, got):
        assert r["d"] == want_d and r["b"] == want_b, (blob, r["d"], r["b"])


def test_robots_handles_crlf_blobs(spark):
    """Real robots.txt arrives CRLF-terminated; both the prefix gate
    and the RFC evaluator must not leave '\\r' in rule paths."""
    from docrawl_spark.operators.politeness import (
        robots_allowed_col,
        robots_allowed_rfc_col,
        robots_compile_col,
        robots_rules_col,
    )

    blob = "User-agent: *\r\nDisallow: /private\r\nAllow: /private/ok\r\n"
    df = spark.createDataFrame(
        [("https://h.test/private/x",), ("https://h.test/private/ok/y",),
         ("https://h.test/open",)],
        "url string",
    )
    rfc = [
        r[0]
        for r in df.select(
            robots_allowed_rfc_col(
                F.col("url"), robots_compile_col(robots_rules_col(F.lit(blob)))
            )
        ).collect()
    ]
    assert rfc == [False, True, True]
    # prefix gate: CRLF blob of bare prefixes
    pblob = "/private\r\n/tmp\r\n"
    pre = [
        r[0]
        for r in df.select(
            robots_allowed_col(F.col("url"), F.lit(pblob))
        ).collect()
    ]
    assert pre == [False, False, True]


# ---------------------------------------------------------------------------
# Production-fetch contract (operators/fetch.http_fetch) with a fake
# transport — the batching / retry / error-row logic is real code that
# must work without network. Module-level so it pickles to executors.
# ---------------------------------------------------------------------------

def _make_fake_transport():
    # returned as a CLOSURE (not a module-level function) so cloudpickle
    # serializes it by value — the tests package isn't importable on
    # Spark's Python workers
    def _fake_transport(url: str, timeout_s: float, attempt: int) -> dict:
        import datetime

        i = int(url.rsplit("/", 1)[1])
        if i % 7 == 3:
            raise RuntimeError(f"dead url {i}")          # fails every attempt
        if i % 5 == 2 and attempt < 2:
            raise TimeoutError(f"flaky url {i} attempt {attempt}")  # needs 2 retries
        return {
            "url": url,
            "status": 200 if i % 2 == 0 else 404,
            "content": f"body-{i}".encode(),
            "content_type": "text/html",
            "headers": {"server": "fake", "x-attempt": str(attempt)},
            "fetched_at": datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc),
            "elapsed_ms": float(i),
        }

    return _fake_transport


def test_fetch_batches_bounds_batch_size_and_schema():
    import pandas as pd

    from docrawl_spark.operators.fetch import _FETCHED_COLUMNS, make_fetch_batches

    gen = make_fetch_batches(_make_fake_transport(), timeout_s=1.0, batch_size=3, retries=2)
    pdf = pd.DataFrame({"url": [f"https://f.test/{i}" for i in range(10)]})
    frames = list(gen(iter([pdf])))
    assert [len(f) for f in frames] == [3, 3, 3, 1]  # batch bound holds
    for f in frames:
        assert list(f.columns) == _FETCHED_COLUMNS


def test_fetch_retry_and_error_rows():
    import pandas as pd

    from docrawl_spark.operators.fetch import make_fetch_batches

    pdf = pd.DataFrame({"url": [f"https://f.test/{i}" for i in range(15)]})
    # retries=2: flaky urls (i%5==2, need attempt 2) succeed; dead urls error
    gen = make_fetch_batches(_make_fake_transport(), 1.0, batch_size=50, retries=2)
    out = pd.concat(list(gen(iter([pdf])))).set_index("url")
    flaky = out.loc["https://f.test/2"]
    assert flaky["status"] == 200 and flaky["headers"]["x-attempt"] == "2"
    dead = out.loc["https://f.test/3"]
    assert dead["status"] == 0 and "dead url 3" in dead["error"]
    assert dead["content"] is None
    # retries=1: flaky urls now exhaust attempts -> error rows
    gen1 = make_fetch_batches(_make_fake_transport(), 1.0, batch_size=50, retries=1)
    out1 = pd.concat(list(gen1(iter([pdf])))).set_index("url")
    assert out1.loc["https://f.test/2"]["status"] == 0
    assert "flaky url 2" in out1.loc["https://f.test/2"]["error"]


def test_http_fetch_end_to_end_with_fake_transport(spark):
    from docrawl_spark.operators.fetch import http_fetch

    urls = spark.createDataFrame(
        [(f"https://f.test/{i}",) for i in range(20)], "url string"
    ).repartition(4)
    got = http_fetch(urls, batch_size=4, retries=2, transport=_make_fake_transport())
    rows = {r["url"]: r for r in got.collect()}
    assert len(rows) == 20
    for i in range(20):
        r = rows[f"https://f.test/{i}"]
        if i % 7 == 3:
            assert r["status"] == 0 and "dead url" in r["error"]
            assert r["content"] is None and r["fetched_at"] is None
        else:
            assert r["status"] == (200 if i % 2 == 0 else 404)
            assert bytes(r["content"]) == f"body-{i}".encode()
            assert r["headers"]["server"] == "fake"
            assert r["error"] is None


def test_sitemap_discovery_from_robots(spark):
    """RFC 9309 §2.3: Sitemap: directives parse case-insensitively,
    multiple per file, any position, CRLF endings, leading whitespace;
    file order is preserved; hosts without directives yield no rows."""
    from docrawl_spark.operators.sitemap import discover_sitemaps

    hosts = spark.createDataFrame(
        [
            ("a.test", "User-agent: *\nSitemap: https://a.test/s.xml\nDisallow: /x"),
            ("b.test", "sitemap: https://b.test/1.xml\r\nSITEMAP:\thttps://b.test/2.xml"),
            ("c.test", "Disallow: /y"),          # none
            ("d.test", "  Sitemap: https://d.test/a.xml"),  # leading ws
            ("e.test", None),                     # null blob
        ],
        "host string, robots_blob string",
    )
    got = {
        (r["host"], r["sitemap_order"]): r["sitemap_url"]
        for r in discover_sitemaps(hosts).collect()
    }
    assert got == {
        ("a.test", 0): "https://a.test/s.xml",
        ("b.test", 0): "https://b.test/1.xml",
        ("b.test", 1): "https://b.test/2.xml",
        ("d.test", 0): "https://d.test/a.xml",
    }


def test_streaming_url_dedup_across_batches(spark, tmp_path):
    """First occurrence wins ACROSS micro-batches: a URL seen in batch
    1 never re-emerges from batch 2; the streamed output equals the
    batch distinct of everything ingested."""
    from docrawl_spark.streaming.frontier_stream import streaming_url_dedup

    src = str(tmp_path / "cands")
    schema = "url string, wave long"
    spark.createDataFrame(
        [("https://a.test/1", 0), ("https://a.test/2", 0), ("https://a.test/1", 0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = streaming_url_dedup(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {r["url"] for r in spark.sql("SELECT * FROM dedup_out").collect()}
        assert got1 == {"https://a.test/1", "https://a.test/2"}
        # batch 2: one dup from batch 1, one genuinely new
        spark.createDataFrame(
            [("https://a.test/1", 1), ("https://a.test/3", 1)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM dedup_out").collect()
        assert {r["url"] for r in rows} == {
            "https://a.test/1", "https://a.test/2", "https://a.test/3",
        }
        assert len(rows) == 3  # no dup rows at all
        # the survivor of the cross-batch dup is the FIRST occurrence
        assert [r["wave"] for r in rows if r["url"] == "https://a.test/1"] == [0]
    finally:
        q.stop()


def test_streaming_url_dedup_within_watermark_is_streamable(spark, tmp_path):
    """The watermarked variant builds a valid streaming plan (bounded
    state) and drops in-horizon duplicates."""
    from docrawl_spark.streaming.frontier_stream import streaming_url_dedup

    src = str(tmp_path / "cands")
    import datetime as _dt

    schema = "url string, event_time timestamp"
    _t0 = _dt.datetime(2026, 1, 1, 0, 0, 0)
    spark.createDataFrame(
        [
            ("https://a.test/1", _t0),
            ("https://a.test/1", _t0 + _dt.timedelta(minutes=10)),
            ("https://a.test/2", _t0 + _dt.timedelta(minutes=20)),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_url_dedup(stream, within_watermark=True)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_wm")
        .option("checkpointLocation", str(tmp_path / "ckwm"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["url"] for r in spark.sql("SELECT * FROM dedup_wm").collect()}
        assert got == {"https://a.test/1", "https://a.test/2"}
    finally:
        q.stop()


def test_streaming_neardup_probe_matches_batch(spark, tmp_path):
    """Docs streamed in two waves probe the static band index; the
    union of streamed candidates equals the one-shot batch probe of
    the same docs."""
    import pyspark.sql.functions as SF

    from docrawl_spark.datapipe.dedup import lsh_probe_index, minhash_band_index
    from docrawl_spark.streaming.frontier_stream import run_streaming_neardup_probe

    base = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(i, base + f" corpusword{i % 2}") for i in range(6)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, base + f" corpusword{i % 2}") for i in range(4)],
        "doc_id long, text string",
    )
    idx = minhash_band_index(
        corpus, n_hashes=8, n_bands=4, hash_mode="md5hex"
    ).localCheckpoint()

    watch = str(tmp_path / "watch")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    new.where(SF.col("doc_id") < 102).write.mode("append").parquet(watch)
    new.where(SF.col("doc_id") >= 102).write.mode("append").parquet(watch)

    run_streaming_neardup_probe(spark, idx, watch, ckpt, out)

    got = {
        (r["new_id"], r["corpus_id"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["new_id"], r["corpus_id"])
        for r in lsh_probe_index(
            new, idx, n_hashes=8, n_bands=4, hash_mode="md5hex"
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_transitions_match_batch(spark, tmp_path):
    """Events streamed in two epochs: within-epoch lag pairs + the
    carry-stitched cross-epoch boundary transition must sum to exactly
    the one-shot batch transition matrix."""
    from datetime import datetime as DT

    import pyspark.sql.functions as SF
    from pyspark.sql import Window as W

    from docrawl_spark.streaming.frontier_stream import run_streaming_transitions

    t = lambda m: DT(2024, 1, 1, 0, m)
    rows = [
        # user 1: view,click in epoch 1 | purchase in epoch 2 →
        # boundary transition click→purchase must be stitched
        (1, 1, "view", t(0)), (2, 1, "click", t(1)),
        (3, 2, "view", t(0)),
        (4, 1, "purchase", t(5)), (5, 2, "click", t(6)), (6, 2, "view", t(7)),
    ]
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    batch1 = spark.createDataFrame(rows[:3], schema)
    batch2 = spark.createDataFrame(rows[3:], schema)
    watch = str(tmp_path / "watch")
    # one part-file per epoch: maxFilesPerTrigger=1 consumes a file at
    # a time, and the carry contract assumes per-user time order ACROSS
    # epochs — a multi-file batch would split users arbitrarily
    batch1.coalesce(1).write.mode("append").parquet(watch)
    batch2.coalesce(1).write.mode("append").parquet(watch)

    out = str(tmp_path / "out")
    run_streaming_transitions(
        spark, watch, str(tmp_path / "ckpt"), out, str(tmp_path / "carry")
    )

    got = {
        (r["src_type"], r["dst_type"]): r["n"]
        for r in spark.read.parquet(out + "/epoch=*")
        .groupBy("src_type", "dst_type")
        .agg(SF.sum("n_transitions").alias("n"))
        .collect()
    }
    full = spark.createDataFrame(rows, schema)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r["src_type"], r["dst_type"]): r["n"]
        for r in full.select(
            SF.lag("event_type").over(w).alias("src_type"),
            SF.col("event_type").alias("dst_type"),
        )
        .where(SF.col("src_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(SF.count(SF.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    assert ("click", "purchase") in got  # the stitched boundary pair


def test_streaming_hll_registers_match_batch_including_late(spark, tmp_path):
    """The live register table equals the batch sketch over everything
    ingested — including a second micro-batch whose events arrive LATE
    (earlier event time) but inside the watermark: they fold in by
    register MAX exactly like on-time rows. Estimation off the stored
    registers is a batch fold (hll_estimate_grouped)."""
    import datetime as dt

    from docrawl_spark.functions.sketches import hll_estimate_grouped
    from docrawl_spark.streaming.cardinality import streaming_hll_registers

    src = str(tmp_path / "ev")
    schema = "ts timestamp, user_id long"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def _rows(offsets_users):
        return [(t0 + dt.timedelta(minutes=m), u) for m, u in offsets_users]

    batch1 = _rows([(5, 1), (10, 2), (70, 3), (75, 1)])
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    reg = streaming_hll_registers(
        stream, "ts", "user_id", window_dur="1 hour", watermark="2 hours"
    )
    q = (
        reg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hll_reg_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: late events (hour-10 window again) + a new user
        batch2 = _rows([(20, 4), (80, 5), (25, 2)])
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = {
            (r["win_start"], r["bucket"], r["max_rho"])
            for r in spark.sql("SELECT * FROM hll_reg_out").collect()
        }
    finally:
        q.stop()

    expect = {
        (r["win_start"], r["bucket"], r["max_rho"])
        for r in streaming_hll_registers(
            spark.read.parquet(src), "ts", "user_id", window_dur="1 hour"
        ).collect()
    }
    assert got == expect and len(got) > 0

    est = {
        r["win_start"].hour: r["estimate_units"]
        for r in hll_estimate_grouped(
            spark.sql("SELECT * FROM hll_reg_out"), ["win_start"], p=6
        ).collect()
    }
    # hour 10 saw users {1,2,4}, hour 11 saw {1,3,5} — tiny cardinalities
    # sit on the exact linear-counting branch
    assert est[10] == 3 and est[11] == 3


def test_streaming_cms_counters_match_batch_and_bound(spark, tmp_path):
    """Streamed windowed count-min counters equal the batch sketch per
    window across micro-batches (late rows ADD into their window), and
    the stored counters point-query to the classic upper bound: exact
    for keys with no cell collisions, never below the true count."""
    import datetime as dt

    from docrawl_spark.functions.sketches import cms_estimate
    from docrawl_spark.streaming.cardinality import streaming_cms_counters

    src = str(tmp_path / "hits")
    schema = "ts timestamp, host string"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def _rows(spec):
        return [
            (t0 + dt.timedelta(minutes=m), h) for m, h, n in spec for _ in range(n)
        ]

    spark.createDataFrame(
        _rows([(5, "a.test", 6), (10, "b.test", 2), (70, "a.test", 1)]), schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = streaming_cms_counters(
        stream, "ts", "host", window_dur="1 hour", watermark="2 hours"
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_out")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    try:
        q.processAllAvailable()
        # late batch: hour-10 rows again, plus a new host
        spark.createDataFrame(
            _rows([(20, "a.test", 3), (80, "c.test", 4)]), schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {
            (r["win_start"], r["row"], r["cell"], r["cnt"])
            for r in spark.sql("SELECT * FROM cms_out").collect()
        }
    finally:
        q.stop()

    expect = {
        (r["win_start"], r["row"], r["cell"], r["cnt"])
        for r in streaming_cms_counters(
            spark.read.parquet(src), "ts", "host", window_dur="1 hour"
        ).collect()
    }
    assert got == expect and len(got) > 0

    hour10 = spark.sql(
        "SELECT row, cell, cnt FROM cms_out "
        "WHERE win_start = timestamp'2024-01-01 10:00:00'"
    )
    cand = spark.createDataFrame(
        [("a.test",), ("b.test",), ("nope.test",)], "host string"
    )
    est = {
        r["host"]: r["cm_estimate"]
        for r in cms_estimate(hour10, cand, "host").collect()
    }
    # upper bound, exact here (3 keys in 4x1024 cells never collide)
    assert est == {"a.test": 9, "b.test": 2, "nope.test": 0}


# ------------------------------------------------- stream-stream join


def _ssj_sources(spark, tmp_path):
    fetches = [
        ("h1.test", "http://h1.test/a", 200, "2026-01-01 00:10:00"),
        ("h3.test", "http://h3.test/x", 200, "2026-01-01 00:10:00"),
    ]
    robots = [
        ("h1.test", "sigA", "2026-01-01 00:05:00"),  # 300 s old: match
        ("h1.test", "sigB", "2026-01-01 00:09:00"),  # 60 s old: match
        ("h1.test", "sigC", "2026-01-01 00:10:30"),  # future: no match
        ("h1.test", "sigD", "2025-12-31 23:50:00"),  # > lag_s: no match
        ("h2.test", "sigE", "2026-01-01 00:09:00"),  # other host
    ]
    fsrc, rsrc = str(tmp_path / "fet"), str(tmp_path / "rob")
    spark.createDataFrame(
        fetches, "host string, url string, status int, ts_s string"
    ).select("host", "url", "status", F.to_timestamp("ts_s").alias("fetched_at")).write.parquet(fsrc)
    spark.createDataFrame(
        robots, "host string, robots_sig string, ts_s string"
    ).select("host", "robots_sig", F.to_timestamp("ts_s").alias("published_at")).write.parquet(rsrc)
    fs = spark.readStream.schema(
        "host string, url string, status int, fetched_at timestamp"
    ).parquet(fsrc)
    rs = spark.readStream.schema(
        "host string, robots_sig string, published_at timestamp"
    ).parquet(rsrc)
    return fs, rs


def test_stream_stream_interval_join_inner(spark, tmp_path):
    from docrawl_spark.streaming.joins import robots_fetch_interval_join

    fs, rs = _ssj_sources(spark, tmp_path)
    out = robots_fetch_interval_join(fs, rs, lag_s=600, watermark_s=60)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_inner")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["host"], r["robots_sig"], r["robots_age_s"])
        for r in spark.sql("SELECT * FROM ssj_inner").collect()
    }
    # exactly the in-window same-host snapshots; h3 (no robots) absent
    assert got == {("h1.test", "sigA", 300), ("h1.test", "sigB", 60)}


def test_stream_stream_interval_join_left_outer_starts(spark, tmp_path):
    """leftOuter form is accepted by the planner and runs; null-side
    emission awaits watermark closure, so tiny inputs may emit only
    matches — assert the matched rows and that h3's row, if emitted,
    carries nulls."""
    from docrawl_spark.streaming.joins import robots_fetch_interval_join

    fs, rs = _ssj_sources(spark, tmp_path)
    out = robots_fetch_interval_join(
        fs, rs, lag_s=600, watermark_s=60, how="leftOuter"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_outer")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM ssj_outer").collect()
    sigs = {r["robots_sig"] for r in rows if r["robots_sig"] is not None}
    assert sigs == {"sigA", "sigB"}
    for r in rows:
        if r["host"] == "h3.test":
            assert r["robots_sig"] is None and r["robots_age_s"] is None


def test_newest_robots_per_fetch_reduce(spark):
    from docrawl_spark.streaming.joins import newest_robots_per_fetch

    rows = [
        # (host, url, status, fetched_at, robots_sig, published_at, age)
        ("h1", "u1", 200, "2026-01-01 00:10:00", "old", "2026-01-01 00:05:00", 300),
        ("h1", "u1", 200, "2026-01-01 00:10:00", "new", "2026-01-01 00:09:00", 60),
        # tie on age: deterministic winner (same every run)
        ("h2", "u2", 200, "2026-01-01 00:10:00", "t1", "2026-01-01 00:09:00", 60),
        ("h2", "u2", 200, "2026-01-01 00:10:00", "t2", "2026-01-01 00:09:00", 60),
        # leftOuter no-match row: null robots must PASS THROUGH
        ("h3", "u3", 200, "2026-01-01 00:10:00", None, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "host string, url string, status int, f_s string, robots_sig string,"
        " p_s string, robots_age_s long",
    ).select(
        "host", "url", "status",
        F.to_timestamp("f_s").alias("fetched_at"),
        "robots_sig",
        F.to_timestamp("p_s").alias("published_at"),
        "robots_age_s",
    )
    out = {r["host"]: r for r in newest_robots_per_fetch(df).collect()}
    assert len(out) == 3
    assert out["h1"]["robots_sig"] == "new"
    assert out["h2"]["robots_sig"] in ("t1", "t2")
    # and the tie winner is stable across invocations
    again = {r["host"]: r for r in newest_robots_per_fetch(df).collect()}
    assert again["h2"]["robots_sig"] == out["h2"]["robots_sig"]
    assert out["h3"]["robots_sig"] is None


# ------------------------------------------------- streaming CDC sink


def test_streaming_cdc_apply_equals_batch_apply(spark, tmp_path):
    """Two changelog epochs streamed through the CDC sink must land
    the warehouse in exactly the state of one batch cdc_apply over the
    concatenated log (prefix-equivalence), with deletes applied and
    last-wins respected across epochs."""
    from docrawl_spark.sources.cdc import cdc_apply
    from docrawl_spark.sources.storage import Warehouse
    from docrawl_spark.streaming.cdc_sink import run_streaming_cdc_apply

    wh = Warehouse(str(tmp_path / "wh"), spark)
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    wh.overwrite("state", base)

    log1 = [(2, "b2", "U", 1), (4, "d", "I", 1)]
    log2 = [(2, "b3", "U", 2), (3, None, "D", 2), (4, None, "D", 2)]
    schema = "k long, v string, op string, seq int"
    src = str(tmp_path / "log")
    spark.createDataFrame(log1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # the file source orders epochs by modification time: force the
    # second slice strictly later so epoch order is deterministic
    import time as _time

    _time.sleep(1.1)
    spark.createDataFrame(log2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_streaming_cdc_apply(
        spark, stream, wh, "state", ["k"], "seq",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (r["k"], r["v"]) for r in wh.read("state").collect()
    )
    expect = sorted(
        (r["k"], r["v"])
        for r in cdc_apply(
            base,
            spark.createDataFrame(log1 + log2, schema),
            ["k"],
            "seq",
        ).collect()
    )
    assert got == expect == [(1, "a"), (2, "b3")]
