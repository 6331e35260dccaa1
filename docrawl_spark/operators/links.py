"""Link-graph analytics over discovered links and urls: anchor-term
index, path-prefix and url-template profiles, pagination chains and
outlink diversity.

The crawl's own link discovery (``discover_links``) and the wave's
pack layout live in ``operators/discovery.py``; ``pack_order_col`` is
re-exported here for callers that import it from this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docrawl_spark.operators.discovery import pack_order_col  # noqa: F401


def anchor_term_index(
    links: DataFrame,
    target_col: str = "url",
    text_col: str = "anchor_text",
    k: int = 5,
    n_salts: int = 8,
) -> DataFrame:
    """Link-text (anchor) index: the classic off-page relevance signal —
    what OTHER pages' link text says a target page is about. Per target
    url, the top-``k`` anchor terms by frequency (ties broken by term).

    Shape: explode terms → one map-side-combinable HashAggregate on
    (target, term) → SALTED two-phase per-target top-k (the same
    skew-safe pattern as host_policy.budget_topk): phase 1 ranks within
    (target, term-hash salt) and keeps the per-salt top-k — the global
    top-k is a subset of the union of per-salt top-ks, since dropping
    rows from other salts only promotes survivors — phase 2 ranks the
    ≤ n_salts·k survivors per target exactly. A viral target with 10^7
    distinct anchor terms never lands in one window task. Returns
    (target, term, n, rank)."""
    from pyspark.sql import Window

    terms = F.explode(
        F.filter(
            F.split(
                F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")), " "
            ),
            lambda t: t != "",
        )
    ).alias("term")
    counts = (
        links.select(F.col(target_col).alias("target"), terms)
        .groupBy("target", "term")
        .agg(F.count("*").alias("n"))
    )
    ordering = [F.col("n").desc(), F.col("term").asc()]
    salted = counts.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("term")), F.lit(n_salts))
    )
    w1 = Window.partitionBy("target", "_salt").orderBy(*ordering)
    phase1 = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy("target").orderBy(*ordering)
    return phase1.withColumn("rank", F.row_number().over(w2)).where(F.col("rank") <= k)


def path_prefix_profile(
    urls: DataFrame,
    depth: int = 1,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """Per-host URL histogram by leading path segments — the site-map
    shape a crawl planner budgets by (a /calendar/ section with 10^6
    near-identical URLs is a trap surface; /docs/ with steady yield is
    where budget belongs). ``depth`` = number of leading segments kept
    ('' for root); prefixes are exact strings, counts per (host,
    prefix) with the host's total and an exact ppm share.

    Scale shape: pure string exprs in the scan → one HashAggregate to
    (host, prefix) → host-dim totals join (AQE broadcasts). Returns
    (host, prefix, n_urls, host_urls, share_ppm).
    """
    from docrawl_spark.functions.canon import path_of_col

    segs = F.filter(
        F.split(path_of_col(F.col(url_col)), "/"), lambda s: s != ""
    )
    prefix = F.concat(
        F.lit("/"),
        F.array_join(F.slice(segs, 1, int(depth)), "/"),
    )
    per = (
        urls.select(F.col(host_col).alias("host"), prefix.alias("prefix"))
        .groupBy("host", "prefix")
        .agg(F.count("*").cast("long").alias("n_urls"))
    )
    tot = per.groupBy("host").agg(F.sum("n_urls").alias("host_urls"))
    return (
        per.join(tot, "host")
        .select(
            "host",
            "prefix",
            "n_urls",
            "host_urls",
            F.expr("n_urls * 1000000L div host_urls").alias("share_ppm"),
        )
    )


def pagination_page_col(url: Column) -> Column:
    """Page number from a ``?page=N`` / ``&page=N`` query param (the
    dominant pagination idiom); NULL when the URL carries none.
    Lookahead-free regex so Java and RE2 agree."""
    return F.nullif(
        F.regexp_extract(url, r"[?&]page=([0-9]+)", 1), F.lit("")
    ).cast("long")


def pagination_series_col(url: Column) -> Column:
    """The pagination SERIES key: the URL with its page param removed
    and the query string re-normalized (``?&``→``?``, trailing
    separators stripped) — every page of one listing collapses to one
    key. Row-local JVM regexp, shuffle-free."""
    s = F.regexp_replace(url, r"([?&])page=[0-9]+", r"$1")
    s = F.regexp_replace(s, r"\?&", "?")
    return F.regexp_replace(s, r"[?&]+$", "")


def pagination_chains(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Group paginated URLs into chains: (id, series_key, page_no,
    chain_len, pos, is_first, is_last). A crawler uses this to bound
    chain depth (trap defense shares the signature idea) and to treat
    a listing's pages as ONE logical document for dedup/extraction.

    The window partitions on series_key — chains are bounded by the
    site's real pagination depth, so no skew; non-paginated URLs
    (NULL page) are excluded rather than forced into fake singleton
    chains."""
    from pyspark.sql import Window

    parsed = df.select(
        F.col(id_col),
        pagination_series_col(F.col(url_col)).alias("series_key"),
        pagination_page_col(F.col(url_col)).alias("page_no"),
    ).where(F.col("page_no").isNotNull())
    w = Window.partitionBy("series_key").orderBy(
        F.col("page_no").asc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("series_key")
    return (
        parsed.withColumn("pos", F.row_number().over(w))
        .withColumn("chain_len", F.count(F.lit(1)).over(wc))
        .select(
            id_col,
            "series_key",
            "page_no",
            "chain_len",
            "pos",
            (F.col("pos") == 1).alias("is_first"),
            (F.col("pos") == F.col("chain_len")).alias("is_last"),
        )
    )


def url_template_col(path: Column) -> Column:
    """Generalize a URL path into its *template*: long hex runs (ids,
    digests; >=8 chars) become ``{h}`` first, then any digit run
    becomes ``{d}``. ``/doc/2024/07/a3f9c2d1e4b50000`` →
    ``/doc/{d}/{d}/{h}``.

    Order matters (hex before digits: a digit run is also a hex run);
    both regexes are lookahead-free and lazy-free so Java regex and
    DuckDB's RE2 agree byte-for-byte (CLAUDE.md round-3 trap notes).
    """
    hexed = F.regexp_replace(path, r"[0-9a-f]{8,}", "{h}")
    return F.regexp_replace(hexed, r"[0-9]+", "{d}")


def url_template_profile(
    urls: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
    yield_col: str | None = None,
) -> DataFrame:
    """Mine per-(host, template) URL-template statistics — the
    crawl-scheduler's section map one level finer than
    ``path_prefix_profile``.

    Real sites serve most of their pages through a handful of URL
    templates (``/doc/{d}``, ``/tag/{d}/page/{d}``, …); template-level
    stats tell the scheduler which patterns are page factories worth
    budget and which are parameter traps (huge n_pages with near-zero
    yield). Reference analogue: docrawl has no scheduler at all — this
    generalizes the implicit "crawl whatever the user scripted"
    (``/root/reference/docrawl/docrawl_core.py:1039-1123``) into a
    prioritizable surface.

    Per (host, template): ``n_pages``, ``n_paths`` (distinct concrete
    paths — n_pages > n_paths flags refetch/alias pressure),
    ``example_path`` (lexicographic min, a stable representative), and
    — when ``yield_col`` is given — exact BIGINT ``sum_yield`` plus
    ``yield_per_page`` (integer div). 100 TB shape: one map-side
    combinable HashAggregate on (host, template); template cardinality
    is tiny relative to URLs, so the shuffle carries only the
    aggregated dimension.
    """
    base = urls.select(
        F.col(host_col).alias("host"),
        F.col(path_col).alias("path"),
        url_template_col(F.col(path_col)).alias("template"),
        *(
            [F.col(yield_col).cast("long").alias("_yield")]
            if yield_col
            else []
        ),
    )
    aggs = [
        F.count("*").cast("long").alias("n_pages"),
        F.countDistinct("path").cast("long").alias("n_paths"),
        F.min("path").alias("example_path"),
    ]
    if yield_col:
        aggs.append(F.sum("_yield").cast("long").alias("sum_yield"))
    out = base.groupBy("host", "template").agg(*aggs)
    if yield_col:
        out = out.withColumn(
            "yield_per_page", F.expr("sum_yield div n_pages").cast("long")
        )
    return out


def outlink_diversity(
    edges: DataFrame,
    suffixes: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Per-source-host outlink diversity — the classic URL-graph spam
    signal (link farms emit thousands of edges into a handful of
    registrable domains; organic sites don't).

    Per ``src_host``: ``n_outlinks`` (edge multiset size),
    ``n_dst_hosts`` (distinct targets), ``n_dst_domains`` (distinct
    registrable domains of targets, eTLD+1 via functions/domains —
    NULL-domain targets, i.e. hosts that ARE a public suffix, count as
    their own host), ``self_ppm`` (share of edges pointing back at the
    source host itself), ``diversity_ppm`` (distinct dst domains per
    outlink). All exact BIGINT ppm.

    100 TB shape: edges aggregate host-dim → one HashAggregate; the
    registrable-domain map is host-dim sized and broadcast-joined; no
    window, no page-level blowup.
    """
    from docrawl_spark.functions.domains import registrable_domains

    dsts = edges.select(F.col(dst_col).alias("host")).distinct()
    dom = registrable_domains(dsts, suffixes).select(
        F.col("host").alias("_dst"),
        F.coalesce("registrable_domain", "host").alias("_dst_dom"),
    )
    e = edges.select(
        F.col(src_col).alias("src_host"), F.col(dst_col).alias("_dst")
    ).join(F.broadcast(dom), "_dst")
    return e.groupBy("src_host").agg(
        F.count("*").cast("long").alias("n_outlinks"),
        F.countDistinct("_dst").cast("long").alias("n_dst_hosts"),
        F.countDistinct("_dst_dom").cast("long").alias("n_dst_domains"),
        F.expr(
            "sum(case when src_host = _dst then 1L else 0L end)"
            " * 1000000L div count(*)"
        ).alias("self_ppm"),
        F.expr(
            "count(distinct _dst_dom) * 1000000L div count(*)"
        ).alias("diversity_ppm"),
    )
