"""Link discovery and the wave's pack layout — the two pieces of the
crawl engine that turn fetched pages into next-wave candidates and
order them.

``discover_links``: fetched span documents → canonical next-wave
candidate URLs (the reference's link-extraction semantics, SURVEY.md
§2.3-2.4, as one declarative pipeline). Stages (all columnar; the only
Python is the Arrow-batched canonicalization UDF, and its fast paths
keep the per-row fallback to a sliver):

1. in-array kind filter + RAW media_ref filter: drop refs containing
   'javascript' or 'mailto' BEFORE canonicalization (reference filters
   the href attribute, elements.py:61-71) — pushed inside the array so
   the explode generates only real candidates;
2. explode → (parent doc, parent visit_rank, offset, media_ref);
3. canonicalize against the parent doc_id (``with_abs_url``: the
   Arrow-native ``canonicalize_arrow`` UDF, ≡ ``build_abs_url``);
4. split: canonicalization errors → quarantine rows; good rows get
   host / host_hash / url_hash columns (JVM-side).

``pack_order_col`` / ``unpack_order_cols``: the keep-first order key
of ``plans/wave.schedule_wave`` packed into one BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import url_hash_col, with_abs_url


def discover_links(
    fetched: DataFrame,
    doc_col: str = "doc_id",
    spans_col: str = "spans",
    parent_rank_col: str = "visit_rank",
    depth_col: str = "depth",
) -> DataFrame:
    """fetched docs (doc_id, spans, visit_rank, depth) → candidate rows
    (url, canon_error, discovered_by, parent_rank, offset, depth,
    host, host_hash, url_hash). Rows with canon_error != null are the
    quarantine stream (filter on it downstream)."""
    links = F.filter(
        F.col(spans_col),
        lambda s: (s["kind"] == "link")
        & ~F.coalesce(s["media_ref"], F.lit("")).contains("javascript")
        & ~F.coalesce(s["media_ref"], F.lit("")).contains("mailto"),
    )
    exploded = fetched.select(
        F.col(doc_col).alias("discovered_by"),
        F.col(parent_rank_col).alias("parent_rank"),
        (F.col(depth_col) + F.lit(1)).alias("depth"),
        F.explode(links).alias("span"),
    ).select(
        "discovered_by",
        "parent_rank",
        "depth",
        F.col("span.offset").alias("offset"),
        F.col("span.media_ref").alias("media_ref"),
    )
    # host rides the canon struct (one RE2 batch inside the UDF) —
    # ≡ host_of_col(url) without the per-row Java regex downstream
    canon = with_abs_url(exploded, "media_ref", "discovered_by", host_out="host")
    return canon.select(
        "url",
        "canon_error",
        "media_ref",
        "discovered_by",
        "parent_rank",
        "offset",
        "depth",
        "host",
        url_hash_col("host").alias("host_hash"),
        url_hash_col("url").alias("url_hash"),
    )


# pack layout: (parent_rank+1) in the top 38 bits, offset (≤2^20-1) in
# the middle, depth (≤31) in the low 5 — so min(pack) == lexicographic
# min of (parent_rank, offset). A single BIGINT buffer keeps the
# aggregate a HashAggregate with map-side combine (a struct-min buffer
# demotes to SortAggregate — measured ~2x slower at 8M rows).
_OFF_BITS, _DEPTH_BITS = 20, 5
_PACK_SHIFT = _OFF_BITS + _DEPTH_BITS


def pack_order_col() -> Column:
    """The wave's keep-first order key of the (parent_rank, offset,
    depth) columns packed into ONE BIGINT:
    (parent_rank+1) << 25 | min(offset, 2^20-1) << 5 | min(depth, 31).
    min(pack) == lexicographic min of (parent_rank, offset) — the
    within-wave dedup key of plans/wave.schedule_wave, whose payload
    rejoin keys on the SAME packed value computed on both sides."""
    return (
        (F.col("parent_rank") + 1) * F.lit(1 << _PACK_SHIFT)
        + F.least(F.col("offset").cast("long"), F.lit((1 << _OFF_BITS) - 1))
        * F.lit(1 << _DEPTH_BITS)
        + F.least(F.col("depth").cast("long"), F.lit((1 << _DEPTH_BITS) - 1))
    )


def unpack_order_cols(pack: Column) -> tuple[Column, Column, Column]:
    """(parent_rank, offset, depth) decoded from :func:`pack_order_col`
    (offset/depth come back clamped)."""
    return (
        (F.shiftright(pack, _PACK_SHIFT) - 1),
        F.shiftright(pack, _DEPTH_BITS)
        .bitwiseAND(F.lit((1 << _OFF_BITS) - 1))
        .cast("int"),
        pack.bitwiseAND(F.lit((1 << _DEPTH_BITS) - 1)).cast("int"),
    )
