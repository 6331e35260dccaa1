"""Sitemap ingestion — XML seed lists into the frontier.

Real crawls bootstrap (and re-crawl) from sitemaps: per-host XML
documents listing <url><loc/><lastmod/><priority/></url> entries. This
operator parses them JVM-side with Spark 4's native ``from_xml`` (no
Python in the path) into frontier-seed rows; lastmod feeds recrawl
scheduling (operators/recrawl); priority is parsed but no scheduler
consumes it yet.

Scale shape: one column expression per sitemap document — a corpus of
sitemaps parses as an ordinary projected scan, no shuffle; explode
fans each sitemap into its entries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SITEMAP_SCHEMA = T.StructType(
    [
        T.StructField(
            "url",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("loc", T.StringType()),
                        T.StructField("lastmod", T.StringType()),
                        T.StructField("priority", T.DoubleType()),
                    ]
                )
            ),
        )
    ]
)


def parse_sitemap_col(xml: Column) -> Column:
    """<urlset> XML string → array<struct<loc,lastmod,priority>>
    (document order preserved)."""
    return F.from_xml(xml, SITEMAP_SCHEMA).getField("url")


def sitemap_entries(
    df: DataFrame, xml_col: str = "sitemap_xml", keep_cols: list[str] | None = None
) -> DataFrame:
    """Explode sitemap documents into one row per <url> entry:
    (*keep_cols, loc, lastmod, priority), empty/blank locs dropped."""
    keep = keep_cols or []
    e = df.select(
        *keep, F.explode(parse_sitemap_col(F.col(xml_col))).alias("_u")
    ).select(
        *keep,
        F.trim(F.col("_u.loc")).alias("loc"),
        F.col("_u.lastmod").alias("lastmod"),
        F.col("_u.priority").alias("priority"),
    )
    return e.where(F.col("loc").isNotNull() & (F.col("loc") != ""))


SITEMAP_INDEX_SCHEMA = T.StructType(
    [
        T.StructField(
            "sitemap",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("loc", T.StringType()),
                        T.StructField("lastmod", T.StringType()),
                    ]
                )
            ),
        )
    ]
)


def parse_sitemap_index_col(xml: Column) -> Column:
    """<sitemapindex> XML → array<struct<loc,lastmod>> of child
    sitemap references (sitemaps.org: indexes list sitemaps, never
    nest further — one resolution hop suffices)."""
    return F.from_xml(xml, SITEMAP_INDEX_SCHEMA).getField("sitemap")


def expand_sitemap_index(
    indexes: DataFrame,
    children: DataFrame,
    xml_col: str = "sitemap_xml",
    child_url_col: str = "sitemap_url",
    child_xml_col: str = "sitemap_xml",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Resolve <sitemapindex> documents into frontier entries: explode
    the child <loc>s (one hop — the spec forbids nested indexes), join
    the fetched child-sitemap corpus on its URL, then parse entries as
    usual. At scale this is an equi-join of two sitemap-corpus-sized
    tables (both tiny next to the frontier) followed by the ordinary
    projected-scan parse — no shuffle beyond the one join."""
    keep = keep_cols or []
    locs = (
        indexes.select(
            *keep,
            F.explode(parse_sitemap_index_col(F.col(xml_col))).alias("_s"),
        )
        .select(*keep, F.trim(F.col("_s.loc")).alias("_child_loc"))
        .where(F.col("_child_loc").isNotNull() & (F.col("_child_loc") != ""))
    )
    joined = locs.join(
        children.select(
            F.col(child_url_col).alias("_child_loc"),
            F.col(child_xml_col).alias("_child_xml"),
        ),
        "_child_loc",
    )
    return sitemap_entries(
        joined, xml_col="_child_xml", keep_cols=keep
    )


def sitemap_directives_col(robots_blob: Column) -> Column:
    """``Sitemap:`` directive URLs out of a robots.txt blob, in file
    order — how a crawler DISCOVERS a host's sitemaps in the first
    place (RFC 9309 §2.3 allows any casing and multiple directives
    anywhere in the file, outside any user-agent group). Returns
    array<string>; missing/blank blob → empty array. Pure JVM regexp —
    runs inside the robots-dim scan, no shuffle."""
    return F.regexp_extract_all(
        F.coalesce(robots_blob, F.lit("")),
        F.lit(r"(?mi)^[ \t]*sitemap:[ \t]*(\S+)"),
        1,
    )


def discover_sitemaps(
    hosts: DataFrame, host_col: str = "host", blob_col: str = "robots_blob"
) -> DataFrame:
    """hosts dim → one row per (host, sitemap_url, sitemap_order)
    discovered from its robots blob (file order preserved via
    posexplode). Feeds sitemap_entries after the fetch stage pulls the
    XML bodies."""
    return hosts.select(
        F.col(host_col).alias("host"),
        F.posexplode(sitemap_directives_col(F.col(blob_col))).alias(
            "sitemap_order", "sitemap_url"
        ),
    ).select("host", "sitemap_url", "sitemap_order")


def sitemap_coverage(
    crawled: DataFrame,
    sitemap_urls: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """Per-host crawl-vs-sitemap audit: how much of what was crawled
    the host actually declares (coverage), what was crawled organically
    that the sitemap omits, and what the sitemap promises that was
    never fetched (the gap → seed candidates for the next wave).

    One full-outer equi-join on (host, url) + one host aggregate —
    both shuffle on keys the data is naturally spread over; the ppm
    coverage is integer-exact."""
    c = crawled.select(
        F.col(host_col).alias("_ch"), F.col(url_col).alias("_u")
    ).withColumn("_c", F.lit(1))
    s = sitemap_urls.select(
        F.col(host_col).alias("_sh"), F.col(url_col).alias("_u")
    ).withColumn("_s", F.lit(1))
    j = c.join(s, "_u", "full_outer").select(
        F.coalesce("_ch", "_sh").alias("host"), "_c", "_s"
    )
    agg = j.groupBy("host").agg(
        F.sum(F.coalesce("_c", F.lit(0))).alias("n_crawled"),
        F.sum(
            F.when(F.col("_c").isNotNull() & F.col("_s").isNotNull(), 1).otherwise(0)
        ).alias("n_in_sitemap"),
        F.sum(
            F.when(F.col("_c").isNotNull() & F.col("_s").isNull(), 1).otherwise(0)
        ).alias("n_organic_only"),
        F.sum(
            F.when(F.col("_c").isNull() & F.col("_s").isNotNull(), 1).otherwise(0)
        ).alias("n_sitemap_only"),
    )
    return agg.withColumn(
        "coverage_ppm",
        F.expr(
            "n_in_sitemap * CAST(1000000 AS BIGINT) "
            "div greatest(n_crawled, CAST(1 AS BIGINT))"
        ),
    )


SITEMAP_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField(
            "url",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("loc", T.StringType()),
                        T.StructField(
                            "image:image",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("image:loc", T.StringType()),
                                        T.StructField(
                                            "image:caption", T.StringType()
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


def sitemap_image_entries(
    df: DataFrame, xml_col: str = "sitemap_xml", keep_cols: list[str] | None = None
) -> DataFrame:
    """Google image-sitemap extension: ``<url>`` entries carrying
    ``<image:image><image:loc/><image:caption/></image:image>``
    children — the sitemap-declared media inventory that seeds the
    media_ref fetch stage WITHOUT crawling the page first (and pairs
    captions with images for multimodal training data at zero
    extraction cost).

    One row per declared image: ``(*keep_cols, loc, img_order,
    image_loc, caption)`` in document order; pages without images
    yield no rows; blank image locs dropped; absent captions are
    NULL. Namespaced element names parse verbatim through Spark's
    native ``from_xml`` (same zero-Python scan shape as the base
    sitemap parser above).
    """
    keep = keep_cols or []
    pages = df.select(
        *keep,
        F.explode(
            F.from_xml(F.col(xml_col), SITEMAP_IMAGE_SCHEMA).getField("url")
        ).alias("_u"),
    ).select(
        *keep,
        F.trim(F.col("_u").getField("loc")).alias("loc"),
        F.col("_u").getField("image:image").alias("_imgs"),
    )
    e = pages.where(
        F.col("loc").isNotNull() & (F.col("loc") != "") & F.col("_imgs").isNotNull()
    ).select(
        *keep,
        "loc",
        F.posexplode("_imgs").alias("img_order", "_img"),
    )
    return e.select(
        *keep,
        "loc",
        "img_order",
        F.trim(F.col("_img").getField("image:loc")).alias("image_loc"),
        F.col("_img").getField("image:caption").alias("caption"),
    ).where(F.col("image_loc").isNotNull() & (F.col("image_loc") != ""))
