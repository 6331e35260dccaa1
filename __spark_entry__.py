"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: one crawl wave (``plans/wave.schedule_wave``:
robots gate → salted per-host politeness budget → deterministic global
visit order) over a URL universe derived from sf0.001.

``queries()`` / ``oracle_sql()`` — one entry per SQL-expressible
sub-operator (see docrawl_spark/plans/driver_queries.py) checked
against DuckDB by the driver at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docrawl_spark.plans import driver_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: schedule one crawl wave over sf0.001-derived
    candidates with the crawl engine's own wave,
    ``plans/wave.schedule_wave``. Each document's url is a candidate at
    (parent_rank = doc_id, offset 0); every host has budget 5, and the
    hosts whose source name ends in an even digit disallow ``/doc/1``.
    Returns (visit_rank, url, host, depth), visit_rank 0-based."""
    from docrawl_spark.functions.canon import url_hash_col
    from docrawl_spark.plans.wave import schedule_wave

    sf_dir = "/root/testdata/sf0.001"
    urls = driver_queries._doc_urls(spark, sf_dir)
    candidates = urls.select(
        url_hash_col("url").alias("url_hash"),
        "url",
        "host",
        url_hash_col("host").alias("host_hash"),
        F.lit(0).alias("depth"),
        F.col("doc_id").cast("long").alias("parent_rank"),
        F.lit(0).alias("offset"),
    )
    hosts = (
        urls.select("host")
        .distinct()
        .select(
            "host",
            F.lit(5).alias("budget"),
            F.when(
                F.substring(F.col("host"), -6, 1).cast("int") % 2 == 0,
                F.lit("/doc/1"),
            ).otherwise(F.lit("")).alias("robots_blob"),
        )
    )
    return schedule_wave(candidates, hosts, rank_col="visit_rank").select(
        "visit_rank", "url", "host", "depth"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return driver_queries.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query."""
    return driver_queries.oracle_sql()
