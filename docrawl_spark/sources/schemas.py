"""Table schemas for the crawl engine (SURVEY.md §1.2).

The authoritative input shape is BASELINE.json ``input_hint``:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Span ``kind`` vocabulary = the reference's ElementType values
(docrawl/elements.py:11-21). At production scale these are Iceberg
tables (partitioned as noted per-table); in this sandbox the same
schemas are written as snapshot-versioned parquet (see storage.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Reference ElementType values (docrawl/elements.py:11-21).
SPAN_KINDS = (
    "bullet",
    "link",
    "text",
    "headline",
    "image",
    "button",
    "table",
    "context",
    "element",
    "cookies",
    "input",
)

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# The authoritative input table. Production: Iceberg, partitioned by
# bucket(N, xxhash64(doc_id)) so fetch-joins co-locate.
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("seed_order", T.IntegerType(), False),
    ]
)

# Politeness + robots dimension; tiny (≤ millions of hosts) → broadcast.
HOSTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("host_hash", T.LongType(), False),
        T.StructField("crawl_delay", T.DoubleType(), False),
        T.StructField("budget", T.IntegerType(), False),
        T.StructField("robots_blob", T.StringType(), True),
    ]
)

URL_SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        # stored (not derived) so the wave's 3-key anti-join consumes
        # the seen side without re-parsing url strings every wave
        # (plans/wave.schedule_wave_stages); legacy
        # tables without the column still work — the wave derives it
        T.StructField("host_hash", T.LongType(), False),
        T.StructField("first_wave", T.IntegerType(), False),
    ]
)

# Long-form extracted tables (reference O6, docrawl_core.py:949-1009).
EXTRACTED_TABLES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("table_id", T.IntegerType(), False),
        T.StructField("row_id", T.IntegerType(), False),
        T.StructField("col_id", T.IntegerType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("cell", T.StringType(), True),
    ]
)

CRAWL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("checkpoint_id", T.StringType(), False),
        T.StructField("metrics", T.MapType(T.StringType(), T.DoubleType()), True),
    ]
)
