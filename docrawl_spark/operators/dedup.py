"""Seen-set probes outside the crawl wave: Bloom prefilter + exact
anti-join on url_hash.

The crawl wave resolves seen-ness inside its own single exchange
(plans/wave.schedule_wave). This operator serves the probes that are
NOT co-partitioned with it — recrawl/requeue checks and seen tables
bucketed by url_hash. Two layers (SURVEY.md §4.2):

- **Bloom prefilter** (optional): ``functions/bloom.build_bloom`` over
  the seen url_hashes → one binary blob → ``might_contain`` evaluated
  in the candidate scan. Rows the Bloom rejects are DEFINITELY unseen and skip
  the anti-join shuffle entirely; only the might-contain fraction
  (true seen + ~fpp false positives) pays the join. The Bloom is never
  the source of truth — false positives are resolved by the exact join,
  and false negatives are impossible by construction (property-tested).

- **exact left_anti join** on url_hash. At cluster scale both sides are
  bucketed by url_hash (Iceberg ``bucket(N, url_hash)``), making this a
  shuffle-free sort-merge; in local mode AQE picks the strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docrawl_spark.functions.bloom import might_contain_col


def anti_join_seen(
    candidates: DataFrame,
    url_seen: DataFrame,
    bloom: bytes | None = None,
) -> DataFrame:
    """Rows of ``candidates`` whose url_hash is not in ``url_seen``.

    With a ``bloom`` blob, rows the Bloom rejects skip the anti-join
    shuffle and only the might-contain fraction pays the exact join —
    worth it where candidates are NOT co-located with the seen set
    (recrawl/requeue probes, the storage-bucketed seen table of the
    BENCH.md 100 TB notes). Without one, the join stays unhinted so
    Spark can still pick a broadcast-hash anti-join for a small seen
    set, which moves ZERO candidate bytes.

    The crawl wave does not use this operator: plans/wave.schedule_wave
    runs a 3-key anti-join co-partitioned with its dedup exchange,
    where a Bloom probe is measured-negative (a pandas/Arrow UDF
    projection breaks outputPartitioning propagation, so the planner
    re-exchanges the very candidate side the co-partitioning saves)."""
    if bloom is None:
        return candidates.join(url_seen.select("url_hash"), "url_hash", "left_anti")
    # Persist before splitting: the union of two filters over the same
    # parent would otherwise execute the parent (e.g. an upstream
    # groupBy) twice.
    flagged = candidates.withColumn(
        "_maybe", might_contain_col(candidates, bloom, "url_hash")
    ).persist()
    new_for_sure = flagged.where(~F.col("_maybe")).drop("_maybe")
    resolved = (
        flagged.where(F.col("_maybe"))
        .drop("_maybe")
        .join(url_seen.select("url_hash"), "url_hash", "left_anti")
    )
    return new_for_sure.unionByName(resolved)
