"""Deterministic total-order global ranking without a single-partition
window.

``row_number().over(Window.orderBy(...))`` collapses to ONE partition —
fine at toy scale, a non-starter on a 10^10-row frontier. This operator
computes the same dense 0-based rank scalably:

1. range-repartition + sort on the order columns (Spark's distributed
   sort; the same machinery as orderBy);
2. per-partition local row_number (window partitioned by partition id —
   parallel);
3. per-partition counts → driver (one tiny row per partition) →
   cumulative offsets broadcast back;
4. rank = partition offset + local row_number.

Deterministic as long as the order columns form a total order (callers
must include a unique tiebreaker, e.g. url_hash).

Steps 1 and 3 run Spark jobs when the rank is BUILT, and the result
rides a persisted frame. The crawl wave (plans/wave.schedule_wave) does
not use this operator: it ranks its ≤ Σ budgets selected rows lazily in
one sorted partition. Callers: driver queries and fairness."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_cols(order_cols: list) -> list[Column]:
    """Accept column names or Column expressions — an expression order
    key sorts on a derived value without materializing it through the
    exchange."""
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def with_global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rank",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``rank_col`` = dense global 0-based position of each row in
    the total order of ``order_cols`` (+ ``start``)."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Persist the input FIRST: repartitionByRange runs a sampling job to
    # pick range boundaries, and without a cache that sampling pass
    # re-executes the entire upstream plan (e.g. the politeness windows)
    # a second time.
    df = df.persist()
    ocols = _as_cols(order_cols)
    ordered = df.repartitionByRange(parts, *ocols)
    local = ordered.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_lrn",
        F.row_number().over(
            Window.partitionBy("_pid").orderBy(*[c.asc() for c in ocols])
        ),
    )
    # Persist before the counts action: repartitionByRange samples to
    # pick boundaries, so an uncached recompute could re-sample and
    # disagree with the collected counts. (MEMORY_AND_DISK — safe under
    # memory pressure.)
    local = local.persist()
    counts = (
        local.groupBy("_pid").count().orderBy("_pid").collect()
    )  # one row per partition — tiny; also materializes `local`
    df.unpersist()  # the range-partitioned copy supersedes the input cache
    offsets: dict[int, int] = {}
    acc = start
    for r in counts:
        offsets[r["_pid"]] = acc
        acc += r["count"]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    out = (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, (F.col("_off") + F.col("_lrn") - 1).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )
    return out


def priority_bands_col(
    priority_units: Column, band_bounds: list[int]
) -> Column:
    """Map a BIGINT priority to a band index: band 0 holds priorities
    >= bounds[0], band i holds [bounds[i], bounds[i-1]), the last band
    everything below. Bounds descend; pure CASE — no shuffle."""
    expr = F.lit(len(band_bounds))
    for i in range(len(band_bounds) - 1, -1, -1):
        expr = F.when(priority_units >= band_bounds[i], F.lit(i)).otherwise(
            expr
        )
    return expr.cast("int")


def write_priority_banded(
    frontier: DataFrame,
    warehouse,
    band_bounds: list[int],
    table: str = "frontier_banded",
    priority_col: str = "priority_units",
) -> str:
    """Persist the frontier partitioned by priority band (hive-style
    ``_band=`` dirs; on real Iceberg a partition transform). A
    10^10-row priority queue cannot be a sorted structure — but
    "take the next K" only needs the top band(s), and the band filter
    prunes at the DIRECTORY level, so the scheduler's hot read touches
    a fraction of the files regardless of total frontier size (same
    shape as similarity.ivf_write_index)."""
    banded = frontier.withColumn(
        "_band", priority_bands_col(F.col(priority_col), band_bounds)
    )
    return warehouse.overwrite(table, banded, partition_by=["_band"])


def read_top_bands(
    warehouse,
    max_band: int,
    table: str = "frontier_banded",
) -> DataFrame:
    """Scheduler hot path: read only bands <= max_band. The predicate
    lands in PartitionFilters (plan-asserted in tests) — unprobed
    bands' files are never opened."""
    return warehouse.read(table).where(F.col("_band") <= max_band)


def with_global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    rank_col: str = "rank",
    prefix_col: str = "prefix",
    num_partitions: int | None = None,
) -> DataFrame:
    """``with_global_rank`` plus the INCLUSIVE running sum of
    ``value_col`` in the same total order — the distributed prefix-sum:
    range sort, per-partition local cumsum (parallel windows), then one
    tiny per-partition (count, sum) collect whose cumulative offsets
    broadcast back. Same determinism contract: ``order_cols`` must
    totally order the rows. rank is 1-BASED here (the natural k for
    prefix-sum algebra: prefix(k) sums rows 1..k)."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    df = df.persist()
    ocols = _as_cols(order_cols)
    ordered = df.repartitionByRange(parts, *ocols)
    w = Window.partitionBy("_pid").orderBy(*[c.asc() for c in ocols])
    local = (
        ordered.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrn", F.row_number().over(w))
        .withColumn(
            "_lsum",
            F.sum(value_col).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    local = local.persist()
    stats = (
        local.groupBy("_pid")
        .agg(F.count("*").alias("c"), F.sum(value_col).alias("s"))
        .orderBy("_pid")
        .collect()
    )  # one row per partition — tiny; also materializes `local`
    df.unpersist()
    row_off, sum_off, offsets = 0, 0, []
    for r in stats:
        offsets.append((r["_pid"], row_off, sum_off))
        row_off += r["c"]
        sum_off += r["s"] or 0
    off_df = df.sparkSession.createDataFrame(
        offsets, "_pid int, _roff long, _soff long"
    )
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, (F.col("_roff") + F.col("_lrn")).cast("long"))
        .withColumn(prefix_col, (F.col("_soff") + F.col("_lsum")).cast("long"))
        .drop("_pid", "_lrn", "_lsum", "_roff", "_soff")
    )


def with_ntile(
    df: DataFrame,
    order_cols: list[str],
    k: int,
    bucket_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``bucket_col`` = NTILE(k) over the GLOBAL total order of
    ``order_cols`` — without the single-partition window a plain
    ``ntile(k).over(Window.orderBy(...))`` collapses to.

    Derivation: ``with_global_rank`` (distributed range-sort rank) +
    the closed-form NTILE rule — with N rows, the first N mod k buckets
    hold ceil(N/k) rows, the rest floor(N/k):

        r1 <= (N mod k) * (floor + 1)  →  (r1-1) div (floor+1) + 1
        else                           →  N mod k
                                          + (r1 - boundary - 1) div floor + 1

    in pure integer `div` (cross-engine exact vs a native NTILE). N
    rides in as a broadcast single-row count frame (the benign-BNLJ
    fixture pattern, CLAUDE.md) so the expression stays lazy. N < k is
    safe: boundary = N, every rank takes the first branch (no division
    by the zero floor)."""
    ranked = with_global_rank(
        df, order_cols, rank_col="_r", num_partitions=num_partitions
    )
    # N from the ranked frame (max rank + 1), NOT a second df.agg scan:
    # with_global_rank unpersists its input after ranking, so counting
    # df again would re-execute the whole upstream plan; the ranked
    # frame's internal copy stays cached. coalesce handles empty input.
    n = ranked.agg(
        F.coalesce(F.max("_r") + 1, F.lit(0)).cast("long").alias("_n")
    )
    j = (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("_r1", F.col("_r") + 1)
        .withColumn("_small", F.expr(f"_n div {int(k)}"))
        .withColumn("_rbig", F.expr(f"_n % {int(k)}"))
    )
    boundary = F.col("_rbig") * (F.col("_small") + 1)
    bucket = F.when(
        F.col("_r1") <= boundary,
        F.expr("(_r1 - 1) div (_small + 1) + 1"),
    ).otherwise(
        F.expr("_rbig + (_r1 - _rbig * (_small + 1) - 1) div _small + 1")
    )
    return (
        j.withColumn(bucket_col, bucket.cast("int"))
        .drop("_r", "_r1", "_n", "_small", "_rbig")
    )
