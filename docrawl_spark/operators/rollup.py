"""Incremental aggregate maintenance from CDC deltas.

At 100 TB you do not recompute `GROUP BY host` rollups by rescanning
the table after every crawl wave — you apply the wave's change-sized
CDC delta (sources/cdc.snapshot_diff) to the existing rollup:

    new_rollup = old_rollup ⊕ adjustments(delta)

where COUNT/SUM adjustments are +measure for `added`, −old measure for
`removed`, and (new − old) for `changed`. The merge is one
delta-keyed HashAggregate (delta-sized, not table-sized) plus one
full-outer join against the rollup dim — the materialized-view upkeep
pattern Iceberg/Delta pipelines run off their changelogs.

Only distributive aggregates (COUNT, SUM — and MIN/MAX on insert-only
feeds) maintain incrementally; anything holistic (exact quantiles)
still needs the sketch route (functions/sketches.log2_histogram, which
merges by counter addition and so is ALSO maintainable here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def rollup_adjustments(
    delta: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """Collapse a snapshot_diff delta to per-group adjustment rows:
    d_n (row-count delta) and d_<m> for each summed measure."""
    aggs = [
        F.sum(
            F.when(F.col("change_type") == "added", 1)
            .when(F.col("change_type") == "removed", -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("d_n")
    ]
    for m in sum_cols:
        aggs.append(
            F.sum(
                F.when(F.col("change_type") == "added", F.col(f"new_{m}"))
                .when(F.col("change_type") == "removed", -F.col(f"old_{m}"))
                .otherwise(F.col(f"new_{m}") - F.col(f"old_{m}"))
            )
            .cast("long")
            .alias(f"d_{m}")
        )
    return delta.groupBy(*group_cols).agg(*aggs)


def apply_rollup_delta(
    stats: DataFrame,
    adjustments: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Merge adjustments into the existing rollup. Groups whose count
    reaches zero drop out; groups new to the delta appear. One
    full-outer join on the group key — both sides are group-dim-sized,
    so this never touches the fact table."""
    merged = stats.join(adjustments, group_cols, "full_outer")
    out_cols = [F.col(c) for c in group_cols]
    n = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(
        F.col("d_n"), F.lit(0)
    )
    out_cols.append(n.cast("long").alias(count_col))
    for m in sum_cols:
        out_cols.append(
            (
                F.coalesce(F.col(f"sum_{m}"), F.lit(0))
                + F.coalesce(F.col(f"d_{m}"), F.lit(0))
            )
            .cast("long")
            .alias(f"sum_{m}")
        )
    return merged.select(*out_cols).where(F.col(count_col) > 0)


def rollup_from_state(
    state: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
) -> DataFrame:
    """The direct (full-recompute) rollup — the definition the
    incremental path must reproduce exactly."""
    aggs = [F.count(F.lit(1)).cast("long").alias(count_col)]
    for m in sum_cols:
        aggs.append(F.sum(F.col(m)).cast("long").alias(f"sum_{m}"))
    return state.groupBy(*group_cols).agg(*aggs)
