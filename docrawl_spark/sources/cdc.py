"""Change data capture over table states: ``snapshot_diff`` classifies
the rows that differ between two states of a table, and
``cdc_compact`` / ``cdc_apply`` fold an ordered I/U/D changelog into
a table state. Pair them with ``sources/storage.Warehouse.read(table, as_of=...)``
to diff or replay any two committed snapshots; the streaming twin of
``cdc_apply`` is ``streaming/cdc_sink``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """CDC between two table states: one full-outer join on the key,
    rows classified ``added`` / ``removed`` / ``changed`` (any compare
    column differs, NULL-safe) — unchanged rows are dropped, so the
    delta export is change-sized, not table-sized.

    The downstream uses: incremental recrawl feeds (changed + added
    URLs re-enter the frontier), warehouse replication (ship the delta,
    not the 100 TB table), and freshness audits. Shape at scale: a
    single key-partitioned SortMergeJoin — both sides shuffle once on
    the key; no window, no driver state. Pair with
    ``Warehouse.read(table, as_of=...)`` to diff any two committed
    snapshots.
    """
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in key_cols],
        *[F.col(c).alias(f"_ov_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"_nv_{c}") for c in compare_cols],
    )
    cond = None
    for k in key_cols:
        c = o[f"_ok_{k}"] == n[f"_nk_{k}"]
        cond = c if cond is None else (cond & c)
    j = o.join(n, cond, "full_outer")
    in_old = j[f"_ok_{key_cols[0]}"].isNotNull()
    in_new = j[f"_nk_{key_cols[0]}"].isNotNull()
    same_vals = None
    for c in compare_cols:
        eq = j[f"_ov_{c}"].eqNullSafe(j[f"_nv_{c}"])
        same_vals = eq if same_vals is None else (same_vals & eq)
    change = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(~same_vals, F.lit("changed"))
    )
    keyed = j.select(
        *[
            F.coalesce(j[f"_nk_{k}"], j[f"_ok_{k}"]).alias(k)
            for k in key_cols
        ],
        change.alias("change_type"),
        *[j[f"_ov_{c}"].alias(f"old_{c}") for c in compare_cols],
        *[j[f"_nv_{c}"].alias(f"new_{c}") for c in compare_cols],
    )
    return keyed.where(F.col("change_type").isNotNull())


def cdc_compact(
    changelog: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Last-wins compaction of an ordered CDC changelog (rows carry
    ``op`` in {'I','U','D'} and a monotone ``seq_col``): one row per
    key — the newest by sequence, ties broken by op severity
    D > U > I (a tombstone sharing the final sequence number wins,
    the Debezium/Kafka-compaction convention), then nothing (equal
    (key, seq, op) duplicates are identical payloads by contract).
    This is the shuffle that turns an hours-long changelog into a
    key-sized delta BEFORE any table rewrite — compact first, then
    merge once.

    Scale shape: one per-key window (bounded by a key's own change
    count) — the classic log-compaction HashPartition."""
    rank = F.when(F.col(op_col) == "D", 2).otherwise(
        F.when(F.col(op_col) == "U", 1).otherwise(0)
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), rank.desc()
    )
    return (
        changelog.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def cdc_apply(
    base: DataFrame,
    changelog: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply an ordered CDC changelog to a base table state: compact
    the log (cdc_compact), then every key the log mentions is REPLACED
    by its final payload — or dropped when the final op is a delete —
    while untouched base rows pass through. The batch twin of a
    streaming CDC sink; output columns = base columns.

    Semantics pinned by tests: an insert-then-delete key never
    appears; a delete-then-reinsert key carries the reinserted
    payload; updates to absent keys are upserts (CDC logs from an
    earlier base are replayable — idempotent on re-application).

    Scale shape: cdc_compact's per-key window on the LOG (not the
    base), one left-anti equi-join to retire touched base rows, one
    union — base is never shuffled beyond the join."""
    last = cdc_compact(changelog, key_cols, seq_col, op_col)
    kept = base.join(
        last.select(*key_cols), key_cols, "left_anti"
    )
    upserts = last.where(F.col(op_col) != "D").select(*base.columns)
    return kept.unionByName(upserts)
