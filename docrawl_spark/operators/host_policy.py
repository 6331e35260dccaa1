"""The crawl wave's per-host policy: the robots Disallow-prefix gate and
the skew-safe per-host budget selection (SURVEY.md §2.5, §4.2).

The reference has no robots handling and its politeness is the implicit
1-op/sec sequential loop (docrawl_core.py:1088,1105); the north_rule
generalizes both into explicit per-host policy enforced by dataflow:

- robots gate: pure built-in array predicate over the broadcast hosts
  dimension (no UDF), the blob split once per host on the dim side;
- per-host top-B selection: SKEW-SAFE two-phase salted window —
  phase 1 ranks within (host, salt) and keeps the per-salt top-B
  (the global per-host top-B is a subset of the union of per-salt
  top-Bs, since dropping a row can only promote others), phase 2
  ranks the ≤ n_salts·B survivors per host exactly. A single hot host
  with 10^8 pending URLs never lands in one task.

``plans/wave.schedule_wave`` is the caller; ``operators/politeness``
builds its wider robots and budget operators on the same gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import path_of_col

DEFAULT_BUDGET = 2  # unknown-host budget; must match simulator.DEFAULT_BUDGET


def robots_prefixes_col(robots_blob: Column) -> Column:
    """The blob's non-empty newline-separated Disallow-prefix array —
    computed ONCE PER HOST on the (small) dim side instead of
    re-splitting the same blob for every candidate row (split/filter
    are interpreted HOFs, and at 10^7 rows/wave that work is pure waste
    when it's a function of the ~10^4-row host dim). Null blob → empty
    array."""
    return F.filter(
        F.split(F.coalesce(robots_blob, F.lit("")), "\r?\n"), lambda p: p != ""
    )


def robots_allowed_prefixes_col(url: Column, prefixes: Column) -> Column:
    """True iff no prefix in ``prefixes`` (from :func:`robots_prefixes_col`
    on the dim side) prefixes the url's path. The ``size = 0``
    short-circuit keeps the interpreted ``exists`` off the (typically
    dominant) no-robots rows — CASE branches evaluate lazily, so only
    rows of robots-bearing hosts pay the HOF. Null array (host absent
    from the dim) → allow, like a null blob. The null case
    short-circuits via an EXPLICIT isNull branch, not
    `coalesce(size(NULL), 0)`: under legacy (non-ANSI) configs
    `size(NULL)` is -1, which would skip the ==0 branch and let
    `exists(NULL, …)` yield NULL — silently BLOCKING every
    unknown-host candidate (ADVICE r5); the explicit form is
    config-independent."""
    return F.when(
        prefixes.isNull() | (F.size(prefixes) == 0), F.lit(True)
    ).otherwise(~F.exists(prefixes, lambda p: path_of_col(url).startswith(p)))


def budget_topk(
    df: DataFrame,
    order_cols: list,
    *,
    budget_dim: DataFrame,
    salt_col: str,
) -> DataFrame:
    """The two-phase salted per-host budget selection over a frame
    carrying (host_hash, url_hash, ``salt_col``, *order_cols), for
    ``plans/wave.schedule_wave_stages`` (payload-skinny rows, the
    at-scale shuffle shape). ``order_cols`` entries may be names or
    Column expressions (the wave orders on ``shiftright(_pack, 5)`` so
    the decoded order columns never ride an exchange).

    ``budget_dim``: the ``(host_hash, _budget)`` dimension (unique on
    host_hash; hosts absent from it get ``DEFAULT_BUDGET``). It is
    broadcast-joined AFTER each window, so the budget column rides
    NEITHER politeness exchange (8 B/row off both shuffles; filters on
    a window's output don't reorder it, so selection is identical).

    ``salt_col``: name of the PRE-MATERIALIZED salt column (the wave's
    ``pmod(url_hash, n_salts)``) of a frame already hash-partitioned on
    (host_hash, salt): reusing the caller's column lets the planner see
    the phase-1 window partition keys match the incoming partitioning,
    so phase 1 runs with NO exchange."""
    ordering = [
        (F.col(c) if isinstance(c, str) else c).asc() for c in order_cols
    ]

    def _attach_budget(frame: DataFrame) -> DataFrame:
        return frame.join(F.broadcast(budget_dim), "host_hash", "left").withColumn(
            "_budget", F.coalesce(F.col("_budget"), F.lit(DEFAULT_BUDGET))
        )

    # phase 1: per-(host, salt) prefilter — bounds any single window
    # partition to ~1/n_salts of a hot host's rows
    salted = df.withColumnRenamed(salt_col, "_salt")
    w1 = Window.partitionBy("host_hash", "_salt").orderBy(*ordering)
    # the budget is joined post-window so it skips the phase-1
    # exchange; drop it again so it skips the (already small) phase-2
    # exchange too
    phase1 = (
        _attach_budget(salted.withColumn("_rn", F.row_number().over(w1)))
        .where(F.col("_rn") <= F.col("_budget"))
        .drop("_rn", "_salt", "_budget")
    )
    # phase 2: exact per-host top-B over ≤ n_salts·B rows per host
    w2 = Window.partitionBy("host_hash").orderBy(*ordering)
    return (
        _attach_budget(phase1.withColumn("_rn", F.row_number().over(w2)))
        .where(F.col("_rn") <= F.col("_budget"))
        .drop("_rn", "_budget")
    )
