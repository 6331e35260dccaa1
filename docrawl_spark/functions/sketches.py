"""Mergeable cardinality / frequency sketches in exact integer arithmetic.

Crawl schedulers need two streaming-mergeable summaries the exact
operators can't provide at 10^10-frontier scale:

- **HyperLogLog** URL-cardinality: "how many distinct URLs has this
  crawl seen" without carrying the seen set to the driver. The sketch
  is a tiny (bucket, max_rho) table — map-side combinable (MAX is
  associative), mergeable across waves/clusters by bucket-wise MAX,
  and constant-size regardless of frontier size. The exact-count twin
  (`approx_count_distinct` or a groupBy) is the small-scale oracle.
- **Count-min** host-frequency: "which hosts dominate the frontier"
  from d tiny counter rows instead of a full host groupBy — the
  mergeable form a long-running scheduler keeps between waves to pick
  salting candidates (operators/links two-phase windows) before any
  exact pass runs.

Everything here is EXACT integer arithmetic on a 60-bit md5 slice —
the same construction as datapipe/dedup._hash60 — so DuckDB computes
the identical sketch bit-for-bit (`tests/test_oracle_parity.py`):

- hash60(x)  = first 15 hex chars of md5(x) as BIGINT (never negative)
- bucket     = hash60 % m                     (m = 2^p registers)
- rho        = leading-zero rank of the remaining 60-p bits + 1,
               computed WITHOUT floats as (60-p) - length(bin(w)) + 1
               (`bin` strips leading zeros in BOTH engines; w = 0 maps
               to the all-zero rank 60-p+1)
- estimate   = alpha_ppm * ((m*m << K) div S) div 10^6 fixed-point,
               S = sum over registers of 1 << max(K - rho, 0), K = 40

No reference counterpart (the reference keeps its seen set as a
Python list, docrawl_core.py's `links` accumulation); this is the
scale substitute the north-star architecture requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_HASH_BITS = 60


def _hash60(key: Column, salt: str = "") -> Column:
    """60-bit non-negative BIGINT from md5 — bit-identical in DuckDB
    via ('0x' || substr(md5(x), 1, 15))::BIGINT."""
    k = F.concat(F.lit(salt), key) if salt else key
    return F.conv(F.substring(F.md5(k), 1, 15), 16, 10).cast("long")


def hll_registers(df: DataFrame, key_col: str, p: int = 6) -> DataFrame:
    """The HLL register table: (bucket, max_rho) for m = 2^p buckets.

    One HashAggregate over the keys; MAX partials combine map-side, so
    the shuffle carries at most m rows per map task regardless of
    input size. Missing buckets (no key hashed there) are absent from
    the output — the estimators account for them arithmetically
    (zeros = m − n_present; each contributes 2^K to the harmonic sum).
    """
    m = 1 << p
    h = _hash60(F.col(key_col).cast("string"))
    w = h % F.lit(m)  # register index (low bits)
    # integer div, NOT float /: the hash exceeds 2^53 so float division
    # would lose low bits
    rest = F.expr(f"CAST({_hash60_sql(key_col)} AS BIGINT) div {m}")
    # rho without floats: bin() strips leading zeros in both engines
    width = _HASH_BITS - p
    rho = F.when(rest == 0, F.lit(width + 1)).otherwise(
        F.lit(width) - F.length(F.bin(rest)) + F.lit(1)
    )
    return (
        df.select(w.alias("bucket"), rho.cast("int").alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def _hash60_sql(key_col: str) -> str:
    return f"conv(substring(md5(CAST({key_col} AS STRING)), 1, 15), 16, 10)"


def _lc_table(p: int) -> list[int]:
    """Exact linear-counting values round(m·ln(m/z)) for z = 1..m —
    a Python-precomputed lookup both engines index identically
    (1-based element_at / list subscript), replacing any float ln."""
    import math

    m = 1 << p
    return [round(m * math.log(m / z)) for z in range(1, m + 1)]


def _hll_estimate_expr(p: int) -> "Column":
    """The estimate expression over (s, zeros) aggregate columns —
    shared by the global and grouped estimators. s is the harmonic
    sum Σ 2^(K-rho) INCLUDING absent registers at rho=0 (callers add
    (m - n_present)·2^K); zeros counts empty registers."""
    m = 1 << p
    alpha_ppm = int(0.7213 / (1.0 + 1.079 / m) * 1_000_000)
    K = 40
    raw = F.expr(
        f"CAST({alpha_ppm} AS BIGINT) * "
        f"((CAST({m * m} AS BIGINT) * shiftleft(CAST(1 AS BIGINT), {K})) div s)"
        f" div 1000000"
    )
    lc_vals = ", ".join(str(v) for v in _lc_table(p))
    # exact small-range linear counting via the precomputed table
    # (guarded: element_at only evaluates when zeros > 0 — ANSI-safe)
    lc = F.expr(f"element_at(array({lc_vals}), CAST(zeros AS INT))")
    return (
        F.when((F.col("zeros") > 0) & (raw <= F.lit(5 * m // 2)), lc)
        .otherwise(raw)
        .cast("long")
    )


def hll_estimate(registers: DataFrame, p: int = 6) -> DataFrame:
    """Fixed-point HLL estimate from a register table.

    alpha_m = 0.7213 / (1 + 1.079/m) as ppm; S = sum of 1 << (K-rho)
    over present registers plus 2^K per absent one; estimate_units =
    alpha_ppm * ((m*m << K) div S) div 1e6, with the small-range
    linear-counting branch taken from the exact precomputed
    round(m·ln(m/zeros)) table. All integer — both engines agree
    bit-for-bit, so the estimate itself is oracle-hashable.
    """
    m = 1 << p
    K = 40
    agg = registers.agg(
        F.expr(
            f"CAST(coalesce(sum(shiftleft(CAST(1 AS BIGINT), "
            f"CAST(greatest({K} - max_rho, 0) AS INT))), 0) AS BIGINT)"
            f" + (CAST({m} AS BIGINT) - count(1))"
            f" * shiftleft(CAST(1 AS BIGINT), {K})"
        ).alias("s"),
        F.expr(f"CAST({m} AS BIGINT) - count(1)").alias("zeros"),
    )
    return agg.select(_hll_estimate_expr(p).alias("estimate_units"))


def hll_registers_grouped(
    df: DataFrame, group_cols: list[str], key_col: str, p: int = 6
) -> DataFrame:
    """Per-group HLL register tables in ONE HashAggregate: (group…,
    bucket, max_rho). The grouped mergeable form — a crawl scheduler
    gets every host's distinct-URL cardinality in a single pass, ≤ m
    rows per group, combinable across waves by (group, bucket) MAX."""
    m = 1 << p
    h = _hash60(F.col(key_col).cast("string"))
    rest = F.expr(f"CAST({_hash60_sql(key_col)} AS BIGINT) div {m}")
    width = _HASH_BITS - p
    rho = F.when(rest == 0, F.lit(width + 1)).otherwise(
        F.lit(width) - F.length(F.bin(rest)) + F.lit(1)
    )
    return (
        df.select(
            *group_cols,
            (h % F.lit(m)).alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate_grouped(
    registers: DataFrame, group_cols: list[str], p: int = 6
) -> DataFrame:
    """Per-group estimates from a grouped register table — absent
    registers are accounted arithmetically ((m − n_present)·2^K and
    zeros = m − n_present), so no spine join is needed."""
    m = 1 << p
    K = 40
    agg = registers.groupBy(*group_cols).agg(
        F.expr(
            f"CAST(coalesce(sum(shiftleft(CAST(1 AS BIGINT), "
            f"CAST(greatest({K} - max_rho, 0) AS INT))), 0) AS BIGINT)"
            f" + (CAST({m} AS BIGINT) - count(1))"
            f" * shiftleft(CAST(1 AS BIGINT), {K})"
        ).alias("s"),
        F.expr(f"CAST({m} AS BIGINT) - count(1)").alias("zeros"),
    )
    return agg.select(
        *group_cols, _hll_estimate_expr(p).alias("estimate_units")
    )


def hll_union(*register_tables: DataFrame) -> DataFrame:
    """Union of HLL sketches = bucket-wise MAX of their registers —
    the property that lets two crawls (or two waves, or two clusters)
    combine their distinct-URL counts without exchanging key sets.
    Input tables must share the same p."""
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))


def hll_rolling_estimate(
    df: DataFrame,
    day_col: str,
    key_col: str,
    window_days: int = 7,
    p: int = 6,
) -> DataFrame:
    """Rolling trailing-window distinct count via HLL register merge —
    "7-day distinct users per day" without ever re-scanning the window:
    per-day register tables (ONE fact-table HashAggregate) are merged
    by (window-day, bucket) MAX, the sketch-union property that makes
    HLL the right cardinality structure at 100 TB. The register
    explode fans out ``window_days`` rows per REGISTER (≤ m per day),
    never per event; days near the start merge their shorter available
    ramp-up window. ``day_col`` must be an integer day index.
    """
    reg = hll_registers_grouped(df, [day_col], key_col, p=p)
    days = df.select(F.col(day_col).alias("win_day")).distinct()
    contrib = reg.select(
        F.explode(
            F.sequence(
                F.col(day_col), F.col(day_col) + F.lit(int(window_days) - 1)
            )
        ).alias("win_day"),
        "bucket",
        "max_rho",
    )
    merged = (
        contrib.join(days, "win_day")
        .groupBy("win_day", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    return hll_estimate_grouped(merged, ["win_day"], p=p)


def cms_counters(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min counter table: (row, cell, cnt) for d independent
    hash rows of w cells each. One explode (×d) + HashAggregate; the
    shuffle after map-side combine is at most d·w rows per task — the
    constant-size mergeable form (counters add across waves)."""
    rows = F.array(*[F.lit(i) for i in range(depth)])
    keyed = df.select(
        F.col(key_col).cast("string").alias("k"),
        F.explode(rows).alias("row"),
    )
    cell = (
        _hash60(F.concat_ws("|", F.col("row").cast("string"), F.col("k")))
        % F.lit(width)
    )
    return (
        keyed.select("row", cell.alias("cell"))
        .groupBy("row", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame, candidates: DataFrame, key_col: str,
    depth: int = 4, width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for each candidate key: the classic
    min-over-rows upper-bound estimate. Counters are sketch-sized
    (≤ d·w rows) — broadcast to the candidates, never the reverse."""
    rows = F.array(*[F.lit(i) for i in range(depth)])
    probes = candidates.select(
        F.col(key_col), F.explode(rows).alias("row")
    ).withColumn(
        "cell",
        _hash60(F.concat_ws("|", F.col("row").cast("string"),
                            F.col(key_col).cast("string")))
        % F.lit(width),
    )
    return (
        probes.join(F.broadcast(counters), ["row", "cell"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_estimate"))
    )


def log2_bucket_cols(
    value_col: str, sub_buckets: int = 8
) -> tuple[Column, Column]:
    """The (msb, sub) bucketing expressions — shared by the batch
    histogram and its streaming twin so the bucket algebra can never
    drift between the two."""
    v = F.col(value_col).cast("long")
    msb = F.when(v <= 0, F.lit(0)).otherwise(F.length(F.bin(v)))
    sub = F.expr(
        f"CASE WHEN {value_col} <= 0 OR length(bin(CAST({value_col} AS BIGINT))) <= {sub_buckets.bit_length() - 1} THEN 0 "
        f"ELSE CAST(CAST({value_col} AS BIGINT) div shiftleft(CAST(1 AS BIGINT), CAST(length(bin(CAST({value_col} AS BIGINT))) - {sub_buckets.bit_length()} AS INT)) AS INT) - {sub_buckets} END"
    )
    return msb, sub


def log2_histogram(
    df: DataFrame, value_col: str, sub_buckets: int = 8
) -> DataFrame:
    """Log-spaced histogram: the mergeable percentile summary.

    Exact percentiles at 100 TB cost a full sort (or percentile_approx,
    whose t-digest merge is neither deterministic nor cross-engine
    reproducible). This keeps one counter per (log2 bucket ×
    sub-bucket) — ≤ 64·sub_buckets rows total, map-side combinable,
    mergeable across waves by adding counters, with bounded relative
    error 1/sub_buckets. Bucketing is pure integer: msb = bit length
    via bin() (identical in DuckDB), sub-position = the next
    log2(sub_buckets) bits below the MSB.

    bucket_floor/bucket_ceil bound every value in the bucket, so any
    percentile read off the cumulative histogram is a certified
    interval, not a point guess.
    """
    msb, sub = log2_bucket_cols(value_col, sub_buckets)
    return (
        df.select(msb.alias("msb"), sub.alias("sub"))
        .groupBy("msb", "sub")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "bucket_floor",
            F.expr(
                f"CASE WHEN msb = 0 THEN 0 "
                f"WHEN msb <= {sub_buckets.bit_length() - 1} THEN shiftleft(CAST(1 AS BIGINT), msb - 1) "
                f"ELSE (CAST({sub_buckets} AS BIGINT) + sub) * shiftleft(CAST(1 AS BIGINT), CAST(msb - {sub_buckets.bit_length()} AS INT)) END"
            ),
        )
        .withColumn(
            "bucket_ceil",
            F.expr(
                f"CASE WHEN msb = 0 THEN 0 "
                f"WHEN msb <= {sub_buckets.bit_length() - 1} THEN shiftleft(CAST(1 AS BIGINT), msb) - 1 "
                f"ELSE (CAST({sub_buckets} AS BIGINT) + sub + 1) * shiftleft(CAST(1 AS BIGINT), CAST(msb - {sub_buckets.bit_length()} AS INT)) - 1 END"
            ),
        )
    )


def histogram_percentile_bounds(
    hist: DataFrame, percentiles: list[int]
) -> DataFrame:
    """Read percentile INTERVALS off a cumulative log2 histogram:
    for each requested percentile p (0-100), the (floor, ceil) of the
    first bucket whose cumulative count reaches ceil(p% of total) —
    nearest-rank semantics in pure integer arithmetic.

    The histogram is sketch-sized, so the window here runs over ≤
    64·sub_buckets rows — driver-scale, not data-scale.
    """
    from pyspark.sql import Window

    w = Window.orderBy("bucket_floor").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(hist.agg(F.sum("cnt").alias("total")))
    )
    out = None
    for p in percentiles:
        # nearest-rank: k = ceil(p * total / 100) in integers
        row = (
            cum.where(
                F.col("cum") >= F.expr(f"CAST(({p} * total + 99) div 100 AS BIGINT)")
            )
            .orderBy("bucket_floor")
            .limit(1)
            .select(
                F.lit(p).alias("percentile"),
                F.col("bucket_floor").alias("lo"),
                F.col("bucket_ceil").alias("hi"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def chao1_completeness(
    df: DataFrame,
    key_col: str = "host",
    count_col: str = "n_seen",
) -> DataFrame:
    """Crawl-completeness estimation per key: how much of a host's URL
    space has the crawl ALREADY seen, from the discovery-count
    distribution alone — the scheduler's stop/continue signal (keep
    budgeting hosts whose estimated coverage is low, retire saturated
    ones).

    Input: one row per (key, url-ish unit) with ``count_col`` = how
    many times it was discovered (the link-table multiplicity).
    Two classic abundance estimators, both EXACT integer fixed-point:

    - bias-corrected Chao1 richness:  S_est = S + f1·(f1−1)/(2·(f2+1))
      (f1/f2 = singleton/doubleton unit counts; the correction keeps
      the estimator finite when f2 = 0, and the arithmetic all-BIGINT)
    - Good-Turing unseen probability mass: P0 = f1/N (share of the
      NEXT discovery landing on a never-seen unit), in ppm.

    coverage_ppm = S·1e6 div S_est. Scale shape: ONE map-side
    combinable HashAggregate on the key grain — the input is already
    per-unit counts (itself a HashAggregate of the link table), so the
    whole estimator is two exact aggregation passes, no window, no
    sketch, mergeable across waves by re-aggregating counts.
    """
    g = df.groupBy(key_col).agg(
        F.count("*").cast("long").alias("s_obs"),
        F.sum((F.col(count_col) == 1).cast("long")).alias("f1"),
        F.sum((F.col(count_col) == 2).cast("long")).alias("f2"),
        F.sum(count_col).cast("long").alias("n_discoveries"),
    )
    return g.select(
        key_col,
        "s_obs",
        "f1",
        "f2",
        "n_discoveries",
        F.expr("s_obs + f1 * (f1 - 1) div (2 * (f2 + 1))").alias("chao1_est"),
        F.expr(
            "s_obs * 1000000L div (s_obs + f1 * (f1 - 1) div (2 * (f2 + 1)))"
        ).alias("coverage_ppm"),
        F.expr("f1 * 1000000L div n_discoveries").alias("unseen_mass_ppm"),
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch — distinct-set OVERLAP estimation
# ---------------------------------------------------------------------------


def kmv_mins(
    df: DataFrame, group_col: str, key_col: str, k: int = 128
) -> DataFrame:
    """K-minimum-values sketch per group: the k smallest DISTINCT
    60-bit hashes of ``key_col`` — the sketch HLL can't replace when
    the question is set ALGEBRA (intersection / difference / Jaccard
    between corpus slices), not just size: two KMV sketches compose
    into union/intersection estimates; HLL unions but never
    intersects without inclusion-exclusion error blowup.

    Output: (group, h, rn) with rn = 1..k in hash order — theta (the
    kth min) is ``max(h)``, and the group's own cardinality estimate
    is ``(k-1) * 2^60 div theta`` (exact count when the group has
    < k distinct keys; see kmv_pair_overlap).

    Scale shape: one distinct HashAggregate onto (g, h) — the only
    corpus-sized shuffle — then the SALTED two-phase top-k (phase 1
    bounds every window partition to one salt's share; phase 2 ranks
    <= 17*k survivors per group): the operators/host_policy.budget_topk
    pattern, immune to a group holding 10^9 distinct keys."""
    h = _hash60(F.col(key_col).cast("string"))
    dg = (
        df.where(F.col(group_col).isNotNull() & F.col(key_col).isNotNull())
        .select(F.col(group_col).alias("g"), h.alias("h"))
        .distinct()
    )
    from pyspark.sql import Window

    w1 = Window.partitionBy("g", F.col("h") % 17).orderBy("h")
    survivors = dg.withColumn("_rn1", F.row_number().over(w1)).where(
        F.col("_rn1") <= k
    )
    w2 = Window.partitionBy("g").orderBy("h")
    return (
        survivors.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("g", "h", "rn")
    )


def kmv_pair_overlap(mins: DataFrame, k: int = 128) -> DataFrame:
    """All-pairs set-overlap estimates between the groups of a
    ``kmv_mins`` sketch table. For each group pair (a < b), the union
    sketch is the k smallest hashes of mins_a UNION mins_b with theta
    its kth value; ``inter_in_uk`` counts union-sketch entries present
    in BOTH sides, giving the unbiased Jaccard estimate
    ``inter_in_uk / k_u`` and from it the intersection size. All
    integer: estimates use DECIMAL(38,0) internally ((k-1)*2^60
    passes BIGINT at k > 8) and truncating div — DuckDB mirrors in
    HUGEINT. Groups with < k distinct keys estimate EXACTLY (theta
    then covers the whole set; est = observed count).

    Scale shape: the input is already the dim-sized sketch table
    (groups x k rows); pair fan-out is groups^2, each pair carrying
    <= 2k rows through one window — sketch algebra, never the corpus."""
    from pyspark.sql import Window

    groups = mins.select("g").distinct()
    pairs = (
        groups.select(F.col("g").alias("g_a"))
        .join(groups.select(F.col("g").alias("g_b")))
        .where(F.col("g_a") < F.col("g_b"))
        .withColumn("pair_id", F.concat_ws("|", "g_a", "g_b"))
    )
    members = pairs.select(
        "pair_id", "g_a", "g_b", F.explode(F.array("g_a", "g_b")).alias("g")
    )
    pu = (
        members.join(mins, "g")
        .groupBy("pair_id", "g_a", "g_b", "h")
        .agg(
            F.max((F.col("g") == F.col("g_a")).cast("int")).alias("in_a"),
            F.max((F.col("g") == F.col("g_b")).cast("int")).alias("in_b"),
        )
    )
    wu = Window.partitionBy("pair_id").orderBy("h")
    ranked = pu.withColumn("urn", F.row_number().over(wu)).where(
        F.col("urn") <= k
    )
    agg = ranked.groupBy("pair_id", "g_a", "g_b").agg(
        F.count(F.lit(1)).alias("k_u"),
        F.max("h").alias("theta"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("inter_in_uk"),
    )
    two60 = 1 << 60
    maxlong = (1 << 63) - 1
    # Saturate instead of ANSI-overflowing: theta < (k_u-1)*2^60/2^63
    # (union cardinality beyond ~2^57 at k=64) would push the div past
    # BIGINT; the DECIMAL comparison is exact, the estimate clamps to
    # the BIGINT ceiling.
    est_union = (
        F.when(F.col("k_u") < k, F.col("k_u").cast("long"))
        .when(
            F.expr(
                f"CAST(theta AS DECIMAL(38,0)) * {maxlong}"
                f" < CAST((k_u - 1) AS DECIMAL(38,0)) * {two60}"
            ),
            F.lit(maxlong).cast("long"),
        )
        .otherwise(
            F.expr(f"CAST((k_u - 1) AS DECIMAL(38,0)) * {two60} div theta")
            .cast("long")
        )
    )
    return (
        agg.select(
            "g_a",
            "g_b",
            F.col("k_u").cast("long").alias("k_u"),
            F.col("theta").cast("long").alias("theta"),
            F.col("inter_in_uk").cast("long").alias("inter_in_uk"),
            est_union.alias("est_union"),
            F.expr("CAST(inter_in_uk AS BIGINT) * 1000000 div k_u")
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .withColumn(
            "est_inter",
            F.expr(
                "CAST(est_union AS DECIMAL(38,0)) * inter_in_uk div k_u"
            ).cast("long"),
        )
    )
