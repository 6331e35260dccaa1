"""Deterministic corpus sampling — the training-mix construction stage.

Random sampling is useless at 100 TB (non-reproducible across retries,
unstable under speculative execution); every sampler here is a PURE
FUNCTION of the row key: keep iff hash(salt|id) mod M < threshold. That
makes samples reproducible bit-for-bit across runs, engines, cluster
sizes and partitionings, and lets an exact DuckDB oracle check the
selection itself (md5 hash mode — the same cross-engine idiom as the
MinHash family, datapipe/dedup.py).

All operators are single-pass filters/projections — no shuffle, no
per-row Python; the sampling predicate pushes into the scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MOD = 1_000_000  # ppm resolution


def _hash_ppm(id_col: Column, salt: str, hash_mode: str = "md5hex") -> Column:
    """Uniform [0, 1e6) bucket from the row id: md5hex mode is
    DuckDB-reproducible (('0x'||substr(md5(x),1,15))::BIGINT % 1e6);
    xxhash64 mode is the cheaper JVM-codegen scale path."""
    key = F.concat(F.lit(f"{salt}|"), id_col.cast("string"))
    if hash_mode == "md5hex":
        h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    else:
        h = F.abs(F.xxhash64(key))
    return F.pmod(h, F.lit(_MOD))


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix1",
    default_fraction: float = 0.0,
    hash_mode: str = "md5hex",
) -> DataFrame:
    """Per-stratum deterministic sample: keep a row of stratum k iff
    hash_ppm(id) < fractions[k] * 1e6. Strata missing from ``fractions``
    fall back to ``default_fraction``. The training-mix knob: weights
    per source/language/quality-bucket, exactly reproducible."""
    # round(), not int(): float truncation turns 0.07 into 69999 ppm —
    # off-by-one boundaries and weights summing to 1.0 leaving a sliver
    thresh = F.lit(round(default_fraction * _MOD))
    for k, frac in sorted(fractions.items()):
        thresh = F.when(F.col(key_col) == k, F.lit(round(frac * _MOD))).otherwise(thresh)
    return df.where(_hash_ppm(F.col(id_col), salt, hash_mode) < thresh)


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split1",
    split_col: str = "split",
    hash_mode: str = "md5hex",
) -> DataFrame:
    """Deterministic train/val/test assignment: ranges of the hash ppm
    in the sorted-by-name order of ``weights`` (must sum to ≤ 1; any
    remainder is unassigned → null split). A doc's split never changes
    when the corpus around it grows — the property random splits lack."""
    ppm = _hash_ppm(F.col(id_col), salt, hash_mode)
    expr = F.lit(None).cast("string")
    hi = 0
    for name, w in sorted(weights.items()):
        lo, hi = hi, hi + round(w * _MOD)
        expr = F.when((ppm >= lo) & (ppm < hi), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def temperature_weights(
    df: DataFrame,
    key_col: str = "source",
    alpha_num: int = 1,
    alpha_den: int = 2,
) -> DataFrame:
    """Temperature-flattened mixing weights per corpus key — the
    standard multi-source LM recipe (weight ∝ n^alpha, alpha<1 upweights
    small sources; alpha = alpha_num/alpha_den). Returns one row per key:
    (key_col, n_docs, weight_ppm) with sum(weight_ppm) ≤ 1e6.

    EXACT cross-engine arithmetic (the driver value-hashes): n^(1/2) via
    IEEE sqrt (correctly rounded — identical in every engine, unlike
    pow/exp whose libm results differ by ulps), fixed-pointed to BIGINT
    *before* the sum so the total is an exact integer sum in any order,
    then one BIGINT integer division per key. Only alpha = 1/2 and
    alpha = 1 ship for that reason; other temperatures need a
    documented float-rounding contract first.

    Scale shape: one map-side-combinable count per key + a broadcast-
    size total over the key DIM (source/domain cardinality, thousands
    at most) — the window-over-all runs on the aggregate, never the
    corpus."""
    if (alpha_num, alpha_den) not in ((1, 2), (1, 1)):
        raise ValueError("exact cross-engine arithmetic ships alpha=1/2 or 1 only")
    counts = df.groupBy(key_col).agg(F.count("*").alias("n_docs"))
    raw = (
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1_000_000))
        if (alpha_num, alpha_den) == (1, 2)
        else F.col("n_docs") * F.lit(1_000_000)
    ).cast("long")
    from pyspark.sql import Window

    w = counts.withColumn("_w", raw)
    total = F.sum("_w").over(Window.partitionBy())
    return (
        w.withColumn("_total", total)
        .withColumn("_scaled", (F.col("_w") * F.lit(_MOD)).cast("long"))
        .select(key_col, "n_docs", F.expr("_scaled div _total").alias("weight_ppm"))
    )


def temperature_resample(
    df: DataFrame,
    target_total: int,
    key_col: str = "source",
    id_col: str = "doc_id",
    alpha_num: int = 1,
    alpha_den: int = 2,
    salt: str = "temp1",
    hash_mode: str = "md5hex",
) -> DataFrame:
    """Downsample the corpus to ≈``target_total`` docs mixed by
    temperature weights: key k keeps min(n_k, target_total·w_k/Σw) docs,
    selected by the deterministic hash predicate (reproducible across
    runs/engines/partitionings, like every sampler here). The per-key
    keep-fraction join is a broadcast of the key dim."""
    wts = temperature_weights(df, key_col, alpha_num, alpha_den)
    frac = wts.select(
        key_col,
        # keep_ppm = min(1e6, target_k * 1e6 / n_k), all-BIGINT
        F.least(
            F.lit(_MOD).cast("long"),
            F.expr(f"weight_ppm * {int(target_total)}L div n_docs"),
        ).alias("_keep_ppm"),
    )
    return (
        df.join(F.broadcast(frac), key_col)
        .where(_hash_ppm(F.col(id_col), salt, hash_mode) < F.col("_keep_ppm"))
        .drop("_keep_ppm")
    )


def corpus_mix_report(
    df: DataFrame,
    group_cols: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """The "what's in my corpus" report every training-data pipeline
    runs before (and after) mixing: per group (default source × lang),
    document and whitespace-token counts with exact ppm shares of the
    corpus totals — the observed mixture that temperature_weights /
    temperature_resample then reshape. doc_share_ppm/token_share_ppm
    are BIGINT ``div`` (truncating, engine-identical); groups are
    whatever dimension columns the corpus carries.

    Scale shape: one map-side-combinable HashAggregate to the group
    grain (tokens counted per row inside the scan, never exploded),
    then a broadcast single-row totals join. No window, no UDF.
    """
    groups = group_cols or ["source", "lang"]
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    per = df.groupBy(*groups).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(n_tok).cast("long").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("_td"), F.sum("n_tokens").alias("_tt")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            *groups,
            "n_docs",
            "n_tokens",
            F.expr("n_docs * 1000000L div _td").alias("doc_share_ppm"),
            F.expr("n_tokens * 1000000L div _tt").alias("token_share_ppm"),
        )
    )


def dsir_bits(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """DSIR-style importance scores (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling") in exact integer
    log2 bits.

    DSIR scores a raw document by how much more likely its hashed
    n-gram features are under a small TARGET distribution (the data
    you want more of) than under the raw BACKGROUND — then resamples
    by that weight. Here: unigram features hashed into ``n_buckets``
    md5 buckets; per-bucket add-one-smoothed counts from the target
    subset (rows where ``target_col`` is true) and from the whole
    corpus; per-bucket weight in *bits* via the factorized bit-length
    log2 (CLAUDE.md: ``length(bin(x))`` is engine-identical, and
    factorized bits never overflow where the probability product
    would). Per doc: ``n_tokens`` and ``dsir_bits`` =
    Σ_buckets cnt·bits — positive ⇒ looks like the target.

    100 TB shape: explode → one per-(doc,bucket) HashAggregate (map-
    side combinable); both bucket dims are ``n_buckets`` rows, joined
    broadcast; totals are single-row broadcasts. No window, no UDF.
    """
    from docrawl_spark.datapipe.text import tokens_col

    bitlen = lambda c: F.length(F.bin(c))  # noqa: E731 — integer log2+1
    tok = df.select(
        F.col(id_col),
        F.col(target_col).cast("boolean").alias("_is_target"),
        F.explode(tokens_col(F.col(text_col))).alias("_tok"),
    ).where(F.col("_tok") != "")
    per_doc_bucket = tok.select(
        id_col,
        "_is_target",
        (
            F.conv(F.substring(F.md5("_tok"), 1, 15), 16, 10).cast("long")
            % n_buckets
        ).alias("bucket"),
    ).groupBy(id_col, "_is_target", "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )
    bg = per_doc_bucket.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("cb")
    )
    tg = (
        per_doc_bucket.where(F.col("_is_target"))
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("long").alias("ct"))
    )
    dim = (
        bg.join(tg, "bucket", "left")
        .select("bucket", "cb", F.coalesce("ct", F.lit(0)).alias("ct"))
        .crossJoin(
            F.broadcast(
                bg.agg(F.sum("cb").cast("long").alias("nb")).crossJoin(
                    # empty target set -> SUM is NULL -> treat as 0
                    tg.agg(
                        F.coalesce(F.sum("ct"), F.lit(0))
                        .cast("long")
                        .alias("nt")
                    )
                )
            )
        )
        .select(
            "bucket",
            (
                (bitlen(F.col("ct") + 1) - bitlen(F.col("nt") + n_buckets))
                - (bitlen(F.col("cb") + 1) - bitlen(F.col("nb") + n_buckets))
            ).cast("long").alias("bits"),
        )
    )
    return (
        per_doc_bucket.join(F.broadcast(dim), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("bits")).cast("long").alias("dsir_bits"),
        )
    )


def domain_quota_sample(
    docs: DataFrame,
    suffixes: DataFrame,
    k: int,
    host_col: str = "host",
    id_col: str = "doc_id",
    quality_col: str = "quality",
    n_salts: int = 8,
) -> DataFrame:
    """Per-registrable-domain document quota — the corpus-assembly cap
    that stops one mega-site from dominating the training mix (the
    Dolma / CCNet "top-k docs per domain" rule): keep the ``k`` best
    docs of every eTLD+1 domain by (quality desc, id asc); subdomains
    collapse into their registrable domain first, so blog farms can't
    dodge the cap by fanning out hostnames. Hosts that ARE a public
    suffix count as their own domain.

    Output: the kept rows as ``(id_col, domain, quality_col,
    domain_rank)`` with ``domain_rank`` 1-based within the domain.

    Skew shape: same two-phase salted window as the politeness budget
    selection (phase-1 per ``(domain, salt)`` bounds any task to
    ~1/n_salts of a viral domain's docs; phase-2 exact over
    <= n_salts*k rows per domain); the host->domain map is host-dim
    sized and broadcast.
    """
    from pyspark.sql import Window

    from docrawl_spark.functions.domains import registrable_domains

    hosts = docs.select(F.col(host_col).alias("host")).distinct()
    dom = registrable_domains(hosts, suffixes).select(
        F.col("host").alias("_h"),
        F.coalesce("registrable_domain", "host").alias("domain"),
    )
    d = docs.select(
        F.col(id_col), F.col(host_col).alias("_h"), F.col(quality_col)
    ).join(F.broadcast(dom), "_h")
    ordering = [F.col(quality_col).desc(), F.col(id_col).asc()]
    salted = d.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    )
    w1 = Window.partitionBy("domain", "_salt").orderBy(*ordering)
    phase1 = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy("domain").orderBy(*ordering)
    return (
        phase1.withColumn("domain_rank", F.row_number().over(w2))
        .where(F.col("domain_rank") <= k)
        .select(id_col, "domain", quality_col, "domain_rank")
    )


def split_domain_leakage(
    split_docs: DataFrame,
    domain_map: DataFrame,
    host_col: str = "host",
    split_col: str = "split",
    train_name: str = "train",
    test_name: str = "test",
) -> DataFrame:
    """Train/test DOMAIN-leakage audit: hash_split assigns docs, not
    sites — www.example.com in train and a.b.example.com in test is
    web-duplicated content straddling the split (the contamination
    vector URL-level splits always have). Reports every registrable
    domain with docs on BOTH sides plus the minority share.

    ``domain_map`` is (host, registrable_domain) — the
    functions.domains.registrable_domains output, so subdomain
    variants collapse before counting.

    Scale shape: one broadcastable host-dim join (the host dim is
    orders of magnitude smaller than the corpus; AQE broadcasts it),
    then ONE map-side-combinable groupBy on the domain — no window,
    no self-join. leak_ppm is exact BIGINT fixed-point.
    """
    d = split_docs.join(
        domain_map.select(
            F.col(host_col).alias("_h"), "registrable_domain"
        ),
        split_docs[host_col] == F.col("_h"),
    )
    agg = d.groupBy("registrable_domain").agg(
        F.sum((F.col(split_col) == train_name).cast("long")).alias("n_train"),
        F.sum((F.col(split_col) == test_name).cast("long")).alias("n_test"),
    )
    return agg.where((F.col("n_train") > 0) & (F.col("n_test") > 0)).select(
        "registrable_domain",
        "n_train",
        "n_test",
        F.expr(
            "least(n_train, n_test) * 1000000L div (n_train + n_test)"
        ).alias("leak_ppm"),
    )


def sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    n_salts: int = 8,
) -> DataFrame:
    """Deterministic EXACT-k uniform sample per group — the balanced
    subcorpus primitive rate-based sampling can't provide (a ppm
    threshold yields Binomial(n, p) rows per group, not exactly k; a
    balanced eval set or per-source probe corpus needs exactly k).

    Order = md5('sample|' || id): a fixed pseudo-random permutation,
    reproducible across runs/engines/partitionings; keep the k
    lexicographically-smallest keys per group. Selection is the same
    two-phase salted window as the politeness budget
    (operators/host_policy.budget_topk): phase 1 bounds any hot group's
    window partition to ~1/n_salts of its rows (a 10^7-doc source never
    lands in one task), phase 2 takes the exact top-k over ≤ n_salts·k
    survivors. Groups with < k rows keep everything."""
    from pyspark.sql import Window

    key = F.md5(
        F.concat(F.lit("sample|"), F.col(id_col).cast("string"))
    )
    salted = df.withColumn("_skey", key).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_salts))
    )
    w1 = Window.partitionBy(group_col, "_salt").orderBy("_skey")
    phase1 = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy(group_col).orderBy("_skey")
    return (
        phase1.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= k)
        .drop("_rn", "_skey")
    )


def greedy_budget_select(
    df: DataFrame,
    group_col: str,
    id_col: str,
    score_col: str,
    cost_col: str,
    budget: int,
    ratio_scale: int = 1 << 20,
) -> DataFrame:
    """Budget-constrained greedy selection per group — the knapsack
    heuristic of corpus curation: keep the best score-per-cost rows of
    every group while the group's cumulative cost stays within
    ``budget`` (quality-per-byte under a per-source byte budget; value
    per fetch-slot under a crawl budget).

    Deterministic and integer-exact: priority = (score * ratio_scale)
    div cost (BIGINT — callers keep score*scale inside int64), with
    the division routed SIGN-SYMMETRICALLY through the absolute value
    (Spark ``div`` truncates toward zero but DuckDB ``//`` floors, so
    a raw negative-score ratio would order differently across
    engines); ties broken by ``id_col`` asc; rows with cost <= 0 or
    NULL score are excluded (zero-cost rows would be infinite-ratio
    and unrankable). Keeps the maximal prefix of the priority order whose
    running cost sum is <= budget — note greedy-prefix semantics: a
    later cheap row does NOT skip past an expensive row that crossed
    the budget (classic greedy, not exact knapsack).

    Scale note: one window per group orders that group's rows in a
    single task (same bound as the quantile family); if a cost floor
    exists, pre-cap hot groups with sample_k_per_group /
    domain_quota_sample at k = budget // min_cost first.
    """
    from pyspark.sql import Window

    d = df.where(
        (F.col(cost_col).cast("long") > 0) & F.col(score_col).isNotNull()
    ).select(
        F.col(group_col),
        F.col(id_col),
        F.col(score_col).cast("long").alias("_score"),
        F.col(cost_col).cast("long").alias("_cost"),
    )
    d = d.withColumn(
        "_ratio",
        F.expr(
            f"CASE WHEN _score < 0"
            f" THEN -((-_score * {ratio_scale}) div _cost)"
            f" ELSE (_score * {ratio_scale}) div _cost END"
        ),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("_ratio").desc(), F.col(id_col).asc()
    )
    ranked = d.select(
        group_col,
        id_col,
        F.col("_score").alias("score"),
        F.col("_cost").alias("cost"),
        F.col("_ratio").alias("ratio"),
        F.sum("_cost")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_cost"),
        F.row_number().over(w).cast("long").alias("pick_rank"),
    )
    return ranked.where(F.col("cum_cost") <= budget)


def pps_systematic_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    step: int,
    salt: str = "pps",
) -> DataFrame:
    """Deterministic probability-proportional-to-size SYSTEMATIC
    sampling per group — the byte-weighted corpus sampler: lay the
    group's rows on a weight line in hash order and select every row
    whose weight interval covers a multiple of ``step``. Expected
    inclusion is min(w/step, 1) with ZERO randomness state — the same
    input always yields the same sample (the hash order is the random
    rotation), and heavy rows (w >= step) are always selected with
    ``n_hits`` = how many lattice points they cover (their replication
    multiplicity for Horvitz-Thompson reweighting: est_total =
    sum n_hits * step).

    Unlike stratified_sample (uniform per-row coin flips) this weights
    inclusion by ``weight_col`` (bytes, tokens, cost) — the estimator
    of any weight-proportional total is exactly unbiased under the
    systematic design.

    Selection rule in pure integers (non-negative weights; negative or
    null weights are dropped): with inclusive cumulative weight C and
    row weight w, selected iff ``C div step > (C - w) div step``.

    Scale shape: one per-group window (prefix sum over the group's own
    rows in hash order) — groups are strata dims (source, lang,
    shard); a 10^9-row group is one ordered window partition, so
    pre-shard the group key if strata are corpus-sized. Output is the
    sampled subset with lineage (cum_w, n_hits)."""
    from pyspark.sql import Window

    if step <= 0:
        raise ValueError(f"step must be positive, got {step}")
    rows = (
        df.where(F.col(group_col).isNotNull() & (F.col(weight_col) >= 0))
        .withColumn("_w", F.col(weight_col).cast("long"))
        .withColumn(
            "_skey",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{salt}|"), F.col(id_col).cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
        )
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("_skey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The SAME long-cast weight (`_w`) feeds both the cumulative sum
    # and the hits rule: a DOUBLE/DECIMAL weight_col would make `div`
    # fail (ANSI) or round differently from the long-cast cumulative,
    # and a raw-name interpolation breaks on non-identifier names.
    cum = rows.withColumn("cum_w", F.sum("_w").over(w))
    hits = F.expr(
        f"cum_w div {int(step)} - (cum_w - _w) div {int(step)}"
    )
    return (
        cum.withColumn("n_hits", hits.cast("long"))
        .where(F.col("n_hits") > 0)
        .drop("_skey", "_w")
    )
