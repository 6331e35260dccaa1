"""Recrawl scheduling: retire urls from the seen-set so a resumed
crawl revisits them.

The reference has no refresh concept (a DocrawlClient revisits a page
only if the user's script calls load_website again,
docrawl_client.py:199-208); at 10^10-frontier scale freshness requires
retiring stale urls WITHOUT rebuilding the seen-set. This is exactly
why the seen-filter family includes a cuckoo filter (deletable) next
to the Bloom (not deletable, union-only) — see functions/cuckoo.py.

``retire_for_recrawl`` is one atomic warehouse transaction per table:
- url_seen ← seen MINUS retired (overwrite snapshot; time travel to
  the pre-retire state keeps working);
- frontier_pending ← the pending rows plus the retired urls as wave
  candidates (parent_rank=-1, like seeds; url_hash tie-breaks
  ordering), so ``run_crawl(resume=True)`` picks them up as the next
  wave;
- optionally, the sharded cuckoo filter drops the same keys in
  parallel (no rebuild).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import host_of_col, url_hash_col
from docrawl_spark.sources.storage import Warehouse


def retired_to_candidates(retired: DataFrame) -> DataFrame:
    """url_seen rows → frontier candidate rows (CANDIDATE_COLS shape)."""
    return retired.select(
        "url_hash",
        "url",
        host_of_col("url").alias("host"),
        url_hash_col(host_of_col("url")).alias("host_hash"),
        F.lit(0).alias("depth"),
        F.lit(-1).cast("long").alias("parent_rank"),
        F.lit(0).alias("offset"),
        F.lit(None).cast("string").alias("discovered_by"),
    )


def retire_for_recrawl(
    warehouse: Warehouse,
    predicate: Column,
    cuckoo_shards: list[bytes] | None = None,
    requeue: bool = True,
) -> tuple[int, list[bytes] | None]:
    """Retire every url_seen row matching ``predicate`` (e.g.
    ``F.col('first_wave') <= 2`` for age-based refresh).

    Returns (n_retired, updated_cuckoo_shards). With ``requeue`` the
    retired urls land in frontier_pending so the next
    ``run_crawl(resume=True)`` revisits them under the normal robots +
    politeness gates.
    """
    seen = warehouse.read("url_seen")
    # NULL-safe: a predicate that evaluates to NULL must mean KEEP —
    # otherwise the row falls out of both where(p) and where(~p) and
    # silently vanishes from the seen set
    predicate = F.coalesce(predicate, F.lit(False))
    return _retire_rows(warehouse, seen, seen.where(predicate), cuckoo_shards, requeue)


def sitemap_stale_urls(fetch_log: DataFrame, entries: DataFrame) -> DataFrame:
    """url_hash rows whose newest sitemap ``lastmod`` is strictly newer
    than the url's LAST fetch — the freshness signal sitemaps exist to
    publish. ``entries`` is operators/sitemap.sitemap_entries output
    (loc, lastmod, ...). Both sides aggregate to one row per url_hash
    BEFORE the join (map-side combinable), so the join is an equi-join
    of two url-keyed frames, never a fan-out; malformed lastmod
    timestamps are ignored (try_to_timestamp — ANSI-safe)."""
    last = fetch_log.groupBy("url_hash").agg(F.max("fetched_at").alias("_last_fetch"))
    ent = (
        entries.select(
            url_hash_col(F.trim(F.col("loc"))).alias("url_hash"),
            F.try_to_timestamp(F.col("lastmod")).alias("_lm"),
        )
        .where(F.col("_lm").isNotNull())
        .groupBy("url_hash")
        .agg(F.max("_lm").alias("_lastmod"))
    )
    return (
        last.join(ent, "url_hash")
        .where(F.col("_lastmod") > F.col("_last_fetch"))
        .select("url_hash")
    )


def retire_stale_by_sitemap(
    warehouse: Warehouse,
    entries: DataFrame,
    cuckoo_shards: list[bytes] | None = None,
    requeue: bool = True,
) -> tuple[int, list[bytes] | None]:
    """Sitemap-driven recrawl (the docstring promise of
    operators/sitemap made real): retire exactly the seen urls whose
    sitemap lastmod post-dates their last fetch, so
    ``run_crawl(resume=True)`` revisits them under the normal robots +
    politeness gates. Returns (n_retired, updated_cuckoo_shards)."""
    stale = sitemap_stale_urls(warehouse.read("fetch_log"), entries)
    seen = warehouse.read("url_seen")
    return _retire_rows(
        warehouse, seen, seen.join(stale, "url_hash", "semi"), cuckoo_shards, requeue
    )


def _retire_rows(
    warehouse: Warehouse,
    seen: DataFrame,
    to_retire: DataFrame,
    cuckoo_shards: list[bytes] | None,
    requeue: bool,
) -> tuple[int, list[bytes] | None]:
    from docrawl_spark.functions.cuckoo import delete_from_sharded_cuckoo

    retired = to_retire.persist()
    n_retired = retired.count()
    if n_retired == 0:
        retired.unpersist()
        return 0, cuckoo_shards
    # keep = seen MINUS the MATERIALIZED retired set (anti-join on the
    # persisted url_hash set), never where(~predicate): a
    # non-deterministic predicate (e.g. F.rand() sampled refresh) would
    # otherwise be evaluated twice and could drop rows from both sides
    # or retire without requeueing
    keep = seen.join(retired.select("url_hash"), "url_hash", "left_anti")
    warehouse.overwrite("url_seen", keep)
    if requeue:
        cand = retired_to_candidates(retired)
        if warehouse.exists("frontier_pending"):
            # mid-crawl retirement: keep every not-yet-visited frontier
            # row. frontier_pending holds RAW candidates (a url may
            # repeat, and may equal a retired url); the next wave's
            # schedule_wave dedups them keep-first and anti-joins them
            # against url_seen, and a requeued row's pack (parent_rank
            # -1, offset 0) sorts before every discovered occurrence.
            cand = warehouse.read("frontier_pending").unionByName(cand)
        warehouse.overwrite("frontier_pending", cand)
    if cuckoo_shards is not None:
        cuckoo_shards = delete_from_sharded_cuckoo(
            cuckoo_shards, retired.select("url_hash")
        )
    retired.unpersist()
    return n_retired, cuckoo_shards


# ---------------------------------------------------------------------------
# Change-rate-driven recrawl (freshness estimation)
# ---------------------------------------------------------------------------


def change_rate_estimates(
    history: DataFrame,
    url_col: str = "url_hash",
    ts_col: str = "fetched_at",
    hash_col: str = "content_hash",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-url Poisson change-rate estimate from a multi-fetch history
    (url, fetched_at, content_hash) — the Cho & Garcia-Molina freshness
    estimator (ACM TOIT 3(3) 2003, "Estimating frequency of change"):
    with n observed inter-fetch intervals of which X showed a changed
    content hash, the bias-corrected rate is

        lambda = -ln((n - X + 0.5) / (n + 0.5)) / mean_gap

    (+0.5 keeps the all-changed case finite). Rows per url: one, with
    (n_fetches, n_intervals, n_changes, total_gap_us, last_fetch,
    change_rate_per_day). Urls with a single fetch carry NULL rate —
    no interval, no evidence.

    Arithmetic contract: gaps accumulate as exact BIGINT microseconds
    (unix_micros), floats appear only in the final ln/divide, so the
    estimate is reproducible to libm ulps; round before hashing
    cross-engine (driver queries round to 6).

    Scale shape: one lag-window per url (bounded by that url's fetch
    count — never corpus-wide), then a map-side-combinable aggregate.
    ``order_cols`` (default [ts_col]) must be a deterministic total
    order within a url; pass a unique tiebreak column if fetch
    timestamps can collide."""
    from pyspark.sql import Window

    order = order_cols or [ts_col]
    w = Window.partitionBy(url_col).orderBy(*[F.col(c) for c in order])
    us = _micros(F.col(ts_col))
    h = history.select(
        url_col,
        F.col(ts_col),
        F.col(hash_col),
        *[F.col(c) for c in order if c not in (url_col, ts_col, hash_col)],
    ).select(
        url_col,
        F.col(ts_col),
        us.alias("_us"),
        F.col(hash_col),
        F.lag(hash_col).over(w).alias("_prev_hash"),
        F.lag(us).over(w).alias("_prev_us"),
    )
    per = h.groupBy(url_col).agg(
        F.count("*").alias("n_fetches"),
        F.count("_prev_us").alias("n_intervals"),
        F.sum((F.col(hash_col) != F.col("_prev_hash")).cast("long")).alias(
            "n_changes"
        ),
        F.sum(F.col("_us") - F.col("_prev_us")).alias("total_gap_us"),
        F.max(ts_col).alias("last_fetch"),
    )
    n = F.col("n_intervals").cast("double")
    x = F.col("n_changes").cast("double")
    mean_gap_days = F.col("total_gap_us") / n / F.lit(86_400_000_000.0)
    rate = -F.log((n - x + F.lit(0.5)) / (n + F.lit(0.5))) / mean_gap_days
    return per.withColumn(
        "change_rate_per_day",
        F.when(F.col("n_intervals") > 0, rate),
    )


def _micros(ts: Column) -> Column:
    """Epoch microseconds; accepts TIMESTAMP and TIMESTAMP_NTZ (parquet
    event times land as NTZ — `unix_micros` rejects NTZ directly). The
    engine session pins spark.sql.session.timeZone=UTC, so the NTZ→LTZ
    cast is the identity interpretation and matches DuckDB epoch_us on
    the same naive value."""
    return F.unix_micros(ts.cast("timestamp_ltz"))


def stale_prob_col(rate_per_day: Column, last_fetch: Column, as_of: Column) -> Column:
    """P(page changed since last fetch) under the Poisson model:
    1 - exp(-lambda * age_days). NULL rate → NULL (no evidence)."""
    age_days = (_micros(as_of) - _micros(last_fetch)) / F.lit(
        86_400_000_000.0
    )
    return F.lit(1.0) - F.exp(-rate_per_day * F.greatest(age_days, F.lit(0.0)))


def recrawl_by_staleness(
    estimates: DataFrame,
    as_of: Column,
    min_prob: float = 0.5,
) -> DataFrame:
    """Urls whose estimated P(changed) ≥ ``min_prob`` at ``as_of``,
    highest first — the freshness-driven recrawl queue. Feeds
    ``retire_for_recrawl`` via a semi-join on url_hash."""
    p = stale_prob_col(F.col("change_rate_per_day"), F.col("last_fetch"), as_of)
    return (
        estimates.withColumn("stale_prob", p)
        .where(F.col("stale_prob") >= min_prob)
        .orderBy(F.col("stale_prob").desc(), F.col("url_hash"))
    )


def snapshot_change_magnitude(
    snapshots: DataFrame,
    url_col: str = "url",
    version_col: str = "version",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """HOW MUCH a page changed between consecutive snapshots — the
    magnitude signal :func:`change_rate_estimates`'s Poisson model
    can't express (it only sees whether the content hash flipped).
    Cho-style schedulers weight refresh value by both rate AND size of
    change; this supplies the size as shingle-set Jaccard distance.

    Per (url, version → version+1): the DISTINCT k-token shingle sets
    of both versions, their intersection via one equi-join on
    (url, shingle), and change_ppm = 10^6 − jaccard_ppm with
    jaccard_ppm = |∩|·10^6 div |∪| (exact BIGINT). A pair row exists
    only when BOTH versions have ≥ 1 shingle (shorter-than-k snapshots
    have no set to compare). ``version`` must be densely numbered per
    url (0,1,2,… — the snapshot store's sequence).

    Returns (url, from_version, to_version, n_from, n_to, n_common,
    jaccard_ppm, change_ppm). Scale shape: shingle explode → distinct
    (map-side pre-combine) → per-(url,version) counts + ONE shifted
    self-equi-join on (url, shingle, version+1) — shingle-keyed, never
    a version cross-product; no window, no UDF.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # guard n >= k BEFORE building slice indices: sequence(0, -1)
    # DESCENDS and slice(…, 0, …) raises (CLAUDE.md env facts)
    shingle_strs = F.expr(
        f"CASE WHEN size(_ts) >= {int(k)} THEN"
        f" transform(sequence(0, size(_ts) - {int(k)}),"
        f" i -> array_join(slice(_ts, i + 1, {int(k)}), ' '))"
        f" ELSE CAST(array() AS array<string>) END"
    )
    grams = (
        snapshots.select(
            F.col(url_col).alias("url"),
            F.col(version_col).cast("long").alias("version"),
            toks.alias("_ts"),
        )
        .select("url", "version", F.explode(shingle_strs).alias("shingle"))
        .distinct()
    )
    sizes = grams.groupBy("url", "version").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    nxt = grams.select(
        "url", (F.col("version") - 1).alias("version"), F.col("shingle")
    )
    common = (
        grams.join(nxt, ["url", "version", "shingle"])
        .groupBy("url", "version")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    a = sizes.select(
        "url", "version", F.col("n_shingles").alias("n_from")
    )
    b = sizes.select(
        "url", (F.col("version") - 1).alias("version"),
        F.col("n_shingles").alias("n_to"),
    )
    pairs = (
        a.join(b, ["url", "version"])
        .join(common, ["url", "version"], "left")
        .select(
            "url",
            F.col("version").alias("from_version"),
            (F.col("version") + 1).alias("to_version"),
            "n_from",
            "n_to",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        )
    )
    union = F.col("n_from") + F.col("n_to") - F.col("n_common")
    jacc = F.when(union <= 0, F.lit(1_000_000).cast("long")).otherwise(
        F.expr("n_common * 1000000L div (n_from + n_to - n_common)")
    )
    return pairs.select(
        "url", "from_version", "to_version", "n_from", "n_to", "n_common",
        jacc.alias("jaccard_ppm"),
        (F.lit(1_000_000) - jacc).cast("long").alias("change_ppm"),
    )
