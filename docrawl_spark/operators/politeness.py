"""Politeness and robots operators around the crawl wave (SURVEY.md
§2.5, §4.2): the per-row robots gate, the RFC 9309 robots evaluator,
Crawl-delay budgets and schedules, robots caching, failure circuit
breakers, agent-group selection, Clean-param rules, shared-IP budgets
and delay-compliance reports.

The wave's own robots gate and per-host budget selection live in
``operators/host_policy.py``; ``robots_allowed_col`` here is that same
gate evaluated per row, and ``robots_prefixes_col`` /
``robots_allowed_prefixes_col`` are re-exported for callers that import
them from this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import path_of_col
from docrawl_spark.operators.host_policy import (
    robots_allowed_prefixes_col,
    robots_prefixes_col,
)


def robots_allowed_col(url: Column, robots_blob: Column) -> Column:
    """True iff no non-empty newline-separated Disallow prefix in
    ``robots_blob`` prefixes the url's path. Null/empty blob → allow.
    The crawl wave's gate, with the blob split on the row instead of
    once per host on the dim side."""
    return robots_allowed_prefixes_col(url, robots_prefixes_col(robots_blob))


def schedule_timeline(
    selected: DataFrame,
    delay_col: str = "_crawl_delay",
    order_cols: list[str] | None = None,
    wave_start_ms: int = 0,
) -> DataFrame:
    """Assign each selected URL its earliest polite fetch time: the
    k-th URL of a host (0-based, ordered by ``order_cols``) may not be
    fetched before ``wave_start_ms + k * delay_ms`` — the per-host
    Crawl-delay spacing turned into an explicit dispatch timeline the
    fetch stage can partition on (reference: hard
    ``time.sleep``-per-page politeness, docrawl_core.py:1088,1105,
    re-expressed as data instead of control flow).

    Adds ``fetch_seq`` (0-based per-host sequence) and
    ``scheduled_at_ms``. Delay milliseconds round half-up from the
    (possibly fractional-seconds) delay column, pinned in BIGINT so the
    timeline is exact cross-engine.

    Scale shape: runs AFTER per-host budget selection, so every window
    partition is ≤ the host budget (small by construction) — this is
    the one window in the scheduler that needs no salting, and the
    partitioning it creates (host, time-bucket) is exactly the fetch
    executor layout."""
    order = order_cols or ["visit_rank"]
    w = Window.partitionBy("host_hash").orderBy(*[F.col(c).asc() for c in order])
    delay_ms = F.floor(F.col(delay_col) * 1000 + F.lit(0.5)).cast("long")
    seq = (F.row_number().over(w) - F.lit(1)).cast("long")
    return selected.withColumn("fetch_seq", seq).withColumn(
        "scheduled_at_ms", F.lit(wave_start_ms) + seq * delay_ms
    )


def adaptive_crawl_delays(
    fetch_log: DataFrame,
    base_delay_ms: int = 1000,
    min_delay_ms: int = 250,
    max_delay_ms: int = 16_000,
    err_ppm_threshold: int = 50_000,
    slow_p95_ms: int = 1000,
) -> DataFrame:
    """Per-host adaptive politeness (AIMD-style backoff) from observed
    fetch outcomes: hosts answering with errors back off
    multiplicatively, healthy-but-slow hosts hold, fast healthy hosts
    speed up — the feedback loop the reference's fixed
    ``time.sleep(1)`` (docrawl_core.py:1088,1105) cannot express.

    Rule (integer-exact, cross-engine):
      err_ppm  = floor(n_err · 10^6 / n)
      next_delay_ms =
        clamp(base · 2^min(ceil(err_ppm / threshold), 4), min, max)
          when err_ppm > threshold              (multiplicative backoff)
        clamp(base, min, max)  when p95 > slow_p95_ms   (hold)
        clamp(base / 2, min, max) otherwise             (recover)
    p95 latency is the exact continuous percentile floored to BIGINT
    (F.percentile ≡ DuckDB quantile_cont on the same integers).

    Input columns: (host, status int, latency_ms long). One map-side-
    combinable aggregate on the host dim — no window, no skew exposure
    (the host dim is bounded)."""
    agg = fetch_log.groupBy("host").agg(
        F.count("*").alias("n_fetches"),
        F.sum((F.col("status") >= 400).cast("long")).alias("n_errors"),
        F.floor(F.percentile("latency_ms", F.lit(0.95)))
        .cast("long")
        .alias("p95_latency_ms"),
    )
    err_ppm = F.floor(F.col("n_errors") * 1_000_000 / F.col("n_fetches")).cast(
        "long"
    )
    backoff_steps = F.least(
        F.ceil(err_ppm / F.lit(err_ppm_threshold)).cast("long"), F.lit(4)
    )
    raw = (
        F.when(
            err_ppm > err_ppm_threshold,
            F.lit(base_delay_ms) * F.pow(F.lit(2), backoff_steps).cast("long"),
        )
        .when(F.col("p95_latency_ms") > slow_p95_ms, F.lit(base_delay_ms))
        .otherwise(F.lit(base_delay_ms // 2))
    )
    clamped = F.least(
        F.greatest(raw.cast("long"), F.lit(min_delay_ms)), F.lit(max_delay_ms)
    )
    return agg.select(
        "host",
        "n_fetches",
        "n_errors",
        err_ppm.alias("err_ppm"),
        "p95_latency_ms",
        clamped.alias("next_delay_ms"),
    )


# ---------------------------------------------------------------------------
# RFC 9309-style robots evaluation (wildcards, $ anchors, longest-match,
# Allow beats Disallow on ties) — the realistic upgrade over the prefix
# gate above. The prefix gate stays the crawl-equality default (the
# simulator's spec); this evaluator is for blobs that actually carry
# Allow/Disallow rule lines. User-agent group resolution is a FETCH-side
# concern (the fetcher stores the already-group-resolved rules for its
# own agent in robots_blob) — what's evaluated here is the per-path rule
# algebra, which is the part that needs longest-match precedence.
#
# All pure built-in exprs over the broadcast host dim's small rule
# arrays: rule→regex compilation happens once per DISTINCT rule string
# on the dim side; candidates evaluate ~|rules| regexes per row. Hosts
# with no wildcard rules should keep the prefix fast path — the regex
# path is for the minority of robots files that use '*'/'$'.
# ---------------------------------------------------------------------------


def robots_rules_col(robots_blob: Column) -> Column:
    """Parse 'Allow: <path>' / 'Disallow: <path>' lines into an array
    of structs (allow: bool, path: string). Lines that are neither are
    ignored (comments, crawl-delay, sitemaps)."""
    lines = F.split(F.coalesce(robots_blob, F.lit("")), "\r?\n")
    rules = F.filter(lines, lambda l: l.rlike(r"^(Allow|Disallow):\s*\S"))
    return F.transform(
        rules,
        lambda l: F.struct(
            l.startswith("Allow").alias("allow"),
            F.regexp_replace(l, r"^(Allow|Disallow):\s*", "").alias("path"),
        ),
    )


def robots_compile_col(rules: Column) -> Column:
    """rules (allow, path) → (allow, spec, pattern): specificity =
    raw pattern length (the RFC's longest-match key), pattern = the
    anchored regex. Dim-side, once per host."""
    return F.transform(
        rules,
        lambda r: F.struct(
            r.getField("allow").alias("allow"),
            F.length(r.getField("path")).alias("spec"),
            F.concat(
                F.lit("^"),
                F.regexp_replace(
                    F.regexp_replace(
                        F.when(
                            r.getField("path").endswith("$"),
                            F.substring(
                                r.getField("path"), 1, F.length(r.getField("path")) - 1
                            ),
                        ).otherwise(r.getField("path")),
                        r"([.\\+?(){}\[\]|^$])",
                        r"\\$1",
                    ),
                    r"\*",
                    ".*",
                ),
                F.when(r.getField("path").endswith("$"), F.lit("$")).otherwise(
                    F.lit("")
                ),
            ).alias("pattern"),
        ),
    )


def robots_allowed_rfc_col(url: Column, compiled_rules: Column) -> Column:
    """RFC 9309 decision for the url's path against compiled rules:
    the longest-specificity matching rule wins; on a specificity tie
    Allow wins; no matching rule → allowed."""
    path = path_of_col(url)
    matches = F.filter(
        compiled_rules, lambda r: F.regexp_like(path, r.getField("pattern"))
    )
    # pack (spec, allow) so array_max picks longest-match, allow on tie
    packed = F.transform(
        matches,
        lambda r: r.getField("spec") * 2 + r.getField("allow").cast("int"),
    )
    return F.when(F.size(matches) == 0, F.lit(True)).otherwise(
        F.pmod(F.array_max(packed), F.lit(2)) == 1
    )


def crawl_delay_col(robots_blob: Column, default_delay: float = 0.0) -> Column:
    """Parse a 'Crawl-delay: <seconds>' directive out of the robots
    blob (first occurrence wins, fractional allowed, case-insensitive —
    real robots.txt uses Crawl-Delay:/crawl-delay: interchangeably).
    Missing/invalid → ``default_delay``. Feeds the per-host budget: a
    wave that represents W seconds of crawling gives a host
    floor(W / delay) fetches."""
    raw = F.regexp_extract(
        F.coalesce(robots_blob, F.lit("")),
        r"(?mi)^crawl-delay:\s*([0-9]+(?:\.[0-9]+)?)",
        1,
    )
    return F.when(raw == "", F.lit(float(default_delay))).otherwise(
        raw.cast("double")
    )


def budget_from_crawl_delay(
    robots_blob: Column, wave_seconds: int, default_budget: int
) -> Column:
    """Per-host wave budget implied by Crawl-delay: floor(wave_seconds
    / delay), capped below by 1 fetch per wave; hosts without the
    directive keep ``default_budget``. Pure exprs on the broadcast host
    dim — the scheduler's politeness knob derived from the site's own
    policy."""
    delay = crawl_delay_col(robots_blob, default_delay=0.0)
    return (
        F.when(delay <= 0, F.lit(default_budget))
        .otherwise(F.greatest(F.floor(F.lit(float(wave_seconds)) / delay), F.lit(1)))
        .cast("long")
    )


def robots_cache_schedule(
    fetch_log: DataFrame,
    as_of: Column,
    cache_hours: int = 24,
    unreachable_grace_days: int = 30,
    host_col: str = "host",
    ts_col: str = "fetched_at",
    status_col: str = "status",
    tie_col: str = "fetch_id",
) -> DataFrame:
    """RFC 9309 §2.4 robots.txt cache scheduling: given a robots-fetch
    log (one row per robots.txt fetch: host, fetched_at, final HTTP
    status after redirects, a unique tie-break id), reduce to each
    host's LATEST fetch and classify what the crawler may assume at
    ``as_of``:

    - 2xx/3xx → ``ok`` (parsed rules apply);
    - 4xx → ``allow_all`` ("unavailable" per §2.3.1.3: a missing
      robots.txt imposes no restrictions);
    - 5xx within ``unreachable_grace_days`` → ``disallow_all``
      ("unreachable" per §2.3.1.4: MUST assume complete disallow);
    - 5xx older than the grace window → ``stale_unreachable`` (§2.3.1.4
      allows falling back to a cached copy / no restrictions after a
      reasonably long time; the scheduler surfaces these for operator
      policy rather than deciding).

    ``refetch_due`` is True once the cached copy is older than
    ``cache_hours`` (§2.4: SHOULD NOT use a cached robots.txt for more
    than 24 hours). Ages are exact BIGINT microsecond arithmetic
    (``div`` ≡ DuckDB ``//`` on non-negative values) so the due
    boundary is engine-identical — no float hours.

    Scale shape: one HashAggregate to the host dim (max fetch micros),
    an equi-join back to pick the tie-break winner at that timestamp
    (latest id wins — a re-fetch logged in the same microsecond
    supersedes), then one more host-dim join for the status. Every
    post-aggregate frame is host-dim sized, so AQE broadcasts the
    joins; no window, no per-row Python.
    """
    from docrawl_spark.operators.recrawl import _micros

    base = fetch_log.select(
        F.col(host_col).alias("host"),
        _micros(F.col(ts_col)).alias("_us"),
        F.col(status_col).alias("_status"),
        F.col(tie_col).alias("_tie"),
    )
    latest = (
        base.groupBy("host")
        .agg(F.max("_us").alias("last_fetch_us"))
        .select(F.col("host").alias("_lhost"), "last_fetch_us")
    )
    winner = (
        base.join(
            latest,
            (F.col("host") == F.col("_lhost"))
            & (F.col("_us") == F.col("last_fetch_us")),
        )
        .groupBy("host", "last_fetch_us")
        .agg(F.max("_tie").alias("_win_tie"))
        .select(
            F.col("host").alias("_whost"),
            F.col("last_fetch_us").alias("_wus"),
            "_win_tie",
        )
    )
    last = base.join(
        winner,
        (F.col("host") == F.col("_whost")) & (F.col("_tie") == F.col("_win_tie")),
    ).select(
        "host",
        F.col("_wus").alias("last_fetch_us"),
        F.col("_status").alias("last_status"),
    )
    age_us = _micros(as_of) - F.col("last_fetch_us")
    age_hours = F.expr("age_us div CAST(3600000000 AS BIGINT)")
    grace_us = F.lit(int(unreachable_grace_days) * 86_400_000_000)
    state = (
        F.when(F.col("last_status") < 400, F.lit("ok"))
        .when(F.col("last_status") < 500, F.lit("allow_all"))
        .when(age_us <= grace_us, F.lit("disallow_all"))
        .otherwise(F.lit("stale_unreachable"))
    )
    return (
        last.withColumn("age_us", age_us)
        .select(
            "host",
            "last_fetch_us",
            "last_status",
            age_hours.alias("age_hours"),
            state.alias("access_state"),
            (F.col("age_us") >= F.lit(int(cache_hours) * 3_600_000_000)).alias(
                "refetch_due"
            ),
        )
    )


def failure_circuit_breaker(
    fetch_log: DataFrame,
    as_of: Column,
    trip_threshold: int = 5,
    cooldown_hours: int = 24,
    failure_min_status: int = 500,
    host_col: str = "host",
    ts_col: str = "fetched_at",
    status_col: str = "status",
    tie_col: str = "fetch_id",
) -> DataFrame:
    """Per-host fetch circuit breaker — the ORDER-sensitive complement
    of :func:`adaptive_crawl_delays` (which reacts to the aggregate
    error rate): what matters for tripping is the CURRENT run of
    consecutive failures since the last success, not the overall ratio.

    A fetch fails when ``status >= failure_min_status`` (5xx/timeouts;
    4xx are valid answers). Per host:

    - ``fail_streak``: fetches strictly after the last success in
      (timestamp, tie) order — the whole history if no success ever;
    - state: ``open`` once the streak reaches ``trip_threshold``,
      decaying to ``half_open`` (one probe fetch allowed) after
      ``cooldown_hours`` of silence, else ``closed``.

    Exact BIGINT microsecond arithmetic. Scale shape: the last-success
    resolution is the same two-HashAggregate max/join pattern as
    :func:`robots_cache_schedule` (no window, no struct-max
    SortAggregate); everything after the first aggregate is host-dim
    sized. Returns (host, n_fetches, fail_streak, last_fetch_us,
    state).
    """
    from docrawl_spark.operators.recrawl import _micros

    base = fetch_log.select(
        F.col(host_col).alias("host"),
        _micros(F.col(ts_col)).alias("_us"),
        (F.col(status_col) < failure_min_status).alias("_ok"),
        F.col(tie_col).alias("_tie"),
    )
    # last success per host: max timestamp among successes, then the
    # max tie at that timestamp (a success and failure in the same
    # microsecond resolve by tie order, same convention throughout).
    s_us = (
        base.where("_ok")
        .groupBy("host")
        .agg(F.max("_us").alias("_s_us"))
        .select(F.col("host").alias("_shost"), "_s_us")
    )
    s_tie = (
        base.where("_ok")
        .join(s_us, (F.col("host") == F.col("_shost")) & (F.col("_us") == F.col("_s_us")))
        .groupBy("host", "_s_us")
        .agg(F.max("_tie").alias("_s_tie"))
    )
    tagged = base.join(
        s_tie.select(
            F.col("host").alias("_jhost"), "_s_us", "_s_tie"
        ),
        F.col("host") == F.col("_jhost"),
        "left",
    )
    after_last_success = F.when(
        F.col("_s_us").isNull(), F.lit(True)
    ).otherwise(
        (F.col("_us") > F.col("_s_us"))
        | ((F.col("_us") == F.col("_s_us")) & (F.col("_tie") > F.col("_s_tie")))
    )
    agg = tagged.groupBy("host").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.sum(F.when(after_last_success, 1).otherwise(0))
        .cast("long")
        .alias("fail_streak"),
        F.max("_us").alias("last_fetch_us"),
    )
    tripped = F.col("fail_streak") >= F.lit(int(trip_threshold))
    cooled = (_micros(as_of) - F.col("last_fetch_us")) >= F.lit(
        int(cooldown_hours) * 3_600_000_000
    )
    state = (
        F.when(tripped & cooled, F.lit("half_open"))
        .when(tripped, F.lit("open"))
        .otherwise(F.lit("closed"))
    )
    return agg.select(
        "host", "n_fetches", "fail_streak", "last_fetch_us", state.alias("state")
    )


def select_agent_rules(
    hosts: DataFrame,
    agent: str,
    host_col: str = "host",
    blob_col: str = "robots_blob",
) -> DataFrame:
    """RFC 9309 §2.2.1 user-agent GROUP selection — the step
    :func:`robots_rules_col` skips (it reads every rule in the blob,
    which is only correct for single-group files): a robots.txt is a
    sequence of groups (one or more ``User-agent:`` lines followed by
    rules); a crawler obeys exactly the group(s) with the MOST SPECIFIC
    matching user-agent — the longest token that case-insensitively
    prefixes its product token — falling back to ``*`` (specificity 0),
    and merges rules when several groups name that same best token.

    Returns one row per governing rule: (host, matched_ua, allow,
    path, rule_order) — feed the (allow, path) pairs into
    :func:`robots_compile_col` for the wildcard/$-anchor algebra.
    Hosts with no matching group (and no ``*``) contribute no rows =
    no restrictions.

    Scale shape: line posexplode over the ROBOTS DIM (host-dim sized,
    KB-bounded blobs), two bounded per-host windows (lag for
    group-start detection, running sum for group ids — each partition
    is one robots file's lines, never frontier-scaled), then host-dim
    joins to pick the best specificity. No UDF.
    """
    agent_l = agent.lower()
    w = Window.partitionBy("host").orderBy("idx")
    lines = (
        hosts.select(
            F.col(host_col).alias("host"),
            F.posexplode(
                F.split(F.coalesce(F.col(blob_col), F.lit("")), "\r?\n")
            ).alias("idx", "line"),
        )
        .withColumn("_is_ua", F.col("line").rlike(r"(?i)^user-agent:\s*\S"))
        .withColumn(
            "_gs",
            (
                F.col("_is_ua")
                & ~F.coalesce(F.lag("_is_ua").over(w), F.lit(False))
            ).cast("long"),
        )
        .withColumn(
            "_gid",
            F.sum("_gs").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    uas = lines.where("_is_ua").select(
        "host",
        "_gid",
        F.lower(
            F.trim(F.regexp_extract("line", r"(?i)^user-agent:\s*(\S+)", 1))
        ).alias("ua_tok"),
    )
    cand = uas.where(
        (F.col("ua_tok") == "*")
        | (
            F.substring(F.lit(agent_l), 1, F.length("ua_tok"))
            == F.col("ua_tok")
        )
    ).withColumn(
        "_spec",
        F.when(F.col("ua_tok") == "*", F.lit(0)).otherwise(F.length("ua_tok")),
    )
    best = cand.groupBy("host").agg(F.max("_spec").alias("_best"))
    chosen = (
        cand.join(best, "host")
        .where(F.col("_spec") == F.col("_best"))
        .select("host", "_gid", "ua_tok")
        .distinct()
    )
    rules = lines.where(
        F.col("line").rlike(r"(?i)^(allow|disallow):\s*\S")
    ).select(
        "host",
        "_gid",
        F.col("idx").alias("rule_order"),
        F.col("line").rlike(r"(?i)^allow:").alias("allow"),
        F.trim(F.regexp_replace("line", r"(?i)^(allow|disallow):\s*", "")).alias(
            "path"
        ),
    )
    return rules.join(chosen, ["host", "_gid"]).select(
        "host",
        F.col("ua_tok").alias("matched_ua"),
        "allow",
        "path",
        "rule_order",
    )


def breaker_fold_batch(
    state: DataFrame | None,
    batch: DataFrame,
    failure_min_status: int = 500,
    host_col: str = "host",
    ts_col: str = "fetched_at",
    status_col: str = "status",
    tie_col: str = "fetch_id",
) -> DataFrame:
    """Incremental (streaming-fold) form of
    :func:`failure_circuit_breaker`: fold one micro-batch of fetch
    rows into the per-host breaker state — the foreachBatch shape
    (transformWithStateInPandas needs protobuf, absent here; the fold
    is engine-agnostic and exactly equivalent, see the property test).

    State schema: (host, n_fetches, fail_streak, last_fetch_us).
    Batches MUST arrive in (timestamp, tie) order across batch
    boundaries (the stream's watermark guarantee); within a batch any
    order is fine — the same max/join resolution as the batch operator
    runs per micro-batch. Merge rule: a batch containing a success
    RESETS the streak to its own post-success count; an all-failure
    batch adds its rows to the carried streak.

    Returns the NEW state frame (one row per host ever seen). Apply
    :func:`failure_circuit_breaker`'s trip/cooldown classification to
    the final state via ``breaker_state_classify``.
    """
    from docrawl_spark.operators.recrawl import _micros

    b = batch.select(
        F.col(host_col).alias("host"),
        _micros(F.col(ts_col)).alias("_us"),
        (F.col(status_col) < failure_min_status).alias("_ok"),
        F.col(tie_col).alias("_tie"),
    )
    s_us = (
        b.where("_ok")
        .groupBy("host")
        .agg(F.max("_us").alias("_s_us"))
        .select(F.col("host").alias("_shost"), "_s_us")
    )
    s_tie = (
        b.where("_ok")
        .join(s_us, (F.col("host") == F.col("_shost")) & (F.col("_us") == F.col("_s_us")))
        .groupBy("host", "_s_us")
        .agg(F.max("_tie").alias("_s_tie"))
        .select(F.col("host").alias("_jhost"), "_s_us", "_s_tie")
    )
    tagged = b.join(F.broadcast(s_tie), F.col("host") == F.col("_jhost"), "left")
    after = F.when(F.col("_s_us").isNull(), F.lit(True)).otherwise(
        (F.col("_us") > F.col("_s_us"))
        | ((F.col("_us") == F.col("_s_us")) & (F.col("_tie") > F.col("_s_tie")))
    )
    binc = tagged.groupBy("host").agg(
        F.count("*").cast("long").alias("_b_n"),
        F.sum(after.cast("long")).cast("long").alias("_b_streak"),
        F.max(F.col("_ok").cast("int")).alias("_b_has_ok"),
        F.max("_us").alias("_b_last_us"),
    )
    if state is None:
        return binc.select(
            "host",
            F.col("_b_n").alias("n_fetches"),
            F.col("_b_streak").alias("fail_streak"),
            F.col("_b_last_us").alias("last_fetch_us"),
        )
    merged = state.join(binc, "host", "full_outer")
    return merged.select(
        "host",
        (F.coalesce("n_fetches", F.lit(0)) + F.coalesce("_b_n", F.lit(0)))
        .cast("long")
        .alias("n_fetches"),
        F.when(F.col("_b_n").isNull(), F.col("fail_streak"))
        .when(F.col("_b_has_ok") == 1, F.col("_b_streak"))
        .otherwise(F.coalesce("fail_streak", F.lit(0)) + F.col("_b_streak"))
        .cast("long")
        .alias("fail_streak"),
        F.greatest(
            F.coalesce("last_fetch_us", F.lit(0)),
            F.coalesce("_b_last_us", F.lit(0)),
        )
        .cast("long")
        .alias("last_fetch_us"),
    )


def breaker_state_classify(
    state: DataFrame,
    as_of: Column,
    trip_threshold: int = 5,
    cooldown_hours: int = 24,
) -> DataFrame:
    """The trip/cooldown classification of
    :func:`failure_circuit_breaker`, applied to a folded state frame —
    so batch and incremental paths share the exact policy."""
    from docrawl_spark.operators.recrawl import _micros

    tripped = F.col("fail_streak") >= F.lit(int(trip_threshold))
    cooled = (_micros(as_of) - F.col("last_fetch_us")) >= F.lit(
        int(cooldown_hours) * 3_600_000_000
    )
    return state.select(
        "host",
        "n_fetches",
        "fail_streak",
        "last_fetch_us",
        F.when(tripped & cooled, F.lit("half_open"))
        .when(tripped, F.lit("open"))
        .otherwise(F.lit("closed"))
        .alias("state"),
    )


def retry_after_us_col(header: Column, received_at: Column) -> Column:
    """``Retry-After`` (RFC 9110 §10.2.3) → the epoch-microsecond
    instant before which the host must not be re-contacted. Both wire
    forms: delay-seconds (digits; relative to ``received_at``) and
    IMF-fixdate (``Mon, 15 Jan 2026 10:30:00 GMT``; absolute).
    Unparseable / missing headers → NULL (caller falls back to its own
    backoff — the breaker cooldown or AIMD delay). The 429/503
    Retry-After is the SERVER'S backoff ask; honoring it beats any
    client-side guess.
    """
    from docrawl_spark.operators.recrawl import _micros

    h = F.trim(F.coalesce(header, F.lit("")))
    secs = F.when(
        h.rlike(r"^[0-9]{1,9}$"), h.cast("long") * F.lit(1_000_000)
    )
    # IMF-fixdate is always GMT; the session timezone is pinned UTC, so
    # parsing the date-time portion as a naive timestamp is exact.
    dt = F.try_to_timestamp(
        F.regexp_extract(h, r"^[A-Za-z]{3}, (\d{2} [A-Za-z]{3} \d{4} \d{2}:\d{2}:\d{2}) GMT$", 1),
        F.lit("dd MMM yyyy HH:mm:ss"),
    )
    return (
        F.when(secs.isNotNull(), _micros(received_at) + secs)
        .when(dt.isNotNull(), _micros(dt))
        .otherwise(F.lit(None).cast("long"))
    )


def robots_change_impact(
    urls: DataFrame,
    old_blob_col: Column,
    new_blob_col: Column,
    url_col: str = "url",
) -> DataFrame:
    """Which URLs change verdict when a host ships a new robots.txt —
    the planning step after a robots refetch (operators/recrawl retires
    what this flags): rows newly *blocked* must be retired from the
    frontier/index, rows newly *allowed* become seed candidates.

    Row-local: two prefix-gate evaluations per URL against the old and
    new blob columns — shuffle-free, whole-stage codegen; only rows
    whose verdict changed survive."""
    out = urls.withColumn(
        "was_allowed", robots_allowed_col(F.col(url_col), old_blob_col)
    ).withColumn("now_allowed", robots_allowed_col(F.col(url_col), new_blob_col))
    return out.where(F.col("was_allowed") != F.col("now_allowed")).withColumn(
        "transition",
        F.when(F.col("now_allowed"), F.lit("allowed")).otherwise(F.lit("blocked")),
    )


def clean_param_rules(
    robots: DataFrame,
    host_col: str = "host",
    blob_col: str = "robots_blob",
) -> DataFrame:
    """Parse ``Clean-param: p1&p2 /prefix`` directives (the Yandex REP
    extension, the one place a SITE declares which of its own query
    params are content-free) out of robots blobs: one row per
    ``(host, param, path_prefix)``; a missing prefix means the whole
    site (``/``). Param names follow the spec charset ``A-Za-z0-9_-``.

    This is the site-declared complement of the client-side heuristic
    strip in ``functions/url_normalize.dedup_normalize_url_col`` — ambiguous
    params (``ref``, ``page``) that canon must keep can be dropped here
    because the site itself said so.
    """
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.split(F.coalesce(F.col(blob_col), F.lit("")), r"\r?\n")
        ).alias("line"),
    )
    pat = r"(?i)^clean-param:\s*([A-Za-z0-9_\-&]+)(?:\s+(\S+))?\s*$"
    m = lines.select(
        "host",
        F.regexp_extract("line", pat, 1).alias("_params"),
        F.regexp_extract("line", pat, 2).alias("_pfx"),
    ).where(F.col("_params") != "")
    return (
        m.select(
            "host",
            F.explode(F.split("_params", "&")).alias("param"),
            F.when(F.col("_pfx") == "", F.lit("/"))
            .otherwise(F.col("_pfx"))
            .alias("path_prefix"),
        )
        .where(F.col("param") != "")
        .distinct()
    )


def apply_clean_params(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Apply Clean-param rules to frontier URLs: for every URL whose
    path starts with a rule's prefix on the same host, drop the rule's
    params from the query string. Output = input columns plus
    ``clean_url`` (params removed; a now-empty query loses its ``?``)
    and ``n_params_dropped``.

    100 TB shape: rules are a robots-dim table aggregated to one array
    per host and broadcast; per-URL work is a bounded tiny-array filter
    (a URL carries a handful of params, a host a handful of rules) —
    no shuffle on the URL side, no UDF.
    """
    host_rules = rules.groupBy(F.col("host").alias("_rh")).agg(
        F.array_sort(F.collect_set(F.struct("param", "path_prefix"))).alias(
            "_rules"
        )
    )
    j = urls.join(
        F.broadcast(host_rules), F.col(host_col) == F.col("_rh"), "left"
    )
    path = F.col(path_col)
    # params whose prefix matches THIS url's path
    drop = F.transform(
        F.filter(
            F.coalesce("_rules", F.expr("array()")),
            lambda r: path.startswith(r.getField("path_prefix")),
        ),
        lambda r: r.getField("param"),
    )
    url = F.col(url_col)
    base = F.split_part(url, F.lit("?"), F.lit(1))
    has_q = F.instr(url, "?") > 0
    toks = F.when(has_q, F.split(F.substr(url, F.length(base) + 2), "&")).otherwise(
        F.expr("array()")
    )
    kept = F.filter(
        toks,
        lambda t: ~F.array_contains(drop, F.split_part(t, F.lit("="), F.lit(1))),
    )
    clean = F.when(~has_q | (F.size(kept) == F.size(toks)), url).otherwise(
        F.when(F.size(kept) == 0, base).otherwise(
            F.concat(base, F.lit("?"), F.array_join(kept, "&"))
        )
    )
    return j.select(
        *[F.col(c) for c in urls.columns],
        clean.alias("clean_url"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_params_dropped"),
    )


def shared_ip_budgets(
    hosts: DataFrame,
    ip_cap: int,
    host_col: str = "host",
    ip_col: str = "ip",
    budget_col: str = "budget",
) -> DataFrame:
    """Virtual-hosting politeness: hosts resolving to one IP share
    that IP's fetch budget (per-host courtesy alone can still hammer
    a box serving 10k vhosts). Grants are exact integers by the
    largest-remainder method: if the IP's requests fit under
    ``ip_cap`` everyone gets what they asked; otherwise host i gets
    ``floor(cap·req_i / sum_req)`` and the leftover units go one each
    to the largest fractional remainders (host-asc tie-break) — so
    ``sum(granted) == min(cap, sum(requested))`` exactly and the
    split is deterministic.

    Output: ``(host, ip, requested, granted)``.

    Scale shape: one HashAggregate to the IP grain joined back on the
    IP key, plus one window per IP bounded by that IP's host count —
    the same bounded-partition argument as the robots-group windows.
    """
    from pyspark.sql import Window

    h = hosts.select(
        F.col(host_col).alias("host"),
        F.col(ip_col).alias("ip"),
        F.col(budget_col).cast("long").alias("requested"),
    )
    tot = h.groupBy("ip").agg(F.sum("requested").alias("_sum_req"))
    j = h.join(tot, "ip")
    floor_grant = F.expr(f"({int(ip_cap)}L * requested) div _sum_req")
    frac = F.expr(f"({int(ip_cap)}L * requested) % _sum_req")
    over = F.col("_sum_req") > ip_cap
    w = Window.partitionBy("ip").orderBy(F.col("_frac").desc(), F.col("host").asc())
    scored = j.select(
        "host", "ip", "requested", "_sum_req",
        F.when(over, floor_grant).otherwise(F.col("requested")).alias("_g0"),
        F.when(over, frac).otherwise(F.lit(0)).alias("_frac"),
    ).withColumn("_rk", F.row_number().over(w))
    rem = (
        scored.groupBy("ip")
        .agg(
            (F.least(F.max("_sum_req"), F.lit(int(ip_cap))) - F.sum("_g0")).alias(
                "_rem"
            )
        )
    )
    return (
        scored.join(rem, "ip")
        .select(
            "host",
            "ip",
            "requested",
            (F.col("_g0") + (F.col("_rk") <= F.col("_rem")).cast("long")).alias(
                "granted"
            ),
        )
    )


def delay_compliance_report(
    fetch_log: DataFrame,
    host_col: str = "host",
    ts_us_col: str = "fetch_us",
    policy_us_col: str = "policy_us",
    tie_col: str = "fetch_id",
) -> DataFrame:
    """Did the fleet actually honor each host's crawl delay? Per host:
    observed inter-fetch gaps (consecutive fetches in (ts, tie) order)
    vs the host's policy delay — fetch count, violation count, exact
    min gap, and violation ppm. The post-hoc audit that catches a
    buggy scheduler or a shard split-brain double-fetching a host
    (two shards owning one host is exactly what
    ``operators/sharding`` exists to prevent).

    A violation is a gap strictly under ``policy_us_col`` (per-row,
    so mid-crawl policy changes are judged against the policy at the
    LATER fetch). Hosts with one fetch report zero gaps.

    Scale shape: one per-host window in (ts, tie) order — bounded by
    a host's per-wave fetch count, the same bounded-partition
    argument as the scheduler's own windows — then one HashAggregate
    to the host grain.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(
        F.col(ts_us_col).asc(), F.col(tie_col).asc()
    )
    g = fetch_log.withColumn(
        "_gap", F.col(ts_us_col) - F.lag(ts_us_col).over(w)
    )
    return g.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.count("_gap").cast("long").alias("n_gaps"),
        F.min("_gap").cast("long").alias("min_gap_us"),
        F.sum(
            F.when(F.col("_gap") < F.col(policy_us_col), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
        F.expr(
            f"CASE WHEN count(_gap) > 0 THEN "
            f"sum(CASE WHEN _gap < {policy_us_col} THEN 1L ELSE 0L END)"
            f" * 1000000L div count(_gap) ELSE 0L END"
        ).alias("violation_ppm"),
    )
