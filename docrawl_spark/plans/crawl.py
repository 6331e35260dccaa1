"""The crawl wave loop — the engine's `parse()` analogue.

The reference's only control flow is a sequential poll loop
(docrawl_core.py:1039-1123) executing one command at a time. Here one
**wave** is one declarative DataFrame pipeline (SURVEY.md §3.5):

    pending candidates (raw, may repeat urls)
      → integrated skinny schedule [plans/wave.schedule_wave]:
          robots gate (broadcast, no exchange)
          → hash-keyed within-wave keep-first dedup (min-pack)
          → Bloom prefilter + exact anti-join vs url_seen
          → salted per-host budget selection [politeness]
          → global rank = deterministic visit order: the ≤ Σ budgets
            selected skinny rows sorted in one partition (lazy —
            building the wave runs no Spark job)
          → ONE payload rejoin (broadcast keys on url_hash + pack)
      → fetch join against the corpus                    [fetch]
      → commit fetch_log + url_seen                      [checkpoint]
      → link discovery (array-filtered explode + canon)  [extract]
      → commit raw candidates as next frontier + state   [checkpoint]

Dedup and the seen-set anti-join run at SCHEDULE time over the skinny
(url_hash, host_hash, budget, pack) projection, so no corpus-sized
exchange ever carries a url string: discovery writes the raw candidate
stream to storage (a partition-local columnar write, not a shuffle)
and the strings re-enter the plan exactly once, through the ranked
keys' broadcast rejoin. Filtering seen/dup rows at schedule instead of
discovery is the same set algebra (url_seen at wave k's start ==
url_seen after wave k-1's commit; robots/dedup/anti-join are per-url
filters and commute with keep-first grouping).

The driver iterates waves. Every wave ends in warehouse commits
(Iceberg-snapshot semantics — see sources/storage.py), which are the
resume points; `resume=True` continues an interrupted crawl from the
last committed wave with identical results (tested).

Determinism: visit order is the total order (wave, parent_rank, offset,
url_hash) — task timing can never change results (SURVEY.md §5.3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import (
    host_of_col,
    normalize_seed_url_col,
    url_hash_col,
)
from docrawl_spark.operators.fetch import synthetic_fetch
from docrawl_spark.operators.links import discover_links
from docrawl_spark.operators.scan import scan_documents
from docrawl_spark.plans.wave import schedule_wave
from docrawl_spark.sources.schemas import URL_SEEN_SCHEMA
from docrawl_spark.sources.storage import Warehouse

# 2024-01-01T00:00:00Z — anchor for the deterministic fetched_at clock
_FETCH_CLOCK_EPOCH = 1704067200

CANDIDATE_COLS = [
    "url_hash",
    "url",
    "host",
    "host_hash",
    "depth",
    "parent_rank",
    "offset",
    "discovered_by",
]


@dataclass
class CrawlResult:
    visits: list[tuple[int, str]]
    seen_urls: set[str]
    fetch_log: DataFrame
    metrics: list[dict] = field(default_factory=list)
    # incremental seen-set Bloom maintained when ``use_bloom=True`` —
    # serialized for the NON-co-partitioned consumers (recrawl/requeue
    # probes, the windowed TTL filter) that run between crawls; the
    # in-wave anti-join never uses it (see run_crawl docstring)
    seen_bloom: bytes | None = None


def seeds_to_candidates(seeds: DataFrame) -> DataFrame:
    """seeds(url, seed_order) → wave-0 candidate rows. Applies the
    reference's 'http' substring prepend quirk, dedups keeping the
    lowest seed_order, and encodes seed order as (parent_rank=-1,
    offset=seed_order) so one ordering rule covers all waves."""
    normalized = seeds.select(
        normalize_seed_url_col("url").alias("url"),
        F.col("seed_order").cast("int").alias("seed_order"),
    )
    first = normalized.groupBy("url").agg(F.min("seed_order").alias("seed_order"))
    return first.select(
        url_hash_col("url").alias("url_hash"),
        "url",
        host_of_col("url").alias("host"),
        url_hash_col(host_of_col("url")).alias("host_hash"),
        F.lit(0).alias("depth"),
        F.lit(-1).cast("long").alias("parent_rank"),
        F.col("seed_order").alias("offset"),
        F.lit(None).cast("string").alias("discovered_by"),
    )


def run_crawl(
    spark: SparkSession,
    documents_raw: DataFrame,
    hosts: DataFrame,
    seeds: DataFrame,
    max_waves: int = 10,
    warehouse: Warehouse | None = None,
    use_bloom: bool = False,
    n_salts: int = 8,
    resume: bool = False,
    collect_visits: bool = False,
    expected_total_urls: int = 1 << 20,
    fetcher=None,
    fused: bool = True,
    seen_index=None,
) -> CrawlResult:
    """Run (or resume) a crawl to completion or ``max_waves``.

    ``fused`` (default True, round 5): schedule each wave through the
    single-exchange pipeline — one repartition on (host_hash, _salt)
    carries the dedup, the 3-key seen anti-join, and the phase-1
    politeness window (plans/wave.schedule_wave_stages). False re-runs
    the round-4 two-exchange shape; results are identical either way
    (equality-parametrized in tests).

    ``seen_index``: a ``sources/seen_index.BucketedSeenIndex`` — the
    bucketed on-disk twin of url_seen. When given (requires ``fused``),
    each wave's anti-join probes the index's bucketed scan instead of
    re-shuffling the accumulated seen set (the cross-wave scan-reuse
    path; the index is appended alongside url_seen each wave, and
    rebuilt from url_seen on resume if missing).

    ``collect_visits`` defaults to False: collecting the full ordered
    fetch_log to the driver is what the equality suites need at test
    scale, and a guaranteed driver OOM at 10^10-URL scale — production
    callers read ``CrawlResult.fetch_log`` (a DataFrame) instead and
    the equality tests opt in explicitly.

    ``use_bloom`` defaults to False: the integrated skinny wave
    resolves seen-ness with a co-partitioned exact anti-join whose
    candidate side moves zero bytes, and in that position a Bloom
    probe is measured-negative (a pandas-UDF projection breaks
    partition-reuse and forces the very exchange the join avoids —
    operators/dedup.anti_join_seen docstring). Accordingly run_crawl
    NEVER passes the blob to the scheduler (it would be dead weight:
    anti_join_seen(prepartitioned=True) ignores it by design). True
    maintains the incremental seen-set Bloom for the consumers that
    DO want it — the probes NOT co-partitioned with the dedup
    (recrawl/requeue checks, the windowed TTL filter) run between
    crawls — and returns it as ``CrawlResult.seen_bloom``; results
    are identical either way (equality-tested).
    ``expected_total_urls`` sizes that Bloom; an overshoot only
    degrades fpp (the exact anti-join stays the source of truth).

    ``fetcher``: the wave fetch stage — a callable
    ``(selected: DataFrame) -> DataFrame`` receiving the ranked wave
    (url, host, host_hash, url_hash, depth, visit_rank, …) and
    returning it extended with (status, spans, n_spans, headers,
    cookies, json_requests). Default: the synthetic corpus join over
    ``documents_raw`` (`operators/fetch.synthetic_fetch`). Pass
    `operators/transport.make_http_fetcher(...)` for a REAL HTTP crawl
    — ``documents_raw`` may then be None. Everything downstream
    (seen-set, discovery, checkpoints, resume) is fetcher-agnostic."""
    from docrawl_spark.functions.bloom import Bloom, _optimal_params, build_bloom

    if fetcher is None:
        if documents_raw is None:
            raise ValueError("run_crawl needs documents_raw or a fetcher=")
        docs_clean = scan_documents(documents_raw).persist()

        def fetcher(sel: DataFrame) -> DataFrame:
            return synthetic_fetch(sel, docs_clean)
    hosts_dim = hosts.select("host", "budget", "robots_blob")
    bloom_capacity = expected_total_urls
    bloom_params = _optimal_params(bloom_capacity, 0.03)
    bloom_acc: Bloom | None = None

    metrics: list[dict] = []
    url_seen: DataFrame | None = None  # seen set as of the wave's START
    if resume:
        if warehouse is None or not warehouse.exists("crawl_state"):
            raise ValueError("resume requested but no committed crawl_state")
        state = warehouse.read("crawl_state").orderBy("wave").collect()
        last = state[-1]
        start_wave = int(last["wave"]) + 1
        visit_base = int(last["metrics"]["visit_base_next"])
        candidates = warehouse.read("frontier_pending")
        if warehouse.exists("url_seen"):
            url_seen = warehouse.read("url_seen", empty_schema=URL_SEEN_SCHEMA)
        if use_bloom and warehouse.exists("url_seen"):
            bloom_acc = Bloom.from_bytes(
                build_bloom(
                    warehouse.read("url_seen"), "url_hash",
                    expected_items=expected_total_urls, params=bloom_params,
                )
            )
    else:
        start_wave = 0
        visit_base = 0
        candidates = seeds_to_candidates(seeds)

    if seen_index is not None:
        if not fused:
            raise ValueError("seen_index requires fused=True (the 3-key anti-join)")
        if getattr(seen_index, "n_salts", n_salts) != n_salts:
            # a mismatched salt rule would silently fail the 3-key
            # anti-join equality and RE-CRAWL every seen url
            raise ValueError(
                f"seen_index.n_salts={seen_index.n_salts} != crawl "
                f"n_salts={n_salts}: the index's stored _salt must use "
                "the wave's salt rule"
            )
        if resume and url_seen is not None:
            # a crash between the url_seen append and the index append
            # can leave the index behind the truth — rebuild from the
            # committed seen set (cheap next to a crawl wave)
            seen_index.rebuild(url_seen)
        elif not resume and seen_index.exists():
            seen_index.drop()

    for wave in range(start_wave, max_waves):
        # the integrated skinny wave (plans/wave.schedule_wave): gate +
        # hash-keyed dedup + seen anti-join + salted budgets + global
        # rank, one payload rejoin — same results as the compositional
        # dedup_within_wave → anti_join_seen → schedule_candidates
        # path, pinned by the crawl-equality suite
        # NOTE: the maintained bloom_acc is deliberately NOT passed
        # here — the wave's prepartitioned anti-join ignores a blob by
        # design (ADVICE r5), so threading it in would be pure overhead
        wave_seen = url_seen
        if (
            seen_index is not None
            and url_seen is not None
            and seen_index.exists()
        ):
            # probe the bucketed index scan (pre-partitioned on disk)
            # instead of re-shuffling the accumulated seen set
            wave_seen = seen_index.frame()
        ranked = schedule_wave(
            candidates,
            hosts_dim,
            n_salts=n_salts,
            rank_col="_wave_rank",
            seen=wave_seen,
            bloom=None,
            fused=fused,
            # candidates are warehouse-parquet-backed (or persisted by
            # the in-memory branch below) — rescanning beats a cache
            persist_wide=False,
        ).withColumn("visit_rank", (F.lit(visit_base) + F.col("_wave_rank")))
        fetched = fetcher(ranked.drop("_wave_rank"))

        # ---- commit visits (checkpoint #1) --------------------------------
        # partition_id records which task materialized each row — the
        # per-partition lineage half of the north_rule's
        # "per-partition lineage + metrics"
        # headers + cookies + json_requests + fetched_at = the
        # reference's FULL D7 side-channel capture (headers, cookies
        # and JSON sub-requests per page load, docrawl_core.py:
        # 1064-1083, replayed via get_browser_cookies /
        # get_browser_json_requests, docrawl_client.py:54-71).
        # fetched_at is a deterministic synthetic clock (epoch anchor +
        # visit_rank seconds) so crawl equality and oracle hashing stay
        # reproducible; a production fetch stage records the real
        # response time instead.
        fetch_log_delta = fetched.select(
            "url_hash",
            "url",
            "host",
            F.lit(wave).alias("wave"),
            "visit_rank",
            "status",
            "n_spans",
            "headers",
            "cookies",
            "json_requests",
            F.timestamp_seconds(
                F.lit(_FETCH_CLOCK_EPOCH) + F.col("visit_rank")
            ).alias("fetched_at"),
            F.spark_partition_id().alias("partition_id"),
        )
        seen_delta = fetched.select(
            "url_hash", "url", "host_hash", F.lit(wave).alias("first_wave")
        )
        if warehouse is not None:
            warehouse.append("fetch_log", fetch_log_delta)
            warehouse.append("url_seen", seen_delta)
            warehouse.overwrite("wave_fetched", fetched)
            fetched = warehouse.read("wave_fetched")  # truncate lineage
            if seen_index is not None:
                # from the committed parquet, not seen_delta — the
                # latter would re-execute the whole wave plan
                seen_index.append(fetched.select("url_hash", "host_hash"))
            url_seen = warehouse.read("url_seen", empty_schema=URL_SEEN_SCHEMA)
        else:
            fetched = fetched.persist()
            url_seen = (
                url_seen.unionByName(seen_delta)
                if url_seen is not None
                else seen_delta
            ).persist()
            if seen_index is not None:
                seen_index.append(fetched.select("url_hash", "host_hash"))

        # incremental seen-set Bloom: add only this wave's keys, union
        # into the accumulated filter (vs. rebuilding over all of
        # url_seen every wave — O(total) per wave at 10^10 scale)
        if use_bloom:
            delta = Bloom.from_bytes(
                build_bloom(
                    fetched.select("url_hash"), "url_hash",
                    expected_items=bloom_capacity, params=bloom_params,
                )
            )
            bloom_acc = delta if bloom_acc is None else bloom_acc.union(delta)

        stats = fetched.agg(
            F.count("*").alias("n"),
            F.sum((F.col("status") == 404).cast("long")).alias("n404"),
        ).first()
        n_visited = int(stats["n"] or 0)
        if n_visited == 0:
            break
        visit_base += n_visited

        # grow the Bloom before fpp degrades: rebuild from the full
        # committed seen-set at 4x capacity (under-sizing costs a
        # rebuild pass, never correctness — the anti-join is the truth)
        if use_bloom and visit_base > 0.8 * bloom_capacity:
            bloom_capacity *= 4
            bloom_params = _optimal_params(bloom_capacity, 0.03)
            bloom_acc = Bloom.from_bytes(
                build_bloom(
                    url_seen, "url_hash",
                    expected_items=bloom_capacity, params=bloom_params,
                )
            )

        # ---- discover next wave -------------------------------------------
        # raw candidates go straight to the frontier: dedup and the
        # seen-set anti-join happen on the skinny projection at the
        # NEXT wave's schedule (schedule_wave), so discovery itself is
        # exchange-free — explode + canon + columnar write. The rows
        # carry discovered_by directly (no lineage-restore join).
        discovered = discover_links(fetched, doc_col="url")
        quarantine = discovered.where(F.col("canon_error").isNotNull())
        good = discovered.where(F.col("canon_error").isNull())
        nxt = good.select(*CANDIDATE_COLS)

        # ---- commit next frontier (checkpoint #2 = the resume point) ------
        wave_metrics = {
            "n_visited": float(n_visited),
            "n_404": float(stats["n404"] or 0),
            "visit_base_next": float(visit_base),
        }
        if warehouse is not None:
            warehouse.append(
                "quarantine",
                quarantine.select(
                    "discovered_by",
                    F.col("media_ref").alias("bad_ref"),
                    "canon_error",
                    F.lit(wave).alias("wave"),
                ),
            )
            warehouse.overwrite("frontier_pending", nxt)
            candidates = warehouse.read("frontier_pending")
            # per-partition metrics: rows fetched / 404s per task
            warehouse.append(
                "partition_metrics",
                warehouse.read("fetch_log")
                .where(F.col("wave") == wave)
                .groupBy("partition_id")
                .agg(
                    F.count("*").alias("n_fetched"),
                    F.sum((F.col("status") == 404).cast("long")).alias("n_404"),
                )
                .select(
                    F.lit(wave).alias("wave"), "partition_id", "n_fetched", "n_404"
                ),
            )
            warehouse.append(
                "crawl_state",
                spark.createDataFrame(
                    [(wave, "snap", wave_metrics)],
                    "wave int, checkpoint_id string, metrics map<string,double>",
                ),
            )
        else:
            candidates = nxt.persist()
        metrics.append({"wave": wave, **wave_metrics})

    # ---- final artifacts ---------------------------------------------------
    if warehouse is not None:
        fetch_log = warehouse.read("fetch_log")
    else:
        fetch_log = None
    visits: list[tuple[int, str]] = []
    seen_urls: set[str] = set()
    if collect_visits and fetch_log is not None:
        rows = fetch_log.orderBy("wave", "visit_rank").collect()
        visits = [(int(r["wave"]), r["url"]) for r in rows]
        seen_urls = {r["url"] for r in rows}
    return CrawlResult(
        visits=visits,
        seen_urls=seen_urls,
        fetch_log=fetch_log,
        metrics=metrics,
        seen_bloom=bloom_acc.to_bytes() if bloom_acc is not None else None,
    )
