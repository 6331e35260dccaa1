"""The crawl wave loop — the engine's `parse()` analogue.

The reference's only control flow is a sequential poll loop
(docrawl_core.py:1039-1123) executing one command at a time. Here one
**wave** is one declarative DataFrame pipeline (SURVEY.md §3.5):

    pending candidates (raw, may repeat urls)
      → integrated skinny schedule [plans/wave.schedule_wave]:
          robots gate (broadcast, no exchange)
          → ONE (host_hash, _salt) exchange carrying the keep-first
            dedup (min-pack), the exact 3-key anti-join vs url_seen
            and the phase-1 politeness window
          → salted per-host budget selection     [host_policy]
          → global rank = deterministic visit order: the ≤ Σ budgets
            selected skinny rows sorted in one partition (lazy —
            building the wave runs no Spark job)
          → ONE payload rejoin (broadcast keys on url_hash + pack)
      → fetch join against the corpus                    [fetch]
      → commit fetch_log: the whole fetched row, the one
        run of the wave plan, observing the visit stats  [checkpoint]
      → from the committed rows: url_seen, the
        seen-index append                                [checkpoint]
      → link discovery (array-filtered explode + canon)  [extract]
      → commit quarantine + raw candidates as next
        frontier, then crawl_state                       [checkpoint]

Dedup and the seen-set anti-join run at SCHEDULE time over the skinny
(url_hash, host_hash, pack) projection, so no corpus-sized
exchange ever carries a url string: discovery writes the raw candidate
stream to storage (a partition-local columnar write, not a shuffle)
and the strings re-enter the plan exactly once, through the ranked
keys' broadcast rejoin. Filtering seen/dup rows at schedule instead of
discovery is the same set algebra (url_seen at wave k's start ==
url_seen after wave k-1's commit; robots/dedup/anti-join are per-url
filters and commute with keep-first grouping).

The driver iterates waves. A wave commits five warehouse tables
(Iceberg-snapshot semantics — see sources/storage.py; the list is in
run_crawl's docstring), crawl_state last, and every snapshot it
commits carries its wave, so `resume=True` can discard a half-committed
wave: a crash at any commit point resumes to identical results
(tests/test_crawl_resume.py).

Determinism: visit order is the total order (wave, parent_rank, offset,
url_hash) — task timing can never change results (SURVEY.md §5.3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import (
    host_of_col,
    normalize_seed_url_col,
    url_hash_col,
)
from docrawl_spark.operators.fetch import synthetic_fetch
from docrawl_spark.operators.discovery import discover_links
from docrawl_spark.operators.scan import scan_documents
from docrawl_spark.plans.wave import schedule_wave
from docrawl_spark.sources.schemas import CRAWL_STATE_SCHEMA, URL_SEEN_SCHEMA
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
    *,
    warehouse: Warehouse,
    n_salts: int = 8,
    resume: bool = False,
    collect_visits: bool = False,
    fetcher=None,
    seen_index=None,
) -> CrawlResult:
    """Run (or resume) a crawl to completion or ``max_waves``.

    ``warehouse`` holds every wave's commits and is the resume point;
    pass a ``Warehouse`` over a temporary directory for a throwaway
    crawl. A wave writes five tables, each snapshot tagged with the
    wave (``warehouse.wave_commits``):

    - ``fetch_log`` — the whole fetched row (the fetcher's output,
      spans included, plus wave, visit_rank, fetched_at and
      partition_id); the only write that runs the wave plan;
    - ``url_seen`` — (url_hash, url, host_hash, first_wave) of the
      committed fetch_log rows;
    - ``quarantine`` — links whose canonicalization failed;
    - ``frontier_pending`` — the next wave's raw candidates;
    - ``crawl_state`` — one row per finished wave, committed last.

    ``resume=True`` discards every snapshot tagged with a wave newer
    than the last crawl_state row, then continues from that row: a
    crash at any commit resumes to the uninterrupted crawl's results.

    ``seen_index``: a ``sources/seen_index.BucketedSeenIndex`` — the
    bucketed on-disk twin of url_seen. When given, each wave's
    anti-join probes the index's bucketed scan instead of re-shuffling
    the accumulated seen set (the cross-wave scan-reuse path; the index
    is appended from the committed fetch_log rows each wave, and
    rebuilt from url_seen on resume).

    ``collect_visits`` defaults to False: collecting the full ordered
    fetch_log to the driver is what the equality suites need at test
    scale, and a guaranteed driver OOM at 10^10-URL scale — production
    callers read ``CrawlResult.fetch_log`` (a DataFrame) instead and
    the equality tests opt in explicitly.

    ``fetcher``: the wave fetch stage — a callable
    ``(selected: DataFrame) -> DataFrame`` receiving the ranked wave
    (url, host, host_hash, url_hash, depth, visit_rank, …) and
    returning it extended with (status, spans, n_spans, headers,
    cookies, json_requests). Default: the synthetic corpus join over
    ``documents_raw`` (`operators/fetch.synthetic_fetch`). Pass
    `operators/transport.make_http_fetcher(...)` for a REAL HTTP crawl
    — ``documents_raw`` may then be None. Everything downstream
    (seen-set, discovery, checkpoints, resume) is fetcher-agnostic."""
    docs_clean = None
    if fetcher is None:
        if documents_raw is None:
            raise ValueError("run_crawl needs documents_raw or a fetcher=")
        docs_clean = scan_documents(documents_raw).persist()

        def fetcher(sel: DataFrame) -> DataFrame:
            return synthetic_fetch(sel, docs_clean)
    try:
        return _crawl_waves(
            spark, hosts, seeds, max_waves, warehouse=warehouse,
            n_salts=n_salts, resume=resume, collect_visits=collect_visits,
            fetcher=fetcher, seen_index=seen_index,
        )
    finally:
        if docs_clean is not None:
            docs_clean.unpersist()


def _crawl_waves(
    spark: SparkSession,
    hosts: DataFrame,
    seeds: DataFrame,
    max_waves: int,
    *,
    warehouse: Warehouse,
    n_salts: int,
    resume: bool,
    collect_visits: bool,
    fetcher,
    seen_index,
) -> CrawlResult:
    """run_crawl's wave loop, with the fetch stage resolved."""
    hosts_dim = hosts.select("host", "budget", "robots_blob")

    metrics: list[dict] = []
    url_seen: DataFrame | None = None  # seen set as of the wave's START
    if resume:
        if not warehouse.exists("crawl_state"):
            raise ValueError("resume requested but no committed crawl_state")
        state = warehouse.read("crawl_state").orderBy("wave").collect()
        last = state[-1]
        # undo the commits of a wave that crashed before its crawl_state
        warehouse.discard_waves_after(int(last["wave"]))
        start_wave = int(last["wave"]) + 1
        visit_base = int(last["metrics"]["visit_base_next"])
        candidates = warehouse.read("frontier_pending")
        if warehouse.exists("url_seen"):
            url_seen = warehouse.read("url_seen", empty_schema=URL_SEEN_SCHEMA)
    else:
        start_wave = 0
        visit_base = 0
        candidates = seeds_to_candidates(seeds)

    if seen_index is not None:
        if getattr(seen_index, "n_salts", n_salts) != n_salts:
            # a mismatched salt rule would silently fail the 3-key
            # anti-join equality and RE-CRAWL every seen url
            raise ValueError(
                f"seen_index.n_salts={seen_index.n_salts} != crawl "
                f"n_salts={n_salts}: the index's stored _salt must use "
                "the wave's salt rule"
            )
        if resume and url_seen is not None:
            # the index is not a warehouse table, so the discard above
            # cannot undo a crashed wave's append — rebuild it from the
            # committed seen set (cheap next to a crawl wave)
            seen_index.rebuild(url_seen)
        elif seen_index.exists():
            seen_index.drop()

    for wave in range(start_wave, max_waves):
        # every snapshot committed in this block carries the wave tag
        # that a resume discards if the wave never reached crawl_state
        with warehouse.wave_commits(wave):
            # the integrated skinny wave (plans/wave.schedule_wave):
            # gate + hash-keyed dedup + seen anti-join + salted budgets
            # + global rank, one payload rejoin — pinned to the
            # simulator by the crawl-equality suites
            wave_seen = url_seen
            if (
                seen_index is not None
                and url_seen is not None
                and seen_index.exists()
            ):
                # probe the bucketed index scan (pre-partitioned on
                # disk) instead of re-shuffling the accumulated seen set
                wave_seen = seen_index.frame()
            ranked = schedule_wave(
                candidates,
                hosts_dim,
                n_salts=n_salts,
                rank_col="_wave_rank",
                seen=wave_seen,
            ).withColumn("visit_rank", (F.lit(visit_base) + F.col("_wave_rank")))
            fetched = fetcher(ranked.drop("_wave_rank"))

            # ---- commit the fetched wave: the ONLY run of its plan ----
            # The whole fetched row (spans, headers, cookies,
            # json_requests = the reference's full D7 side-channel
            # capture, docrawl_core.py:1064-1083) plus wave,
            # fetched_at and partition_id (which task materialized the
            # row — the per-partition lineage; per-partition metrics are
            # fetch_log.groupBy("wave", "partition_id")). fetched_at is a
            # deterministic synthetic clock (epoch anchor + visit_rank
            # seconds) so crawl equality and oracle hashing stay
            # reproducible; a production fetch stage records the real
            # response time instead. The visit stats are observed on
            # the same write, so they cost no job of their own.
            stats = Observation()
            warehouse.append(
                "fetch_log",
                fetched.select(
                    "*",
                    F.lit(wave).alias("wave"),
                    F.timestamp_seconds(
                        F.lit(_FETCH_CLOCK_EPOCH) + F.col("visit_rank")
                    ).alias("fetched_at"),
                    F.spark_partition_id().alias("partition_id"),
                ).observe(
                    stats,
                    F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("status") == 404).cast("long")).alias("n404"),
                ),
            )
            n_visited = int(stats.get["n"])
            if n_visited == 0:
                break
            visit_base += n_visited
            # everything below reads the committed rows back
            fetched = warehouse.read("fetch_log").where(F.col("wave") == wave)

            warehouse.append(
                "url_seen",
                fetched.select(
                    "url_hash", "url", "host_hash", F.lit(wave).alias("first_wave")
                ),
            )
            if seen_index is not None:
                seen_index.append(fetched.select("url_hash", "host_hash"))
            url_seen = warehouse.read("url_seen", empty_schema=URL_SEEN_SCHEMA)

            # ---- discover next wave -----------------------------------
            # raw candidates go straight to the frontier: dedup and the
            # seen-set anti-join happen on the skinny projection at the
            # NEXT wave's schedule (schedule_wave), so discovery itself
            # is exchange-free — explode + canon + columnar write. The
            # rows carry discovered_by directly (no lineage-restore
            # join).
            discovered = discover_links(fetched, doc_col="url")
            quarantine = discovered.where(F.col("canon_error").isNotNull())
            good = discovered.where(F.col("canon_error").isNull())
            warehouse.append(
                "quarantine",
                quarantine.select(
                    "discovered_by",
                    F.col("media_ref").alias("bad_ref"),
                    "canon_error",
                    F.lit(wave).alias("wave"),
                ),
            )
            warehouse.overwrite("frontier_pending", good.select(*CANDIDATE_COLS))
            candidates = warehouse.read("frontier_pending")

            # ---- crawl_state last: the wave's resume point ------------
            wave_metrics = {
                "n_visited": float(n_visited),
                "n_404": float(stats.get["n404"]),
                "visit_base_next": float(visit_base),
            }
            warehouse.append(
                "crawl_state",
                spark.createDataFrame(
                    [(wave, "snap", wave_metrics)], CRAWL_STATE_SCHEMA
                ),
            )
            metrics.append({"wave": wave, **wave_metrics})

    # ---- final artifacts ---------------------------------------------------
    fetch_log = warehouse.read("fetch_log")
    visits: list[tuple[int, str]] = []
    seen_urls: set[str] = set()
    if collect_visits:
        rows = fetch_log.orderBy("wave", "visit_rank").collect()
        visits = [(int(r["wave"]), r["url"]) for r in rows]
        seen_urls = {r["url"] for r in rows}
    return CrawlResult(
        visits=visits,
        seen_urls=seen_urls,
        fetch_log=fetch_log,
        metrics=metrics,
    )
