"""Wave scheduling with payload-skinny shuffles.

The politeness windows and the global-rank exchange do not need the
string payload (url ~50 B, host ~15 B, discovered_by ~40 B per row) —
they key on hashes and order on numbers. At a 10^8-candidate wave,
shipping strings through all three exchanges is 4-5x the bytes of the
skinny columns, and shuffle bandwidth is THE scaling bottleneck of the
wave (measured: the string-wide pipeline saturates a single box's
memory bus at ~500k urls/s regardless of core count — BENCH.md).

``schedule_candidates`` therefore:

1. robots-gates the candidates against the broadcast hosts dim (a
   broadcast join + filter — no shuffle, and the KB-scale robots blob
   never rides an exchange);
2. projects the survivors to the skinny schedule columns
   (url_hash, host_hash, order columns, budget — ~32 B/row);
3. runs the two-phase salted budget windows (operators/politeness) and
   the scalable global rank (operators/ranking) over the skinny rows;
4. rejoins the ≤ Σ budgets selected rows back to the wide payload by
   url_hash — ONE join instead of three string-wide exchanges. AQE
   turns it into a broadcast join whenever the selected set fits.

Identical results to gate_and_select + with_global_rank over wide rows
(the crawl-equality suite pins this: run_crawl routes through here).

``schedule_wave`` — the engine's wave, which run_crawl calls — ranks
differently from ``schedule_candidates``: the selected skinny rows
(url_hash, host_hash, _pack — 24 B/row) are sorted in ONE partition and
numbered by a row_number window: the same dense total order as
with_global_rank, but lazy — no persist, sampling job, count collect or
offsets broadcast — so building a wave runs no Spark job. One partition
adds no scale limit: it holds at most Σ per-host budgets rows, and the
consumers of the ranked keys already broadcast them whole
(schedule_wave's payload rejoin, which run_crawl uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import url_hash_col
from docrawl_spark.operators.politeness import (
    DEFAULT_BUDGET,
    budget_topk,
    robots_allowed_prefixes_col,
    robots_prefixes_col,
)
from docrawl_spark.operators.ranking import with_global_rank


def schedule_candidates(
    candidates: DataFrame,
    hosts: DataFrame,
    n_salts: int = 8,
    order_cols: list[str] | None = None,
    rank_col: str = "_wave_rank",
    rank_start: int = 0,
    persist_wide: bool = True,
    broadcast_result: bool = True,
    seen: DataFrame | None = None,
    bloom: bytes | None = None,
    host_priority: DataFrame | None = None,
    persist_tracker: list | None = None,
) -> DataFrame:
    """candidates (unique by url_hash, post within-wave dedup) →
    robots-allowed, per-host-budget-selected rows with a deterministic
    dense global ``rank_col``, payload columns intact.

    ``persist_wide``: cache the candidate payload between the skinny
    projection and the final rejoin. Pass False when ``candidates`` is
    already storage-backed (run_crawl reads it from the warehouse's
    frontier_pending parquet) — a second scan is cheaper than a cache
    build. ``broadcast_result``: hint the ≤ Σ budgets ranked skinny
    side into a broadcast so the wide payload streams through ONE
    BroadcastHashJoin with no sort and no exchange; turn off only when
    the selected set (Σ per-host budgets) is too big to broadcast —
    then it degrades to a url_hash shuffle join, still one wide
    exchange instead of three.

    ``host_priority``: optional (host, priority) frame — e.g.
    ``datapipe.graph.pagerank_hosts`` output renamed to ``priority`` —
    that reorders the GLOBAL visit rank so higher-priority hosts'
    selected urls crawl first. Per-host budget selection is unaffected
    (priority is constant within a host), so politeness semantics and
    the selected SET are identical; only inter-host ordering changes.
    Joined broadcast on host_hash (stays skinny); hosts absent from the
    frame get priority 0. Default None = the reference-equality order
    (crawl-equality suite pins it)."""
    order_cols = order_cols or ["parent_rank", "offset", "url_hash"]
    wide = candidates.persist() if persist_wide else candidates
    dim = hosts.select(
        "host",
        F.col("budget").alias("_budget"),
        robots_prefixes_col(F.col("robots_blob")).alias("_robots_arr"),
    )
    gated = (
        wide.join(F.broadcast(dim), "host", "left")
        .withColumn("_budget", F.coalesce(F.col("_budget"), F.lit(DEFAULT_BUDGET)))
        .where(robots_allowed_prefixes_col(F.col("url"), F.col("_robots_arr")))
    )
    skinny_cols = list(dict.fromkeys(["url_hash", "host_hash", "_budget", *order_cols]))
    skinny = gated.select(*skinny_cols)
    if seen is not None:
        # seen-set dedup on the SKINNY rows (8 B hashes through the
        # Bloom probe and the anti-join exchange, not ~150 B strings);
        # already-seen rows left in the wide payload are dropped by the
        # final inner rejoin. Robots-gate/anti-join commute (both are
        # filters), so results are identical to anti-joining first.
        from docrawl_spark.operators.dedup import anti_join_seen

        skinny = anti_join_seen(skinny, seen, bloom)
    rank_order = order_cols
    if host_priority is not None:
        from docrawl_spark.functions.canon import url_hash_col

        # micro-unit scaling BEFORE the long cast: sitemap-style
        # fractional priorities (0.0-1.0 doubles) would otherwise all
        # truncate to 0 and the feature would silently no-op
        prio = host_priority.select(
            url_hash_col("host").alias("host_hash"),
            (F.col("priority") * 1_000_000).cast("long").alias("_hp"),
        )
        skinny = (
            skinny.join(F.broadcast(prio), "host_hash", "left")
            .withColumn("_prio", -F.coalesce(F.col("_hp"), F.lit(0)))
            .drop("_hp")
        )
        rank_order = ["_prio", *order_cols]
    if persist_wide and persist_tracker is not None:
        persist_tracker.append(wide)
    selected = budget_topk(skinny, order_cols, n_salts)
    ranked = with_global_rank(
        selected,
        rank_order,
        rank_col=rank_col,
        start=rank_start,
        persist_tracker=persist_tracker,
    )
    keys = ranked.select("url_hash", rank_col)
    if broadcast_result:
        keys = F.broadcast(keys)
    out = wide.join(keys, "url_hash")
    # Precise cache cleanup: every frame this call persisted (the wide
    # payload and the ranking operator's internal cache) lands in
    # ``persist_tracker`` — unpersist them AFTER materializing the
    # result, never a scorched-earth clearCache(). The legacy
    # ``_wave_persisted`` attribute remains for callers that consume
    # the result directly, but it is a plain Python attribute: it is
    # LOST on any further DataFrame transformation — prefer the
    # tracker.
    out._wave_persisted = wide if persist_wide else None
    return out


def schedule_wave(
    candidates: DataFrame,
    hosts: DataFrame,
    n_salts: int = 8,
    rank_col: str = "_wave_rank",
    rank_start: int = 0,
    seen: DataFrame | None = None,
    bloom: bytes | None = None,
    persist_wide: bool = True,
    broadcast_result: bool = True,
    persist_tracker: list | None = None,
    payload: bool = True,
    fused: bool = False,
) -> DataFrame:
    """The integrated hash-only wave: within-wave keep-first dedup +
    seen-set anti-join + robots gate + salted per-host budgets +
    deterministic global rank over a candidate stream that may still
    carry DUPLICATE urls — with NO corpus-sized string exchange
    anywhere.

    ``schedule_candidates`` requires a pre-deduped frame, and the
    compositional dedup (``operators/links.dedup_within_wave``) ships
    (url, pack) strings through its groupBy — the wave's one remaining
    string exchange, and THE membw bottleneck at 32M urls (BENCH.md:
    the wave saturates the box's memory bus, not its cores). Here the
    dedup itself runs on the skinny projection:

    1. broadcast robots gate + budget attach on the wide scan (no
       exchange; the gate is a per-url filter so it COMMUTES with
       keep-first dedup — filtering before grouping removes every
       occurrence of a disallowed url, never just the kept one);
    2. skinny = (url_hash, host_hash, _budget, _pack) where ``_pack``
       is the BIGINT keep-first order key (operators/links
       .pack_order_col) — 32 B/row through every exchange;
    3. groupBy(url_hash) min-pack dedup (HashAggregate, map-side
       combine) — and the anti-join that follows reuses its hash
       partitioning, so the big side never re-shuffles;
    4. salted budget top-k + a global rank in one sorted partition
       over the (parent_rank, offset, url_hash) order — identical
       ordering to the compositional path because (parent_rank,
       offset) is unique per candidate row (each is one span slot of
       one fetched page), so the clamped pack never has to break ties
       by depth;
    5. ONE payload rejoin: the ranked keys (≤ Σ budgets rows)
       broadcast back onto the wide scan keyed on
       (url_hash, _pack) — the pack pins exactly the KEPT occurrence,
       so duplicates resolve without a string-side dedup, and
       discovered_by/url/host come back from the original row.

    Identity note: like the seen set and the anti-join, dedup keys on
    the 64-bit url_hash — two distinct urls colliding in xxhash64
    would merge (P ≈ n²/2⁶⁴; the engine already accepts this for
    url_seen).

    Requires ``candidates`` rows unique on (url_hash, parent_rank,
    offset) — the rejoin key — true for discover_links output (one
    row per span slot), seeds_to_candidates (parent_rank -1, unique
    seed_order offsets), and their union with requeued retirements
    (unique per url, pack -1|0 distinct from any span slot's). Also
    requires ``host_hash == url_hash_col(host)`` (true for every
    engine candidate source — discover_links/seeds derive it exactly
    so): the per-host budget dim joins on a RECOMPUTED
    url_hash_col(hosts.host), so a candidate frame with a foreign
    host_hash convention would silently fall back to DEFAULT_BUDGET.

    Returns the candidate columns + ``rank_col``. ``persist_wide``:
    cache the wide frame between the skinny pipeline and the rejoin —
    pass False when candidates are storage-backed (a rescan beats a
    cache build; run_crawl's frontier is always parquet-backed).
    ``persist_tracker``: a list that is handed the persisted ``wide``
    frame — the only frame this call persists — so the caller can
    unpersist it once the result is materialized. With
    ``persist_wide=False`` nothing is persisted or tracked. Building the
    result runs no Spark job (the rank is lazy, see
    ``schedule_wave_stages``).

    ``payload=False`` skips the rejoin and returns the ranked SKINNY
    keys only — (url_hash, host_hash, parent_rank, offset, _pack,
    rank_col) — for callers that recover the payload from a cheaper
    source than the candidate frame itself: ``_pack`` is unique per
    candidate row (parent_rank is a globally-unique visit_rank), so a
    broadcast join on it against the PRE-CANON link stream selects
    exactly the kept occurrences, and re-canonicalizing only those
    ≤ Σ budgets rows beats caching the full canon output (measured:
    the 16M-row wide cache build + double cache scan cost MORE than
    the string shuffle it avoided — memory traffic is the wave's
    scarce resource, cache writes included)."""
    payload_cols = candidates.columns
    persist_wide = persist_wide and payload
    wide = candidates.persist() if persist_wide else candidates
    if persist_wide and persist_tracker is not None:
        persist_tracker.append(wide)
    stages = schedule_wave_stages(
        wide, hosts, n_salts, rank_col, rank_start, seen, bloom, fused=fused
    )
    ranked = stages["ranked"]
    if not payload:
        out = ranked.select(
            "url_hash", "host_hash", "parent_rank", "offset", "_pack", rank_col
        )
        out._wave_persisted = None
        return out
    keys = ranked.select("url_hash", "_pack", rank_col)
    if broadcast_result:
        keys = F.broadcast(keys)
    # rejoin from the PRE-GATE wide frame: every selected key passed
    # the gate, so gating the rejoin side again would only re-run the
    # robots filter for nothing
    from docrawl_spark.operators.links import pack_order_col

    out = wide.withColumn("_pack", pack_order_col()).join(
        keys, ["url_hash", "_pack"]
    ).drop("_pack")
    out._wave_persisted = wide if persist_wide else None
    return out


def schedule_wave_stages(
    candidates: DataFrame,
    hosts: DataFrame,
    n_salts: int = 8,
    rank_col: str = "_wave_rank",
    rank_start: int = 0,
    seen: DataFrame | None = None,
    bloom: bytes | None = None,
    persist_tracker: list | None = None,
    fused: bool = False,
) -> dict[str, DataFrame]:
    """The named prefix frames of :func:`schedule_wave`'s skinny
    pipeline — THE code that builds the wave (schedule_wave consumes
    ``ranked``), exposed so bench.py can profile stage walls without
    re-deriving the expressions (zero drift):

    - ``gated_skinny``: broadcast robots gate + pack, projected to
      (url_hash, host_hash, _pack) — 24 B/row; the budget column rides
      NO exchange at all (broadcast-joined after each politeness
      window, see budget_topk's ``budget_dim``);
    - ``deduped``: + keep-first min-pack groupBy(url_hash);
    - ``unseen``: + single-pass Bloom-conditioned exact anti-join
      reusing the dedup partitioning (``deduped`` when no seen set);
    - ``selected``: + salted per-host budget top-k ordered on
      ``shiftright(_pack, 5)`` — ≡ (parent_rank, offset) with the
      depth bits masked, so the decoded order columns never ride the
      window exchanges either;
    - ``ranked``: + deterministic dense global rank (same derived
      order key, 0-based from ``rank_start``), with parent_rank/offset
      decoded at the end. The selected rows are sorted in ONE partition
      (a user ``repartition(1)`` — the only exchange the rank adds,
      carrying the 24 B/row skinny columns) and numbered by a
      row_number window partitioned on the constant partition id.
      Bound: the partition holds at most Σ per-host budgets rows — the
      same set every consumer already broadcasts in one piece — so it
      is no new scale limit. It is lazy, like every other stage:
      building the stages runs no Spark job.

    ``persist_tracker`` is accepted for caller compatibility and
    ignored: the stages persist nothing.

    ``fused=True`` (the single-exchange wave, round 5): ONE explicit
    ``repartition(P, host_hash, _salt)`` replaces BOTH the dedup
    groupBy exchange and the phase-1 politeness window exchange —
    the dedup regroups on (host_hash, _salt, url_hash) (same groups:
    both extra keys are functions of the url; partitioning on the
    subset satisfies the agg's ClusteredDistribution), the seen
    anti-join becomes a 3-key equi-join whose sides are co-partitioned
    on (host_hash, _salt) (subset co-partitioning —
    ``spark.sql.requireAllClusterKeysForCoPartition=false``, pinned in
    session.get_spark and asserted at runtime here), and the phase-1
    window reuses the same layout via ``budget_topk(salt_col=...)``.
    The big side crosses exactly ONE exchange between canon and the
    (tiny) phase-2 window. Hash-collision note: grouping/joining on
    (host_hash, _salt, url_hash) differs from pure url_hash only when
    two DISTINCT urls collide in xxhash64 (P ≈ n²/2⁶⁴ — the collision
    class the url_hash dedup already accepts). The seen side needs
    host_hash: url_seen stores it (sources/schemas.URL_SEEN_SCHEMA);
    legacy frames derive it from ``url`` in JVM codegen."""
    from docrawl_spark.operators.links import (
        _DEPTH_BITS,
        pack_order_col,
        unpack_order_cols,
    )

    dim = hosts.select(
        "host", robots_prefixes_col(F.col("robots_blob")).alias("_robots_arr")
    )
    gated = (
        candidates.join(F.broadcast(dim), "host", "left")
        .where(robots_allowed_prefixes_col(F.col("url"), F.col("_robots_arr")))
        .withColumn("_pack", pack_order_col())
    )
    salt_col = None
    if fused:
        spark = candidates.sparkSession
        # the subset-co-partition planner rule is what lets the 3-key
        # anti-join reuse the (host_hash, _salt) exchange; without it
        # the join re-exchanges both sides on all three keys
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        salt_col = "_salt"
        skinny = gated.select("url_hash", "host_hash", "_pack").withColumn(
            "_salt", F.pmod(F.col("url_hash"), F.lit(n_salts))
        )
        part = skinny.repartition(n_part, "host_hash", "_salt")
        deduped = part.groupBy("host_hash", "_salt", "url_hash").agg(
            F.min("_pack").alias("_pack")
        )
        unseen = deduped
        if seen is not None:
            sk = seen
            if "host_hash" not in sk.columns:
                from docrawl_spark.functions.canon import host_of_col

                sk = sk.withColumn(
                    "host_hash", url_hash_col(host_of_col("url"))
                )
            elif "url" in sk.columns:
                from docrawl_spark.functions.canon import host_of_col

                # mixed-schema seen table (legacy files resumed under
                # the new schema read as NULL host_hash): a null key
                # would silently fail the anti-join and RE-CRAWL those
                # urls — derive the missing values
                sk = sk.withColumn(
                    "host_hash",
                    F.coalesce(
                        F.col("host_hash"), url_hash_col(host_of_col("url"))
                    ),
                )
            if "_salt" in sk.columns:
                # a sources/seen_index.BucketedSeenIndex scan: already
                # hash-partitioned (host_hash, _salt) ON DISK — no
                # repartition, the anti-join shuffles NEITHER side
                # (cross-wave scan reuse; bucket count must equal this
                # session's shuffle partitions for the specs to match)
                sk = sk.select("url_hash", "host_hash", "_salt")
            else:
                sk = (
                    sk.select("url_hash", "host_hash")
                    .withColumn(
                        "_salt", F.pmod(F.col("url_hash"), F.lit(n_salts))
                    )
                    .repartition(n_part, "host_hash", "_salt")
                )
            unseen = deduped.join(
                sk.hint("shuffle_hash"),
                ["host_hash", "_salt", "url_hash"],
                "left_anti",
            )
    else:
        skinny = gated.select("url_hash", "host_hash", "_pack")
        deduped = skinny.groupBy("url_hash").agg(
            F.min("_pack").alias("_pack"),
            # constant within a url_hash (a function of the url) — min
            # is just the deterministic pick that keeps the agg a
            # HashAggregate
            F.min("host_hash").alias("host_hash"),
        )
        unseen = deduped
        if seen is not None:
            from docrawl_spark.operators.dedup import anti_join_seen

            unseen = anti_join_seen(deduped, seen, bloom, prepartitioned=True)
    # order on the pack itself, depth bits masked:
    # shiftright(_pack, 5) = (parent_rank+1) <<20 | clamped_offset, so
    # ordering by (it, url_hash) ≡ (parent_rank, offset, url_hash) —
    # including the url_hash tie-break for requeued rows sharing a
    # sentinel pack — without shipping parent_rank/offset columns
    # through the window or rank exchanges (16 B/row saved).
    order_cols = [F.shiftright(F.col("_pack"), _DEPTH_BITS), F.col("url_hash")]
    budget_dim = (
        hosts.select(
            url_hash_col("host").alias("host_hash"),
            F.col("budget").alias("_budget"),
        )
        # unique on host_hash even under a (astronomically unlikely)
        # host-string hash collision — a duplicate-key broadcast join
        # would otherwise duplicate candidate rows
        .groupBy("host_hash")
        .agg(F.min("_budget").alias("_budget"))
    )
    selected = budget_topk(
        unseen, order_cols, n_salts, budget_dim=budget_dim, salt_col=salt_col
    )
    # the global rank: ONE sorted partition of the ≤ Σ budgets selected
    # rows. Partitioning the window on the (constant) partition id
    # rather than on nothing keeps Spark's "No Partition Defined" WARN
    # out of every wave; the SinglePartition exchange satisfies it, so
    # no second exchange follows.
    one = selected.repartition(1).withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(*[c.asc() for c in order_cols])
    ranked = one.withColumn(
        rank_col, F.row_number().over(w).cast("long") + F.lit(rank_start - 1)
    ).drop("_pid")
    parent_rank, offset, _ = unpack_order_cols(F.col("_pack"))
    ranked = ranked.withColumn("parent_rank", parent_rank).withColumn(
        "offset", offset
    )
    return {
        "gated_skinny": skinny,
        "deduped": deduped,
        "unseen": unseen,
        "selected": selected,
        "ranked": ranked,
    }
