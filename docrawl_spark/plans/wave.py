"""The crawl wave: one hash-only schedule over a raw candidate stream.

The within-wave dedup, the seen-set anti-join, the politeness windows
and the global rank do not need the string payload (url ~50 B, host
~15 B, discovered_by ~40 B per row) — they key on hashes and order on
numbers. At a 10^8-candidate wave, shipping strings through every
exchange is 4-5x the bytes of the skinny columns, and shuffle bandwidth
is THE scaling bottleneck of the wave (measured: the string-wide
pipeline saturates a single box's memory bus at ~500k urls/s regardless
of core count — BENCH.md).

``schedule_wave`` therefore:

1. robots-gates the candidates against the broadcast hosts dim (a
   broadcast join + filter — no shuffle, and the KB-scale robots blob
   never rides an exchange);
2. projects the survivors to the skinny schedule columns (url_hash,
   host_hash, ``_pack`` — 24 B/row) and repartitions them ONCE on
   (host_hash, _salt): that single exchange carries the keep-first
   dedup, the 3-key seen anti-join and the phase-1 politeness window;
3. ranks the ≤ Σ budgets selected rows in one sorted partition — lazy,
   so building a wave runs no Spark job;
4. rejoins the ranked keys back to the wide payload — ONE broadcast
   join instead of string-wide exchanges.

``plans/simulator.py`` is its behaviour contract (the crawl-equality
suites run run_crawl, which routes every wave through here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import url_hash_col
from docrawl_spark.operators.discovery import (
    _DEPTH_BITS,
    pack_order_col,
    unpack_order_cols,
)
from docrawl_spark.operators.host_policy import (
    budget_topk,
    robots_allowed_prefixes_col,
    robots_prefixes_col,
)


def schedule_wave(
    candidates: DataFrame,
    hosts: DataFrame,
    n_salts: int = 8,
    rank_col: str = "_wave_rank",
    rank_start: int = 0,
    seen: DataFrame | None = None,
    payload: bool = True,
    *,
    fused: bool = True,
    persist_tracker: list | None = None,
) -> DataFrame:
    """The integrated hash-only wave: within-wave keep-first dedup +
    seen-set anti-join + robots gate + salted per-host budgets +
    deterministic global rank over a candidate stream that may still
    carry DUPLICATE urls — with NO corpus-sized string exchange
    anywhere:

    1. broadcast robots gate on the wide scan (no exchange; the gate is
       a per-url filter so it COMMUTES with keep-first dedup —
       filtering before grouping removes every occurrence of a
       disallowed url, never just the kept one);
    2. skinny = (url_hash, host_hash, _pack) where ``_pack`` is the
       BIGINT keep-first order key (operators/discovery.pack_order_col);
    3. one (host_hash, _salt) exchange: min-pack dedup, the seen
       anti-join and the phase-1 budget window all reuse it;
    4. phase-2 budget window + a global rank in one sorted partition
       over the (parent_rank, offset, url_hash) order — (parent_rank,
       offset) is unique per candidate row (each is one span slot of
       one fetched page), so the clamped pack never has to break ties
       by depth;
    5. ONE payload rejoin: the ranked keys (≤ Σ budgets rows)
       broadcast back onto the wide scan keyed on (url_hash, _pack) —
       the pack pins exactly the KEPT occurrence, so duplicates
       resolve without a string-side dedup, and discovered_by/url/host
       come back from the original row.

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
    ``seen``: see :func:`schedule_wave_stages` for its accepted
    schemas.

    Returns the candidate columns + ``rank_col``. Building the result
    runs no Spark job and persists nothing.

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
    scarce resource, cache writes included).

    ``fused`` and ``persist_tracker`` select nothing: there is one wave
    and it persists nothing, so the tracker stays empty. They are kept
    only as keywords because the perfbench harness passes them."""
    ranked = schedule_wave_stages(
        candidates, hosts, n_salts, rank_col, rank_start, seen
    )["ranked"]
    if not payload:
        return ranked.select(
            "url_hash", "host_hash", "parent_rank", "offset", "_pack", rank_col
        )
    keys = F.broadcast(ranked.select("url_hash", "_pack", rank_col))
    # rejoin from the PRE-GATE candidate frame: every selected key passed
    # the gate, so gating the rejoin side again would only re-run the
    # robots filter for nothing
    return (
        candidates.withColumn("_pack", pack_order_col())
        .join(keys, ["url_hash", "_pack"])
        .drop("_pack")
    )


def _seen_side(seen: DataFrame, n_salts: int, n_part: int) -> DataFrame:
    """The seen set as (url_hash, host_hash, _salt), partitioned like the
    candidate side. Accepts (url_hash, host_hash) — url_seen and the
    bucketed index store it, the index with its ``_salt``."""
    cols = set(seen.columns)
    if not {"url_hash", "host_hash"} <= cols:
        raise ValueError(
            "seen frame must carry (url_hash, host_hash); "
            f"got columns {sorted(cols)}"
        )
    if "_salt" in cols:
        # a sources/seen_index.BucketedSeenIndex scan: already
        # hash-partitioned (host_hash, _salt) ON DISK — no repartition,
        # the anti-join shuffles NEITHER side (cross-wave scan reuse;
        # bucket count must equal this session's shuffle partitions for
        # the specs to match)
        return seen.select("url_hash", "host_hash", "_salt")
    return (
        seen.select("url_hash", "host_hash")
        .withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(n_salts)))
        .repartition(n_part, "host_hash", "_salt")
    )


def schedule_wave_stages(
    candidates: DataFrame,
    hosts: DataFrame,
    n_salts: int = 8,
    rank_col: str = "_wave_rank",
    rank_start: int = 0,
    seen: DataFrame | None = None,
    *,
    fused: bool = True,
    persist_tracker: list | None = None,
) -> dict[str, DataFrame]:
    """The named prefix frames of :func:`schedule_wave`'s skinny
    pipeline — THE code that builds the wave (schedule_wave consumes
    ``ranked``), exposed so perfbench can time each layer without
    re-deriving the expressions (zero drift):

    - ``gated_skinny``: broadcast robots gate + pack, projected to
      (url_hash, host_hash, _pack, _salt); the budget column rides NO
      exchange at all (broadcast-joined after each politeness window,
      see budget_topk's ``budget_dim``);
    - ``deduped``: + ONE explicit ``repartition(P, host_hash, _salt)``
      and a keep-first min-pack groupBy on (host_hash, _salt,
      url_hash) — same groups as url_hash alone (both extra keys are
      functions of the url; partitioning on the subset satisfies the
      agg's ClusteredDistribution, so it adds no exchange);
    - ``unseen``: + the 3-key seen anti-join, its sides co-partitioned
      on (host_hash, _salt) (subset co-partitioning —
      ``spark.sql.requireAllClusterKeysForCoPartition=false``, pinned
      in session.get_spark and set here) — ``deduped`` when no seen
      set;
    - ``selected``: + salted per-host budget top-k ordered on
      ``shiftright(_pack, 5)`` — ≡ (parent_rank, offset) with the
      depth bits masked, so the decoded order columns never ride the
      window exchanges either; the phase-1 window reuses the
      (host_hash, _salt) layout via ``budget_topk(salt_col=...)``;
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

    The big candidate side crosses exactly ONE exchange between canon
    and the (tiny) phase-2 window. Hash-collision note: grouping and
    joining on (host_hash, _salt, url_hash) differs from pure url_hash
    only when two DISTINCT urls collide in xxhash64 (P ≈ n²/2⁶⁴ — the
    collision class the url_hash dedup already accepts).

    ``seen`` must carry (url_hash, host_hash) — url_seen stores it
    (sources/schemas.URL_SEEN_SCHEMA), a BucketedSeenIndex scan adds
    its stored ``_salt``; anything else raises ValueError.

    ``fused`` and ``persist_tracker`` select nothing (see
    :func:`schedule_wave`)."""
    spark = candidates.sparkSession
    # the subset-co-partition planner rule is what lets the 3-key
    # anti-join reuse the (host_hash, _salt) exchange; without it the
    # join re-exchanges both sides on all three keys
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seen_side = None if seen is None else _seen_side(seen, n_salts, n_part)

    dim = hosts.select(
        "host", robots_prefixes_col(F.col("robots_blob")).alias("_robots_arr")
    )
    gated = (
        candidates.join(F.broadcast(dim), "host", "left")
        .where(robots_allowed_prefixes_col(F.col("url"), F.col("_robots_arr")))
        .withColumn("_pack", pack_order_col())
    )
    skinny = gated.select("url_hash", "host_hash", "_pack").withColumn(
        "_salt", F.pmod(F.col("url_hash"), F.lit(n_salts))
    )
    part = skinny.repartition(n_part, "host_hash", "_salt")
    deduped = part.groupBy("host_hash", "_salt", "url_hash").agg(
        F.min("_pack").alias("_pack")
    )
    unseen = deduped
    if seen_side is not None:
        unseen = deduped.join(
            seen_side.hint("shuffle_hash"),
            ["host_hash", "_salt", "url_hash"],
            "left_anti",
        )
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
        unseen, order_cols, budget_dim=budget_dim, salt_col="_salt"
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
