"""Document deduplication at corpus scale.

Five operators, ordered by cost:

- ``exact_dedup`` — hash-groupBy on normalized text; one shuffle of
  (hash, id), map-side combinable. The 100 TB workhorse.
- ``minhash_signatures`` / ``minhash_lsh_pairs`` — shingle → MinHash →
  band-bucket join. Only bucket collisions shuffle as pairs; the
  corpus never self-joins. Band/row parameters trade recall for
  candidate volume (s-curve: P(candidate) = 1-(1-s^r)^b).
- ``simhash64`` — 64-bit SimHash via bit-count aggregation, all
  built-in expressions (no UDF): near-dup = small hamming distance.
- ``ngram_jaccard_pairs`` — exact Jaccard verification over n-gram
  sets for a candidate pair set (the verify stage after LSH).
- ``embedding_neardup_pairs`` — cosine-threshold pairs over an
  embedding column; brute within blocking buckets at test scale, the
  same verify shape downstream of ANN at cluster scale.

Hash note: engine-side hashing uses xxhash64 (JVM, codegen). Where a
DuckDB oracle needs to reproduce signatures bit-for-bit, the
``hash_mode='md5'`` variant derives 64-bit values from md5 hex — both
engines compute identical strings (see plans/driver_queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def normalized_text_col(text: Column) -> Column:
    """Whitespace-collapse + lowercase — the usual exact-dup key."""
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per normalized-text value (the smallest id — i.e.
    keep-first under a deterministic order). Returns the kept rows."""
    key = F.xxhash64(normalized_text_col(F.col(text_col))).alias("_dup_key")
    with_key = df.withColumn("_dup_key", key)
    keep = with_key.groupBy("_dup_key").agg(F.min(id_col).alias(id_col))
    return (
        with_key.join(keep, ["_dup_key", id_col], "left_semi").drop("_dup_key")
    )


# ---------------------------------------------------------------------------
# Shingles & MinHash
# ---------------------------------------------------------------------------


def word_shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles (space-joined) of normalized text.

    Docs with fewer than k tokens yield an empty array — the n >= k
    guard matters because ``sequence(1, 0)`` DESCENDS ([1, 0]) and a
    0 start index would make ``slice`` raise."""
    tokens = F.split(normalized_text_col(text), " ")
    n = F.size(tokens)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i, k)))
    )


def _shingle_hash(shingle: Column, seed: int, hash_mode: str) -> Column:
    if hash_mode == "md5":
        # first 15 hex chars of md5('<seed>|'||shingle) as a positive
        # int64 — reproducible in DuckDB for the oracle
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}|"), shingle)), 1, 15), 16, 10
        ).cast("long")
    if hash_mode == "md5hex":
        # the hex string itself: lexicographic MIN over hex strings is
        # identical in Spark and DuckDB (ASCII byte compare), so the
        # whole signature is oracle-reproducible without int conversion
        return F.substring(F.md5(F.concat(F.lit(f"{seed}|"), shingle)), 1, 15)
    return F.xxhash64(F.lit(seed), shingle)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle_k: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, signature) — per-seed minimum of shingle hashes. Docs with
    fewer than shingle_k tokens carry no similarity evidence and are
    omitted.

    Shape: explode shingles → ONE groupBy(id) with n_hashes min
    aggregates. All hashing runs inside whole-stage codegen and the
    aggregation combines map-side, so the shuffle carries one
    (id, n_hashes minima) row per doc per partition. The equivalent
    transform-in-transform array expression computes the same values
    with zero shuffle but runs INTERPRETED (higher-order functions sit
    outside codegen) — measured ~30x slower at sf0.1."""
    sh = df.select(
        F.col(id_col),
        F.explode(word_shingles_col(F.col(text_col), shingle_k)).alias("_s"),
    )
    aggs = [
        F.min(_shingle_hash(F.col("_s"), i, hash_mode)).alias(f"_h{i}")
        for i in range(n_hashes)
    ]
    minima = sh.groupBy(id_col).agg(*aggs)
    sig = F.array(*[F.col(f"_h{i}") for i in range(n_hashes)])
    return minima.select(F.col(id_col), sig.alias("signature"))


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """The persistable LSH index of a corpus: one row per
    ``(band_key, <id_col>)``. The band position is FOLDED INTO the key
    (prefix in md5 mode, hashed in with the minima in xxhash64 mode)
    so the key is a single column: a table bucketed+sorted by
    ``band_key`` then co-locates the probe join exactly (Spark
    disables a bucketed scan when the join keys are wider than the
    bucket spec — the plan test pins this). Write it to the warehouse
    bucketed by ``band_key`` and incremental batches probe it
    (:func:`lsh_probe_index`) without ever touching the corpus text
    again — the index-once/probe-deltas shape a continuously growing
    corpus needs (re-running the corpus self-join per crawl wave is
    the anti-pattern)."""
    assert n_hashes % n_bands == 0
    rows_per_band = n_hashes // n_bands
    # (shingle-less docs are already omitted by minhash_signatures —
    # they would otherwise all collide on the empty band key)
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k, hash_mode)

    def _band_key(b):
        # band position folds into the key; xxhash64 compresses the
        # shuffle key on the scale path, the md5hex oracle mode keeps
        # the raw string (DuckDB-reproducible)
        pre = _band_pre(b, rows_per_band)
        return F.xxhash64(pre) if hash_mode == "xxhash64" else pre

    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[_band_key(b) for b in range(n_bands)])
        ).alias("band_key"),
    )


def _band_pre(b: int, rows_per_band: int) -> Column:
    """The band's pre-hash string over a ``signature`` array column:
    ``'<b>|' || join(',', minima of band b)`` — the single definition
    both the engine's band fold and the oracle side table share."""
    joined = F.concat_ws(
        ",",
        F.transform(
            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
            lambda v: v.cast("string"),
        ),
    )
    return F.concat(F.lit(f"{b}|"), joined)


def minhash_token_hash_map(
    df: DataFrame,
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Oracle side table for the xxhash64 MinHash path: one row
    ``(s, seed, h)`` per distinct corpus shingle per hash seed, where
    ``h`` is exactly the engine's ``_shingle_hash`` value. DuckDB
    recomputes the shingles itself and JOINS here for the hash, so the
    min/band/bucket-join algebra is oracled while the hash function
    stays opaque (its values are pinned separately by the md5 twin +
    band-collision property tests)."""
    sh = (
        df.select(
            F.explode(word_shingles_col(F.col(text_col), shingle_k)).alias("s")
        )
        .distinct()
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("seed"),
                _shingle_hash(F.col("s"), i, "xxhash64").alias("h"),
            )
            for i in range(n_hashes)
        ]
    )
    return sh.select("s", F.explode(entries).alias("e")).select(
        "s", F.col("e.seed").alias("seed"), F.col("e.h").alias("h")
    )


def minhash_band_key_map(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Oracle side table for the xxhash64 band fold: distinct
    ``(pre, band_key)`` where ``pre`` is the band's pre-hash string
    (:func:`_band_pre`) and ``band_key = xxhash64(pre)``. The oracle
    reconstructs ``pre`` from the minima it computed itself and joins
    here — a wrong oracle-side signature misses the map and shows up
    as a row-count mismatch."""
    assert n_hashes % n_bands == 0
    rows_per_band = n_hashes // n_bands
    sigs = minhash_signatures(
        df, text_col, id_col, n_hashes, shingle_k, "xxhash64"
    )
    pres = sigs.select(
        F.explode(
            F.array(*[_band_pre(b, rows_per_band) for b in range(n_bands)])
        ).alias("pre")
    ).distinct()
    return pres.select("pre", F.xxhash64(F.col("pre")).alias("band_key"))


def token_hash_map(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Oracle side table for single-arg ``xxhash64(token)`` consumers
    (SimHash bit votes, winnowing fingerprints): one ``(tok, hv)`` row
    per distinct whitespace token of the lower/trimmed corpus."""
    toks = (
        df.select(
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("tok")
        )
        .distinct()
    )
    return toks.select("tok", F.xxhash64(F.col("tok")).alias("hv"))


def lsh_probe_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Incremental near-dup candidates: band rows of the NEW batch
    equi-joined against a persisted corpus index built by
    :func:`minhash_band_index` **with the same parameters**. Returns
    distinct ``(new_id, corpus_id)`` (self-matches dropped, so a batch
    already merged into the index probes cleanly). The batch side is
    crawl-wave-sized — Catalyst/AQE broadcasts it against the large
    index scan, and a ``band_key``-bucketed index makes the join
    shuffle-free on the corpus side."""
    probe = minhash_band_index(
        new_docs, text_col, id_col, n_hashes, n_bands, shingle_k, hash_mode
    ).select("band_key", F.col(id_col).alias("new_id"))
    corpus = index.select("band_key", F.col(id_col).alias("corpus_id"))
    return (
        probe.join(corpus, ["band_key"])
        .where(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from band-bucket
    collisions. Shuffles only (band_key, id) rows and the colliding
    pairs — the scale-safe shape of MinHash LSH."""
    bands = minhash_band_index(
        df, text_col, id_col, n_hashes, n_bands, shingle_k, hash_mode
    )
    a = bands.select(F.col("band_key"), F.col(id_col).alias("id_a"))
    b = bands.select(F.col("band_key"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash (64-bit, pure built-ins)
# ---------------------------------------------------------------------------


def _simhash_bits(hash_mode: str) -> int:
    """xxhash64 → 64 bits (scale path); md5hex → 60 bits (15 hex chars
    of md5, the widest slice both Spark's conv() and DuckDB's
    '0x'-cast convert to int64 losslessly — oracle path)."""
    return 60 if hash_mode == "md5hex" else 64


def simhash64_col(text: Column, hash_mode: str = "xxhash64") -> Column:
    """SimHash of the token set: bit i set iff the sum over tokens of
    (bit i of hash(token) ? +1 : -1) is positive. The per-row
    aggregation runs over an n_bits-wide count array via zip_with —
    whole-stage-codegen, no UDF."""
    n_bits = _simhash_bits(hash_mode)
    tokens = F.array_distinct(F.split(normalized_text_col(text), " "))
    if hash_mode == "md5hex":
        hashes = F.transform(
            tokens,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    else:
        hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    zeros = F.array_repeat(F.lit(0).cast("long"), n_bits)
    # shift amounts must be Python ints (shiftleft/shiftright take a
    # literal), so the bit positions are unrolled
    counts = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                    for i in range(n_bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    powers = F.array(
        *[
            F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
            for i in range(n_bits)
        ]
    )
    bits = F.zip_with(
        counts, powers, lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc.bitwiseOR(v))


def hamming64_col(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) for a whole corpus — same values as
    ``simhash64_col`` but shaped for scale: explode distinct tokens →
    ONE groupBy(id) with n_bits signed-bit-sum aggregates, all inside
    whole-stage codegen with map-side combine. The per-row array
    expression (aggregate/zip_with) runs interpreted and, being join
    input, would be recomputed per join side; the agg output here is a
    reusable exchange."""
    n_bits = _simhash_bits(hash_mode)
    tokens = F.array_distinct(F.split(normalized_text_col(F.col(text_col)), " "))
    toks = df.select(F.col(id_col), F.explode(tokens).alias("_t"))
    if hash_mode == "md5hex":
        h = F.conv(F.substring(F.md5(F.col("_t")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(F.col("_t"))
    aggs = [
        F.sum((F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")).alias(
            f"_b{i}"
        )
        for i in range(n_bits)
    ]
    counts = toks.groupBy(id_col).agg(*aggs)
    # disjoint bit contributions sum to the exact two's-complement
    # value (bit 63's contribution is the sign term)
    terms = [
        F.when(
            F.col(f"_b{i}") > 0,
            F.lit(1 << i if i < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(n_bits)
    ]
    val = terms[0]
    for t in terms[1:]:
        val = val + t
    return counts.select(F.col(id_col), val.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, using
    the standard block-permutation trick: split the hash into n_blocks
    chunks; any pair within distance max_hamming < n_blocks agrees
    exactly on ≥1 chunk, so chunk-equality is the join key — never a
    cross join."""
    assert max_hamming < n_blocks
    n_bits = _simhash_bits(hash_mode)
    assert n_bits % n_blocks == 0
    bits_per = n_bits // n_blocks
    sh = simhash_table(df, text_col, id_col, hash_mode)
    chunk_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), b * bits_per).bitwiseAND(
                F.lit((1 << bits_per) - 1)
            )
            for b in range(n_blocks)
        ]
    )
    chunks = sh.select(
        id_col, "simhash", F.posexplode(chunk_arr).alias("chunk_idx", "chunk_val")
    )
    # Explicit join-key repartition: the chunk rows are tiny (AQE would
    # coalesce them to ~1 partition) but the join OUTPUT fans out by the
    # bucket collisions — a user-specified partition count is exempt
    # from AQE coalescing, keeps the fan-out parallel, and the self-join
    # reuses this single exchange for both sides.
    chunks = chunks.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "chunk_idx", "chunk_val"
    )
    a = chunks.select(
        "chunk_idx", "chunk_val",
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
    )
    b = chunks.select(
        "chunk_idx", "chunk_val",
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
    )
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(hamming64_col(F.col("sh_a"), F.col("sh_b")) <= max_hamming)
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Near-dup cluster formation (connected components)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every id appearing in ``pairs``, where
    ``component`` = the smallest id reachable through the pair graph —
    the canonical-representative rule for dedup clusters (keep the
    min-id doc per component, drop the rest).

    Iterative min-label propagation: each round every node adopts the
    minimum label among itself and its neighbors; converges in
    O(graph diameter) rounds (near-dup clusters are shallow — an
    LSH-pair graph's components are cliques-ish). Each round is one
    shuffle (join + groupBy min); the loop stops early when no label
    changed. The driver loop is the iterative-algorithm escape hatch —
    bodies stay declarative DataFrames."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    # localCheckpoint per round: truncates the logical plan (each
    # iteration would otherwise nest the previous join+agg, growing
    # Catalyst analysis cost) and leaves nothing pinned on return
    # (checkpoint blocks are GC'd by the context cleaner)
    labels = (
        edges.select("src").distinct().select(
            F.col("src").alias("id"), F.col("src").alias("label")
        )
    ).localCheckpoint()
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(F.col("src").alias("id"), "label")
            .groupBy("id")
            .agg(F.min("label").alias("_nbr"))
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("_nbr"), F.col("label"))).alias(
                    "label"
                ),
            )
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(a component's diameter exceeds max_iter) — raise max_iter; "
            "returning partial labels would silently split clusters"
        )
    return labels.select(F.col("id"), F.col("label").alias("component"))


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Corpus-level near-duplicate removal: LSH candidate pairs →
    connected components → keep ONE representative per cluster (the
    min-id member). Returns the kept rows of ``df``.

    The 100 TB shape: the corpus never self-joins (only band-bucket
    collisions pair up), component propagation touches only docs that
    appear in a pair, and the final filter is a broadcast-able
    left_anti against the (small) drop-list."""
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, n_hashes, n_bands, shingle_k, hash_mode
    )
    comps = connected_components(pairs)
    drops = comps.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drops, id_col, "left_anti")


# complement mask for packing a BIGINT doc id into the low bits of the
# quality-argmax key: ids must be non-negative and < 2^40 (~1.1e12 —
# above the 10^10-URL frontier scale this engine targets)
_REP_ID_BITS = 40
_REP_ID_MASK = (1 << _REP_ID_BITS) - 1


def near_dedup_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str | None = None,
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Quality-aware near-dup removal: keep, per LSH component, the
    member with the HIGHEST quality score (min id on ties) — the
    selection production dedup pipelines actually want (drop the
    truncated mirror, keep the full page), vs `near_dedup`'s blind
    min-id rule. ``quality_col`` names an integer column to rank by;
    None computes `text.quality_score_col` (bounded [0, 1000]).

    The 100 TB shape: same banded LSH + component propagation as
    `near_dedup` (never a corpus self-join), and the per-cluster argmax
    is a packed-BIGINT MAX HashAggregate — quality in the high bits,
    complemented id in the low 40 (ids must be non-negative BIGINTs
    < 2^40; quality must fit 23 bits) — no per-component window, no
    struct-max SortAggregate demotion. Docs in no component are their
    own representative and always kept."""
    from docrawl_spark.datapipe.text import quality_score_col

    q = (
        F.col(quality_col).cast("long")
        if quality_col is not None
        else quality_score_col(F.col(text_col)).cast("long")
    )
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, n_hashes, n_bands, shingle_k, hash_mode
    )
    comps = connected_components(pairs)
    # out-of-range inputs (full-range xxhash64 ids, negative or >23-bit
    # quality) would bleed across the pack boundary and silently elect
    # a WRONG representative — raise per-row instead (lazy, no extra
    # scan; same fail-loud stance as connected_components' converge-or-
    # raise)
    id_ok = (F.col(id_col).cast("long") >= 0) & (
        F.col(id_col).cast("long") <= _REP_ID_MASK
    )
    q_ok = (q >= 0) & (q < F.lit(1 << (63 - _REP_ID_BITS)))
    packed_raw = F.shiftleft(q, _REP_ID_BITS) + (
        F.lit(_REP_ID_MASK) - F.col(id_col).cast("long")
    )
    packed = (
        F.when(id_ok & q_ok, packed_raw).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "near_dedup_best: unpackable row (need 0 <= id"
                        f" <= 2^{_REP_ID_BITS}-1 and 0 <= quality <"
                        f" 2^{63 - _REP_ID_BITS}): id="
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(" quality="),
                    q.cast("string"),
                )
            )
        )
    ).alias("_packed")
    members = comps.join(
        df.select(F.col(id_col).alias("id"), packed), "id"
    )
    reps = members.groupBy("component").agg(
        (
            F.lit(_REP_ID_MASK)
            - F.max("_packed").bitwiseAND(F.lit(_REP_ID_MASK))
        ).alias("_rep")
    )
    drops = (
        members.join(reps, "component")
        .where(F.col("id") != F.col("_rep"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(drops, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Exact Jaccard verification + embedding near-dup
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate (id_a, id_b) pairs by exact n-gram Jaccard.
    Joins shingle sets onto the (small) candidate set — the corpus
    itself never pairs up."""
    sets = df.select(
        F.col(id_col), word_shingles_col(F.col(text_col), shingle_k).alias("sh")
    )
    j = (
        candidate_pairs.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        ).join(
            sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return j.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    min_containment_ppm: int = 50000,
) -> DataFrame:
    """Directional n-gram CONTAINMENT over candidate pairs — the
    syndication / quotation detector Jaccard misses: a short article
    fully embedded in a longer page has low Jaccard (union is big) but
    containment ≈ 1 on the short side. cont_x_ppm =
    |A∩B| * 10^6 div |X| — all-integer, exactly mirrorable in SQL.

    Same scale shape as ``ngram_jaccard_pairs``: shingle sets join
    onto the bounded candidate set (LSH output), the corpus never
    self-joins. Keeps a pair when EITHER direction clears
    ``min_containment_ppm``."""
    sets = df.select(
        F.col(id_col), word_shingles_col(F.col(text_col), shingle_k).alias("sh")
    )
    j = (
        candidate_pairs.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        ).join(
            sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
        )
    )
    sized = j.select(
        "id_a",
        "id_b",
        F.size("sh_a").cast("long").alias("n_a"),
        F.size("sh_b").cast("long").alias("n_b"),
        F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
    )
    out = sized.select(
        "id_a",
        "id_b",
        "n_a",
        "n_b",
        "n_inter",
        F.expr(
            "CASE WHEN n_a > 0 THEN n_inter * CAST(1000000 AS BIGINT) div n_a "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("cont_a_ppm"),
        F.expr(
            "CASE WHEN n_b > 0 THEN n_inter * CAST(1000000 AS BIGINT) div n_b "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("cont_b_ppm"),
    )
    return out.where(
        F.greatest("cont_a_ppm", "cont_b_ppm") >= F.lit(int(min_containment_ppm))
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: Column | None = None,
) -> DataFrame:
    """Cosine ≥ threshold pairs. With ``block_col`` (e.g. an LSH bucket
    or cluster id) the self-join runs within blocks; without it this is
    the brute verify stage — only for bounded candidate sets."""
    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, x: a + x * x))
    v = emb.select(
        F.col(id_col),
        F.col(vec_col),
        norm.alias("_n"),
        (block_col if block_col is not None else F.lit(0)).alias("_blk"),
    )
    a = v.select(
        F.col("_blk"), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"), F.col("_n").alias("n_a"),
    )
    b = v.select(
        F.col("_blk"), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"), F.col("_n").alias("n_b"),
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0), dot / (F.col("n_a") * F.col("n_b"))
    ).otherwise(F.lit(0.0))
    return (
        a.join(b, "_blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_neardup_bucketed(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup mining at corpus scale: SRP-LSH bucket
    candidate generation + exact-cosine verify, never an all-pairs
    self-join.

    Each vector gets a sign-random-projection bucket (one bit per
    hyperplane, similarity.srp_bucket_col). Side A explodes its
    multi-probe keys — its own bucket plus every bucket within
    ``probe_hamming`` bit-flips — side B keys on its raw bucket, and
    the candidate join is a plain equi-join on the probe key: the
    corpus is pruned by ~2^n_planes per probe. Exact cosine runs only
    on candidates (the verify stage, same math as
    ``embedding_neardup_pairs``).

    LSH semantics: a pair whose buckets differ by more than
    ``probe_hamming`` bits is NOT a candidate — recall is tuned via
    n_planes (bucket granularity) and probe_hamming (probe depth),
    traded against candidate volume exactly like MinHash band count.
    Every returned pair is exact-verified; uniqueness per pair is
    structural (the probe key matching b's bucket is the one flipping
    exactly the differing bits), so no dedup pass is needed.
    """
    from itertools import combinations

    from docrawl_spark.datapipe.similarity import _hyperplanes, srp_bucket_col

    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    v = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_bucket", srp_bucket_col(F.col("_v"), planes))
    norm = F.sqrt(F.aggregate(F.col("_v"), F.lit(0.0), lambda a, x: a + x * x))
    v = v.withColumn("_n", norm)

    probe_keys = [F.col("_bucket")]
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(n_planes), h):
            mask = 0
            for i in bits:
                mask |= 1 << i
            probe_keys.append(F.col("_bucket").bitwiseXOR(F.lit(mask)))
    a = v.select(
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("v_a"),
        F.col("_n").alias("n_a"),
        F.explode(F.array(*probe_keys)).alias("_probe"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("v_b"),
        F.col("_n").alias("n_b"),
        F.col("_bucket").alias("_probe"),
    )
    # explicit join-key repartition — same AQE-coalesce guard as
    # simhash_neardup_pairs: the probe rows are small but the bucket
    # collisions fan out, and a user-specified count is exempt from
    # AQE's coalesce-to-1
    a = a.repartition(emb.sparkSession.sparkContext.defaultParallelism, "_probe")
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0), dot / (F.col("n_a") * F.col("n_b"))
    ).otherwise(F.lit(0.0))
    return (
        a.join(b, "_probe")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cent_vec",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the corpus coarsely, then
    dedup only WITHIN clusters — the cluster bound is what turns the
    O(N²) semantic-similarity matrix into sum-of-cluster-size²
    (with k ∝ N, per-cluster size is ~constant and total work is O(N)).

    Stage 1 assigns every vector to its nearest centroid
    (``similarity.centroid_assign_exact``: broadcast k-row centroid
    join, integer-packed HashAggregate argmax). Stage 2 self-joins on
    ``cluster_id`` ONLY — never the corpus — and drops every vector j
    for which some i < j in the same cluster has
    round(cosine(i,j), 6) ≥ threshold (keep-lowest-id, the same
    canonical-representative rule as ``near_dedup``).

    Returns (id, cluster_id, kept): all vectors with their cluster
    and a kept flag, so downstream can either filter kept or audit the
    drop rate per cluster. At 100 TB the cluster equi-join shuffles on
    cluster_id; skewed (oversized) clusters are the known SemDeDup
    failure mode — cap them upstream by raising k (centroid count),
    not by letting one cluster own a task.
    """
    from docrawl_spark.datapipe.similarity import centroid_assign_exact

    assign = centroid_assign_exact(
        emb, centroids, id_col, vec_col, cent_id_col, cent_vec_col
    ).select(id_col, "cluster_id")
    v = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    v = v.withColumn(
        "_n", F.sqrt(F.aggregate(F.col("_v"), F.lit(0.0), lambda a, x: a + x * x))
    )
    withvec = assign.join(v, id_col)
    a = withvec.select(
        F.col("cluster_id"),
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("v_a"),
        F.col("_n").alias("n_a"),
    )
    b = withvec.select(
        F.col("cluster_id"),
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("v_b"),
        F.col("_n").alias("n_b"),
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0), dot / (F.col("n_a") * F.col("n_b"))
    ).otherwise(F.lit(0.0))
    dropped = (
        a.join(b, "cluster_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cos, 6) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assign.join(dropped.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            "cluster_id",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


# --------------------------------------------------------------------------
# Line-level boilerplate removal (the CCNet/RefinedWeb paragraph-dedup
# family): lines repeated verbatim across many documents are navigation
# chrome / cookie banners / footers, not content — drop them per-line
# while keeping the documents.
# --------------------------------------------------------------------------


def drop_duplicate_lines(
    df: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Remove lines that appear (verbatim, after trim) in ≥
    ``min_count`` line-instances corpus-wide; re-assemble each doc in
    original line order. Returns (id_col, text_clean, n_lines,
    n_dropped).

    Scale shape: posexplode → one HashAggregate over the trimmed line
    (map-side combinable — boilerplate lines collapse to one row per
    distinct line BEFORE the shuffle) → broadcast-or-shuffle equi-join
    of lines against the heavy-line set → groupBy(doc) re-assembly with
    sort_array over (pos, line) structs. No window over the full line
    table, no per-row Python. At 100 TB the heavy-line set (lines with
    count ≥ threshold) is tiny relative to the corpus — Spark's AQE
    broadcasts the right side of the anti-join automatically.
    """
    # \Q...\E quotes the separator so split (whose pattern arg is a
    # REGEX) and array_join (literal) agree for seps like '|' or '.'
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\\Q" + sep + "\\E")).alias(
            "pos", "line"
        ),
    ).select(id_col, "pos", F.trim("line").alias("line"))
    heavy = (
        lines.groupBy("line")
        .agg(F.count("*").alias("line_count"))
        .where(F.col("line_count") >= min_count)
        .select("line", F.lit(True).alias("_heavy"))
    )
    tagged = lines.join(heavy, "line", "left")
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("_heavy"), 1).otherwise(0)).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_heavy").isNull(),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
                sep,
            ).alias("text_clean"),
        )
        .select(id_col, "text_clean", "n_lines", "n_dropped")
    )


# --------------------------------------------------------------------------
# Host-scoped template removal: the per-site complement of the corpus-wide
# line dedup above. Site chrome (nav bars, footers, cookie banners) repeats
# across most of ONE host's pages but may be globally rare, so a corpus
# count threshold misses it; the signal is the within-host document share.
# --------------------------------------------------------------------------


def host_template_lines(
    df: DataFrame,
    min_docs: int = 5,
    min_share_ppm: int = 500_000,
    host_col: str = "host",
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Mine per-host template lines: a non-empty trimmed line is a
    template for a host when it appears in ≥ ``min_share_ppm`` (parts
    per million) of that host's documents and the host has ≥
    ``min_docs`` documents (below that, "share" is noise). Returns
    (host, line, docs_with_line, host_docs, share_ppm).

    share_ppm is exact BIGINT arithmetic (``x * 10^6 div n`` — Spark's
    ``div`` ≡ DuckDB ``//`` on non-negative ints), so the threshold is
    engine-identical; no float shares.

    Scale shape: split→explode→distinct(host, doc, line) (the distinct
    pre-combines map-side: a footer repeated on every page of a host
    collapses inside each task before the exchange) → one
    HashAggregate to (host, line) doc counts → join against the
    host-dim-sized doc-count aggregate, which AQE broadcasts. No
    window, no per-row Python.
    """
    # \Q...\E quotes the separator: split's pattern arg is a regex.
    lines = (
        df.select(
            F.col(host_col).alias("host"),
            F.col(id_col).alias("_doc"),
            F.explode(F.split(F.col(text_col), "\\Q" + sep + "\\E")).alias("line"),
        )
        .select("host", "_doc", F.trim("line").alias("line"))
        .where(F.col("line") != "")
        .distinct()
    )
    per_line = lines.groupBy("host", "line").agg(
        F.count("*").alias("docs_with_line")
    )
    host_docs = (
        df.select(F.col(host_col).alias("host"), F.col(id_col).alias("_doc"))
        .distinct()
        .groupBy("host")
        .agg(F.count("*").alias("host_docs"))
        .where(F.col("host_docs") >= int(min_docs))
    )
    return (
        per_line.join(host_docs, "host")
        .withColumn(
            "share_ppm",
            F.expr("docs_with_line * CAST(1000000 AS BIGINT) div host_docs"),
        )
        .where(F.col("share_ppm") >= int(min_share_ppm))
        .select("host", "line", "docs_with_line", "host_docs", "share_ppm")
    )


def strip_host_templates(
    df: DataFrame,
    min_docs: int = 5,
    min_share_ppm: int = 500_000,
    host_col: str = "host",
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Drop each host's template lines (per :func:`host_template_lines`)
    from that host's documents, re-assembling each doc in original line
    order. Returns (id_col, host, text_clean, n_lines, n_dropped).

    Empty (trimmed) lines are never templates, so they survive the
    strip — only actual chrome is removed. The template set is tiny
    relative to the corpus (≤ a few lines per host), so the tag join
    broadcasts; re-assembly is the same single groupBy(doc) +
    sort_array pattern as :func:`drop_duplicate_lines`.
    """
    templates = host_template_lines(
        df,
        min_docs=min_docs,
        min_share_ppm=min_share_ppm,
        host_col=host_col,
        text_col=text_col,
        id_col=id_col,
        sep=sep,
    ).select("host", "line", F.lit(True).alias("_tmpl"))
    lines = df.select(
        F.col(id_col),
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\\Q" + sep + "\\E")).alias(
            "pos", "line"
        ),
    ).select(id_col, "host", "pos", F.trim("line").alias("line"))
    tagged = lines.join(templates, ["host", "line"], "left")
    return (
        tagged.groupBy(id_col, "host")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("_tmpl"), 1).otherwise(0)).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_tmpl").isNull(),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
                sep,
            ).alias("text_clean"),
        )
        .select(id_col, "host", "text_clean", "n_lines", "n_dropped")
    )


# ---------------------------------------------------------------------------
# Exact substring dedup (shared ≥k-token contiguous spans)
# ---------------------------------------------------------------------------


def substring_gram_table(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_tf: int = 8,
    max_gram_df: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Positioned token k-gram table (id, pos, gh) for exact substring
    matching, with the two stop-gram caps that make the downstream
    self-join safe at corpus scale:

    - ``max_gram_tf``: drop (doc, gram) pairs occurring more than this
      many times WITHIN one doc — degenerate repetition ("a a a a ...")
      would otherwise fan the gram self-join out quadratically per doc
      pair (those docs are gopher-repetition rejects anyway);
    - ``max_gram_df``: drop grams present in more than this many docs —
      corpus-wide boilerplate grams ("all rights reserved ...") are the
      skew killers; a gram in d docs contributes O(d²) candidate pairs.

    Both filters are anti-joins against heavy sets that are tiny
    relative to the gram table (AQE broadcasts them). Hashing happens
    AFTER posexplode, so md5/xxhash64 run in whole-stage codegen; only
    slice+array_join sit in the (bounded, per-row) lambda.
    """
    toks = F.split(normalized_text_col(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), toks.alias("_ts")).where(F.size("_ts") >= k)
    # sequence(0, n-k) is safe: the n>=k guard above keeps it ascending
    gram_strs = F.expr(
        f"transform(sequence(0, size(_ts) - {k}),"
        f" i -> array_join(slice(_ts, i + 1, {k}), ' '))"
    )
    if hash_mode == "md5hex":
        gh = F.substring(F.md5(F.col("_gram")), 1, 15)
    else:
        gh = F.xxhash64(F.col("_gram"))
    grams = base.select(
        id_col, F.posexplode(gram_strs).alias("pos", "_gram")
    ).select(id_col, "pos", gh.alias("gh"))

    heavy_tf = (
        grams.groupBy(id_col, "gh")
        .agg(F.count("*").alias("_tf"))
        .where(F.col("_tf") > max_gram_tf)
        .select(id_col, "gh")
    )
    grams = grams.join(heavy_tf, [id_col, "gh"], "left_anti")
    heavy_df = (
        grams.groupBy("gh")
        .agg(F.countDistinct(id_col).alias("_df"))
        .where(F.col("_df") > max_gram_df)
        .select("gh")
    )
    return grams.join(heavy_df, ["gh"], "left_anti")


def substring_dup_spans(
    df: DataFrame,
    k: int = 8,
    min_span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_tf: int = 8,
    max_gram_df: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact shared-substring detection (the Lee-et-al-style "dedup by
    duplicated span" primitive): for every doc pair sharing at least one
    contiguous run of ≥ ``min_span_tokens`` tokens, return
    (id_a, id_b, max_span_tokens, n_spans, start_a, start_b) where the
    start columns locate the LONGEST shared span (ties: smallest
    start_a, then start_b).

    Mechanics — no suffix array needed in a distributed setting:
    k-gram equi-join (never a corpus self-join on anything wider than a
    gram hash) produces aligned position pairs; within a (pair,
    diagonal = pos_a - pos_b) group, consecutive positions form islands
    (pos_a - row_number is island-constant), and an island of r grams
    is a shared span of exactly r + k - 1 tokens. The diagonal windows
    are bounded by doc length — never corpus-sized — and the gram join
    is capped by the stop-gram filters in ``substring_gram_table``.
    """
    from pyspark.sql import Window

    g = substring_gram_table(
        df, k=k, text_col=text_col, id_col=id_col,
        max_gram_tf=max_gram_tf, max_gram_df=max_gram_df,
        hash_mode=hash_mode,
    )
    # same AQE note as simhash_neardup_pairs: the gram rows are skinny
    # (AQE would coalesce the exchange) but the self-join output fans
    # out; a user-specified count is exempt from coalescing and the
    # single exchange is reused for both sides.
    g = g.repartition(df.sparkSession.sparkContext.defaultParallelism, "gh")
    a = g.select(F.col("gh"), F.col(id_col).alias("id_a"), F.col("pos").alias("pa"))
    b = g.select(F.col("gh"), F.col(id_col).alias("id_b"), F.col("pos").alias("pb"))
    pairs = (
        a.join(b, "gh")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = pairs.withColumn("island", F.col("pa") - F.row_number().over(w))
    spans = runs.groupBy("id_a", "id_b", "diag", "island").agg(
        (F.count("*") + F.lit(k - 1)).cast("long").alias("span_tokens"),
        F.min("pa").cast("long").alias("sa"),
        F.min("pb").cast("long").alias("sb"),
    ).where(F.col("span_tokens") >= min_span_tokens)
    # (longest span, then smallest start_a, start_b) as ONE packed
    # BIGINT min — struct-min demotes to SortAggregate (CLAUDE.md);
    # span/starts are < 2^20 (docs are token-bounded long before that),
    # so ((2^20-1-span) << 40) | (sa << 20) | sb stays under 2^60.
    packed = (
        (F.lit(1048575) - F.col("span_tokens")) * F.lit(1 << 40)
        + F.col("sa") * F.lit(1 << 20)
        + F.col("sb")
    )
    agg = spans.groupBy("id_a", "id_b").agg(
        F.max("span_tokens").alias("max_span_tokens"),
        F.count("*").cast("long").alias("n_spans"),
        F.min(packed).alias("_p"),
    )
    return agg.select(
        "id_a", "id_b", "max_span_tokens", "n_spans",
        F.shiftright(F.col("_p"), 20).bitwiseAND(F.lit(1048575)).alias("start_a"),
        F.col("_p").bitwiseAND(F.lit(1048575)).alias("start_b"),
    )


def substring_dedup_docs(
    df: DataFrame,
    k: int = 8,
    min_span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Keep-smallest-id dedup on the shared-substring relation: drop
    every doc that shares a ≥ ``min_span_tokens``-token span with a
    smaller-id doc (one anti-join against the pair table's id_b side —
    the Lee et al. finding is that removing ONE side of each duplicated
    span pair is enough to de-duplicate training data)."""
    pairs = substring_dup_spans(
        df, k=k, min_span_tokens=min_span_tokens,
        text_col=text_col, id_col=id_col, **kwargs,
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, [id_col], "left_anti")


def semantic_decontamination(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    corpus_id_col: str = "vec_id",
    eval_id_col: str = "eval_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-space decontamination: flag corpus documents whose
    embedding is within ``threshold`` cosine of ANY eval-set item —
    the semantic complement of the n-gram overlap gate (the
    ``decontaminate_overlap`` query): paraphrased eval leakage shares
    no 8-gram but sits on top of the eval item in embedding space.

    Asymmetric LSH shape (the right 100 TB plan): the EVAL side —
    10^3..10^5 rows, executor-memory sized by definition — explodes
    its multi-probe keys (own SRP bucket + every bucket within
    ``probe_hamming`` bit flips) and is BROADCAST; the corpus keys on
    its raw bucket and is scanned ONCE, no self-join, no shuffle of
    the corpus beyond the scan. LSH semantics match
    ``embedding_neardup_bucketed``: a pair whose buckets differ by
    more than probe_hamming bits is not a candidate; every returned
    pair is exact-cosine verified. Per-pair uniqueness is structural
    (exactly one probe key flips the differing bits).

    Returns ``(corpus_id_col, eval_id_col, cosine)`` — the flag list
    a corpus build anti-joins away.
    """
    from itertools import combinations

    from docrawl_spark.datapipe.similarity import _hyperplanes, srp_bucket_col

    if dim is None:
        dim = len(corpus_emb.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)

    def _prep(df, idc, alias):
        v = df.select(
            F.col(idc).alias(alias),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        ).withColumn("_bucket", srp_bucket_col(F.col("_v"), planes))
        return v.withColumn(
            "_n",
            F.sqrt(F.aggregate(F.col("_v"), F.lit(0.0), lambda a, x: a + x * x)),
        )

    probe_keys = [F.col("_bucket")]
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(n_planes), h):
            mask = 0
            for i in bits:
                mask |= 1 << i
            probe_keys.append(F.col("_bucket").bitwiseXOR(F.lit(mask)))

    ev = _prep(eval_emb, eval_id_col, "_eid").select(
        F.col("_eid"),
        F.col("_v").alias("v_e"),
        F.col("_n").alias("n_e"),
        F.explode(F.array(*probe_keys)).alias("_probe"),
    )
    co = _prep(corpus_emb, corpus_id_col, "_cid").select(
        "_cid", F.col("_v").alias("v_c"), F.col("_n").alias("n_c"),
        F.col("_bucket").alias("_probe"),
    )
    dot = F.aggregate(
        F.zip_with("v_c", "v_e", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.when(
        (F.col("n_c") > 0) & (F.col("n_e") > 0),
        dot / (F.col("n_c") * F.col("n_e")),
    ).otherwise(F.lit(0.0))
    return (
        co.join(F.broadcast(ev), "_probe")
        .select(
            F.col("_cid").alias(corpus_id_col),
            F.col("_eid").alias(eval_id_col),
            F.round(cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def neardup_threshold_sweep(
    pairs: DataFrame,
    thresholds_ppm: list[int],
    score_col: str = "jaccard",
    id_b_col: str = "id_b",
) -> DataFrame:
    """Threshold-sensitivity report for a verified near-dup pair set:
    at each candidate threshold, how many pairs survive and how many
    documents the keep-first rule would drop — the sweep a corpus
    owner reads BEFORE committing to a dedup threshold (one pass over
    the pair set instead of re-running the pipeline per threshold).

    ``(threshold_ppm, n_pairs, n_docs_dropped)`` for every requested
    threshold, zero rows included. Scores are compared in exact ppm
    (``round(score·10^6)``), so the report is reproducible
    cross-engine despite the double-typed input score.

    Scale shape: the pair set is LSH-bounded (verify output), the
    sweep explodes it by |thresholds| (a handful) and folds with one
    HashAggregate; the zero-row fill joins a literal threshold dim.
    """
    spark = pairs.sparkSession
    ts = sorted(int(t) for t in thresholds_ppm)
    dim = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in ts])).alias("threshold_ppm")
    )
    e = pairs.select(
        F.col(id_b_col).alias("_b"),
        F.round(F.col(score_col) * 1000000).cast("long").alias("_ppm"),
    ).crossJoin(F.broadcast(dim))
    agg = (
        e.where(F.col("_ppm") >= F.col("threshold_ppm"))
        .groupBy("threshold_ppm")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("_b").cast("long").alias("n_docs_dropped"),
        )
    )
    return dim.join(agg, "threshold_ppm", "left").select(
        F.col("threshold_ppm").cast("long").alias("threshold_ppm"),
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("n_docs_dropped", F.lit(0)).cast("long").alias("n_docs_dropped"),
    )


def cdc_chunk_table(
    df: DataFrame,
    k: int = 8,
    divisor: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "md5hex",
) -> DataFrame:
    """Content-defined chunking (Rabin/LBFS-style): cut a document's
    byte stream wherever the rolling k-gram hash ≡ 0 (mod divisor), so
    chunk boundaries follow CONTENT, not offsets — an insertion early
    in a page shifts every fixed-size block but leaves all CDC chunks
    after the edit identical. The storage-dedup primitive for a 100 TB
    snapshot archive (mirrors/recrawls share most chunks), complement
    of the document-level near-dup family.

    Window = the k-gram ENDING at position i (i in k..L-1 → cut after
    i; L always closes the last chunk; expected chunk ≈ divisor bytes).
    Docs shorter than k yield one whole-doc chunk.

    Plan shape (the CLAUDE.md reshape): boundary detection runs as
    explode(positions) → per-row codegen hash → HashAggregate
    collecting each doc's sorted cut list — NOT as an in-array
    higher-order ``filter`` (that form runs interpreted AND projection
    collapse re-evaluates the whole cut scan per emitted chunk:
    measured 112 s vs ~4 s at sf0.1/local[32]). The shuffle carries
    only (id, cut positions); chunk slicing is then a cheap per-row
    transform over ~L/divisor cuts.

    ``hash_mode='md5hex'`` is the DuckDB-reproducible oracle form (the
    shared 60-bit md5 slice); 'xxhash64' is the cheaper JVM scale twin
    (same contract as the MinHash/winnowing families).

    Returns the exploded (id, chunk) table; compose with a
    (md5(chunk), length) groupBy for the dedup-ratio accounting.
    """
    t = text_col
    if hash_mode == "md5hex":
        h = (
            f"CAST(conv(substring(md5(substring({t}, i - {k} + 1, {k})),"
            f" 1, 15), 16, 10) AS BIGINT)"
        )
    else:
        h = f"abs(xxhash64(substring({t}, i - {k} + 1, {k})))"
    base = df.where(F.length(t) >= 1).select(F.col(id_col).alias("_id"), F.col(t))
    # positions k..L-1 exist only when L >= k+1 (sequence(k, k-1)
    # would DESCEND — CLAUDE.md); shorter docs have no interior cut.
    cuts = (
        base.where(F.length(t) >= k + 1)
        .select(
            "_id",
            F.col(t),
            F.explode(F.expr(f"sequence({k}, length({t}) - 1)")).alias("i"),
        )
        .where(F.expr(f"pmod({h}, {divisor}) = 0"))
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("i")).alias("_mid"))
    )
    out = (
        base.join(cuts, "_id", "left")
        .withColumn(
            "_cuts",
            F.expr(
                f"concat(array(0), coalesce(_mid, CAST(array() AS array<int>)),"
                f" array(length({t})))"
            ),
        )
        .withColumn(
            "_chunks",
            F.expr(
                f"transform(sequence(1, size(_cuts) - 1),"
                f" j -> substring({t}, element_at(_cuts, j) + 1,"
                f" element_at(_cuts, j + 1) - element_at(_cuts, j)))"
            ),
        )
    )
    return out.select(F.col("_id").alias(id_col), F.explode("_chunks").alias("chunk"))


def cdc_dedup_stats(
    chunks: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Chunk-store accounting over a cdc_chunk_table: one row per
    distinct chunk content (keyed by md5 — what a content-addressed
    store keys on) with its byte length, total copies and distinct
    docs. SUM(chunk_len·(n_copies−1)) over this table = bytes the
    store saves. One map-side-combinable HashAggregate."""
    return chunks.groupBy(
        F.md5("chunk").alias("chunk_md5"),
        F.length("chunk").cast("int").alias("chunk_len"),
    ).agg(
        F.count("*").cast("long").alias("n_copies"),
        F.countDistinct(id_col).cast("long").alias("n_docs"),
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    t_ppm: int = 900000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the
    AllPairs/PPJoin family, Bayardo et al. 2007 / Xiao et al. 2008) —
    the no-false-negative complement to the MinHash-LSH pipeline: every
    pair with distinct-token Jaccard ≥ t is returned, guaranteed.

    Prefix-filter lemma: order each doc's distinct tokens by a GLOBAL
    total order (document frequency ascending, token ascending — rarest
    first, which minimizes candidate fan-out) and keep only the first
    ``p = s - ceil(t*s) + 1`` tokens; any pair with J ≥ t must share a
    token within both prefixes, so an equi-join on prefix tokens plus
    the size filter ``min(sa,sb)·10^6 ≥ t_ppm·max(sa,sb)`` generates a
    candidate superset, then an exact candidate-bounded intersection
    count keeps ``n_inter·10^6 ≥ t_ppm·(sa+sb−n_inter)`` (all-integer,
    cross-engine exact; ceil via ``(t·s + 999999) div 10^6``).

    Plan shape: token-grain HashAggregate for df, per-doc bounded
    window for prefix ranks (partitioned on the doc — no skew), one
    equi-join on the prefix token (never a cartesian — plan-asserted),
    and a verify stage that fans out candidates by the LEFT side's
    tokens then equi-joins on (right_id, token): all work is
    candidate-bounded. At 100 TB the rarity ordering is what keeps the
    candidate join sparse; the oracle cross-checks completeness by
    brute force."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.trim(F.lower(text_col)), r"\s+")).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("s"))
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("dfc"))
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("dfc").asc(), F.col("token").asc())
    ranked = (
        toks.join(dfreq, "token")
        .join(sizes, "id")
        .withColumn("pos", F.row_number().over(w))
    )
    prefix = ranked.where(
        F.expr(f"pos <= s - (({t_ppm} * s + 999999) div 1000000) + 1")
    ).select("id", "token", "s")
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least("a.s", "b.s") * F.lit(1000000).cast("long")
                >= F.lit(t_ppm).cast("long") * F.greatest("a.s", "b.s")
            ),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.s").alias("size_a"),
            F.col("b.s").alias("size_b"),
        )
        .distinct()
    )
    ta = toks.select(F.col("id").alias("id_a"), "token")
    tb = toks.select(F.col("id").alias("id_b"), "token")
    inter = (
        cands.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return inter.where(
        F.col("n_inter") * F.lit(1000000).cast("long")
        >= F.lit(t_ppm).cast("long") * (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    ).select(
        "id_a",
        "id_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        F.expr(
            "n_inter * CAST(1000000 AS BIGINT) div (size_a + size_b - n_inter)"
        ).alias("jaccard_ppm"),
    )


def shingle_jaccard_truth_pairs(
    df: DataFrame,
    t_ppm: int = 500000,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ground-truth near-dup pairs: EXACT Jaccard ≥ t over the same
    distinct word-shingle sets MinHash signs. Deliberately the
    expensive unpruned shingle co-occurrence join — this is the eval
    reference, meant to run on a corpus sample at scale (the pruned
    production paths are `minhash_lsh_pairs` / `prefix_jaccard_pairs`)."""
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles_col(F.col(text_col), shingle_k)).alias("s"),
        )
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "s")
    b = sh.select(F.col("id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .where(
            F.col("ni") * F.lit(1000000).cast("long")
            >= F.lit(t_ppm).cast("long") * (F.col("sa") + F.col("sb") - F.col("ni"))
        )
        .select("id_a", "id_b")
    )


def lsh_recall_eval(
    df: DataFrame,
    t_ppm: int = 500000,
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_k: int = 3,
    hash_mode: str = "md5hex",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup-pipeline QUALITY eval: precision/recall of the MinHash-LSH
    candidate set against exact shingle-Jaccard ≥ t truth — the number
    you read before committing band/row parameters to a 100 TB run
    (the s-curve says P(candidate) = 1-(1-s^r)^b; this measures it on
    real data). One row: (n_truth, n_cand, n_hit, precision_ppm,
    recall_ppm), integer ppm with div-by-zero guarded to 0-denominator
    → counts of 0 (greatest(x,1), mirrored in the oracle).

    The truth side is the unpruned exact join — at cluster scale run
    the eval on a stratified sample (`datapipe.sampling`), never the
    full corpus; the LSH side is the production bucket-join shape."""
    cands = minhash_lsh_pairs(
        df, text_col, id_col, n_hashes, n_bands, shingle_k, hash_mode
    )
    truth = shingle_jaccard_truth_pairs(df, t_ppm, shingle_k, text_col, id_col)
    n_cand = cands.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_hit = (
        cands.join(truth, ["id_a", "id_b"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    return (
        n_truth.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            F.expr(
                "n_hit * CAST(1000000 AS BIGINT) div greatest(n_cand, CAST(1 AS BIGINT))"
            ).alias("precision_ppm"),
            F.expr(
                "n_hit * CAST(1000000 AS BIGINT) div greatest(n_truth, CAST(1 AS BIGINT))"
            ).alias("recall_ppm"),
        )
    )


def host_novelty_rates(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Per-host content novelty of a crawl batch: the fraction of the
    host's distinct batch shingles NOT present anywhere in the
    existing corpus — the reward signal adaptive crawl allocation
    (``operators/fairness.ucb_host_allocation``) needs: a host whose
    new pages re-shuffle known content has novelty → 0 and stops
    earning budget; a host still yielding unseen text keeps it.

    Spec: shingles are k-word windows (``word_shingles_col``); the
    corpus side is the DISTINCT shingle set (text identity, not
    hashed — exactness matters because novelty feeds budget
    decisions); ``novelty_ppm = new_shingles·10^6 div n_shingles``
    (non-negative truncating division). Hosts whose batch carries no
    shingles (< k tokens everywhere) are omitted — their novelty is
    undefined, not zero.

    Scale shape: two explode→DISTINCT HashAggregates (map-side
    combinable) + one LEFT ANTI equi-join on the shingle string + one
    per-host count — the exact shape of the frontier's Bloom-backed
    seen-set anti-join, applied to content. At 10^10-shingle corpora,
    persist the corpus shingle set bucketed by shingle and the
    anti-join is shuffle-free on the big side (and a Bloom prefilter
    drops the obviously-old shingles before the join, exactly like
    ``operators/dedup.anti_join_seen``'s ``bloom=`` for URLs)."""
    new_sh = (
        new_docs.select(
            F.col(host_col).alias("host"),
            F.explode(word_shingles_col(F.col(text_col), shingle_k)).alias("s"),
        )
        .distinct()
    )
    corpus_sh = corpus_docs.select(
        F.explode(word_shingles_col(F.col(text_col), shingle_k)).alias("s")
    ).distinct()
    fresh = new_sh.join(corpus_sh, "s", "left_anti")
    totals = new_sh.groupBy("host").agg(F.count(F.lit(1)).alias("n_shingles"))
    news = fresh.groupBy("host").agg(F.count(F.lit(1)).alias("new_shingles"))
    return (
        totals.join(news, "host", "left")
        .select(
            "host",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("new_shingles", F.lit(0)).cast("long").alias("new_shingles"),
            F.expr(
                "coalesce(new_shingles, 0) * 1000000 div n_shingles"
            ).cast("long").alias("novelty_ppm"),
        )
    )


def minhash_estimate_calibration(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle_k: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Estimator calibration over LSH candidates: the MinHash Jaccard
    ESTIMATE (fraction of agreeing signature slots) next to the exact
    shingle Jaccard, both in exact ppm — the table you read before
    re-tuning (n_hashes, n_bands): if estimates at your band threshold
    sit far from exact values, the signature is too short for the
    corpus's similarity profile.

    Per pair: ``est_ppm = agree·10^6 div n_hashes``, ``exact_ppm =
    |A∩B|·10^6 div |A∪B|`` (0 when both sets are empty). Agreement is
    counted by exploding the zipped signatures into one HashAggregate
    (the explode→agg reshape; elementwise HOF comparison would run
    interpreted). Signatures join onto the BOUNDED candidate set —
    the corpus never self-joins."""
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k, hash_mode)
    sized = (
        candidate_pairs.join(
            sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("g_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("g_b")),
            "id_b",
        )
    )
    agree = (
        sized.select(
            "id_a",
            "id_b",
            F.posexplode(F.col("g_a")).alias("i", "ha"),
            F.col("g_b"),
        )
        .select(
            "id_a", "id_b",
            (F.col("ha") == F.element_at(F.col("g_b"), F.col("i") + 1))
            .cast("long")
            .alias("eq"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum("eq").alias("n_agree"))
    )
    sets = df.select(
        F.col(id_col), word_shingles_col(F.col(text_col), shingle_k).alias("sh")
    )
    exact = (
        candidate_pairs.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("n_union"),
        )
    )
    return (
        agree.join(exact, ["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.col("n_agree").cast("long").alias("n_agree"),
            F.expr(f"n_agree * 1000000 div {int(n_hashes)}").cast("long").alias("est_ppm"),
            F.expr(
                "CASE WHEN n_union > 0 THEN n_inter * 1000000 div n_union"
                " ELSE 0 END"
            ).cast("long").alias("exact_ppm"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col,
    id_col: str = "doc_id",
    window: int = 4,
    block_chars: int = 2,
) -> DataFrame:
    """Sorted-neighborhood (SNM, Hernández & Stolfo 1995) candidate
    pairs — the third blocking family next to MinHash-LSH and SimHash:
    sort by a blocking key and pair every record with its ``window−1``
    successors. Catches near-dups that share a key PREFIX but differ
    late (truncated titles, serial-numbered mirrors) which
    shingle-based banding can miss, and costs one sort instead of
    signature computation.

    Distributed form: the sort runs WITHIN blocks — the key's first
    ``block_chars`` characters partition the data, and the
    neighborhood window never crosses a block boundary (spec'd, not
    approximated: records in different blocks are by definition not
    neighbors). This keeps the window partition-local — a global
    orderBy window would serialize the corpus through one task.
    Block skew is bounded by the key distribution; widen
    ``block_chars`` if a block outgrows a partition.

    Returns distinct ``(id_a, id_b)``, ordered by sort position
    (a precedes b in (key, id) order)."""
    keyed = df.select(F.col(id_col).alias("id"), key_col.alias("k")).withColumn(
        "blk", F.substring("k", 1, block_chars)
    )
    w = Window.partitionBy("blk").orderBy("k", "id")
    leads = [F.lead("id", i).over(w).alias(f"_l{i}") for i in range(1, window)]
    return (
        keyed.select("id", *leads)
        .select(
            F.col("id").alias("id_a"),
            F.explode(F.array(*[F.col(f"_l{i}") for i in range(1, window)])).alias(
                "id_b"
            ),
        )
        .where(F.col("id_b").isNotNull())
        .distinct()
    )
