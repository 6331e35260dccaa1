"""Training-data pipeline operators: semantics at small scale."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from docrawl_spark.datapipe.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64_col,
    simhash_neardup_pairs,
    word_shingles_col,
)
from docrawl_spark.datapipe.multimodal import (
    decode_image_features,
    media_from_spans,
    sample_video_frames,
)
from docrawl_spark.datapipe.similarity import cosine_topk, lsh_bucketed_topk
from docrawl_spark.datapipe.text import text_profile

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "The quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup
    (3, "The quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    (4, "completely different text about spark dataframes and shuffles"),
    (5, "der hund und die katze sind nicht da und das ist gut"),
    (6, "le chat est sur la table et le chien est dans le jardin"),
    (7, "  The   quick brown fox jumps over the lazy dog near the river bank today  "),  # ws dup
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs_df):
    kept = exact_dedup(docs_df).select("doc_id").orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in kept]
    # 2 and 7 are dups of 1 (whitespace-normalized); keep-first = min id
    assert ids == [1, 3, 4, 5, 6]


def test_minhash_identical_signatures(spark, docs_df):
    sigs = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(docs_df, n_hashes=16).collect()
    }
    assert sigs[1] == sigs[2] == sigs[7]
    assert sigs[1] != sigs[4]
    # near-dup docs share most minima
    same = sum(1 for a, b in zip(sigs[1], sigs[3]) if a == b)
    assert same >= 8


def test_minhash_lsh_pairs_and_jaccard_verify(spark, docs_df):
    pairs = minhash_lsh_pairs(docs_df, n_hashes=16, n_bands=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 7) in got and (2, 7) in got
    assert (1, 4) not in got
    verified = ngram_jaccard_pairs(docs_df, pairs, threshold=0.5)
    v = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert v[(1, 2)] == 1.0
    assert 0.5 <= v.get((1, 3), v.get((1, 3), 0.0)) < 1.0 or (1, 3) not in v


def test_simhash_neardup(spark, docs_df):
    sh = {
        r["doc_id"]: r["sh"]
        for r in docs_df.select("doc_id", simhash64_col(F.col("text")).alias("sh")).collect()
    }
    assert sh[1] == sh[2] == sh[7]
    # hamming(1,3) small; hamming(1,4) large
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    ham14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham13 < ham14
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(docs_df, max_hamming=3).collect()
    }
    assert (1, 2) in pairs and (1, 7) in pairs
    assert (1, 4) not in pairs


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = df.select(word_shingles_col(F.col("text"), 2).alias("s")).first()["s"]
    assert list(got) == ["a b", "b c", "c d"]


def test_short_docs_do_not_crash(spark):
    """Docs with fewer tokens than the shingle/window width must yield
    empty sets, not a slice(…, 0, …) error (sequence(1, 0) DESCENDS)."""
    from docrawl_spark.datapipe.text import winnow_fingerprints_col

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "now three words")],
        "doc_id long, text string",
    )
    sh = {
        r["doc_id"]: list(r["s"])
        for r in df.select(
            "doc_id", word_shingles_col(F.col("text"), 3).alias("s")
        ).collect()
    }
    assert sh[1] == [] and sh[2] == [] and sh[3] == []
    assert sh[4] == ["now three words"]
    wf = {
        r["doc_id"]: list(r["f"])
        for r in df.select(
            "doc_id", winnow_fingerprints_col(F.col("text"), window=4).alias("f")
        ).collect()
    }
    assert all(wf[i] == [] for i in (1, 2, 3, 4))  # all < 4 tokens
    # LSH drops shingle-less docs entirely (no empty-band collisions)
    assert minhash_lsh_pairs(df, n_hashes=8, n_bands=4).count() == 0


def test_embedding_neardup_and_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
        (5, [0.7, 0.7, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, threshold=0.95).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert (1, 3) not in pairs
    topk = [r["vec_id"] for r in cosine_topk(emb, [1.0, 0.0, 0.0], k=3).collect()]
    assert topk == [1, 2, 5]
    # LSH ANN finds the same top-1 with enough probes
    ann = lsh_bucketed_topk(emb, [1.0, 0.0, 0.0], k=1, n_planes=4)
    assert [r["vec_id"] for r in ann.collect()] == [1]


def test_text_profile(spark, docs_df):
    prof = {r["doc_id"]: r for r in text_profile(docs_df).collect()}
    assert prof[1]["n_tokens"] == 14
    assert prof[1]["lang_pred"] == "en"
    assert prof[5]["lang_pred"] == "de"
    assert prof[6]["lang_pred"] == "fr"
    assert prof[1]["fingerprint"] == prof[7]["fingerprint"]  # ws-normalized
    assert 0 <= prof[4]["quality"] <= 1000


def test_multimodal_plumbing(spark):
    from docrawl_spark.sources.schemas import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        [
            (
                "https://m.test/p",
                [
                    ("image", "alt", "/static/a.png?w=1", 0),
                    ("image", "alt2", "/static/b.jpg", 1),
                    ("text", "body", "", 2),
                ],
            )
        ],
        DOCUMENTS_SCHEMA,
    )
    media = media_from_spans(docs)
    rows = {r["media_ref"]: r["mime"] for r in media.collect()}
    assert rows["/static/a.png?w=1"] == "image/png"  # ?query stripped for ext
    assert rows["/static/b.jpg"] == "image/jpeg"

    with_bytes = media.withColumn("content", F.encode(F.col("media_ref"), "utf-8"))
    feats = decode_image_features(with_bytes, fake=True).collect()
    assert len(feats) == 2
    assert all(64 <= r["width"] <= 2048 and 64 <= r["height"] <= 1080 for r in feats)
    # deterministic: same input → same features
    feats2 = decode_image_features(with_bytes, fake=True).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))
    frames = sample_video_frames(with_bytes, fake=True).collect()
    assert len(frames) >= 2

    # resize: aspect preserved, bounded by max_side, deterministic
    from docrawl_spark.datapipe.multimodal import (
        extract_audio_features,
        resize_images,
    )

    rs = {r["media_id"]: r for r in resize_images(with_bytes, max_side=128, fake=True).collect()}
    assert len(rs) == 2
    for mid, r in rs.items():
        assert max(r["out_width"], r["out_height"]) <= 128
        assert len(r["out_bytes"]) == 16
    feats_by_id = {f["media_id"]: f for f in feats}
    for mid, r in rs.items():
        w, h = feats_by_id[mid]["width"], feats_by_id[mid]["height"]
        assert abs(r["out_width"] / r["out_height"] - w / h) < 0.05

    au = extract_audio_features(with_bytes, fake=True).collect()
    assert len(au) == 2 and all(r["sample_rate"] in (8000, 16000, 22050, 44100, 48000) for r in au)

    # formats beyond the stdlib codecs (these bytes are no known
    # format) explicitly raise on the real path
    with pytest.raises(Exception) as e:
        decode_image_features(with_bytes, fake=False).collect()
    assert "NotImplementedError" in str(e.value) or isinstance(
        e.value, NotImplementedError
    )
    with pytest.raises(Exception):
        resize_images(with_bytes, fake=False).collect()


def test_ivf_recall(spark):
    """IVF ANN: with 8 cells and 3 probes on 200 vectors, top-10
    recall vs brute force ≥ 60%; with n_probe = n_cells it is exact."""
    import numpy as np

    from docrawl_spark.datapipe.similarity import ivf_assign, ivf_topk

    rng = np.random.default_rng(4)
    vecs = rng.standard_normal((200, 16)).astype(float)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in vecs[7]]
    with_cell, centroids = ivf_assign(emb, n_cells=8)
    with_cell = with_cell.persist()
    brute = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    ann = {r["vec_id"] for r in ivf_topk(with_cell, centroids, q, k=10, n_probe=3).collect()}
    assert len(set(brute) & ann) >= 6
    exact = [r["vec_id"] for r in ivf_topk(with_cell, centroids, q, k=10, n_probe=8).collect()]
    assert exact == brute


def test_lsh_recall_at_scale(spark):
    """ANN recall sanity: on 200 deterministic vectors, bucketed top-10
    finds ≥60% of brute-force top-10 with 8 planes + hamming-1 probes."""
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 16)).astype(float)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in vecs[0]]
    brute = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    # 4 planes over 200 points → ~12 points/bucket, 5 probe buckets
    ann = {r["vec_id"] for r in lsh_bucketed_topk(emb, q, k=10, n_planes=4).collect()}
    assert len(brute & ann) >= 6


def test_connected_components(spark):
    """Min-label propagation: chain a-b-c merges into one component,
    disjoint pair keeps its own, isolated nodes never appear."""
    from docrawl_spark.datapipe.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 9), (5, 4)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 4: 4, 5: 4}


# ---------------------------------------------------------------------------
# xxhash scale-twin evidence (VERDICT r01 item 9): the md5hex modes are
# DuckDB-oracle-validated; these tests pin the xxhash64 scale paths with
# hash-agnostic invariants — banding completeness vs brute force, and
# planted-duplicate recall — so the scale pipeline is evidenced, not
# just the oracle mode.
# ---------------------------------------------------------------------------


def _planted_corpus(spark, n_tok=60, n_subs=2, seed=99):
    """10 (base, near-dup) pairs (n_subs token substitutions) + 30
    vocabulary-disjoint unrelated docs. Planted pairs = {(2i, 2i+1)}."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for i in range(10):
        toks = [rng.choice(vocab) for _ in range(n_tok)]
        rows.append((i * 2, " ".join(toks)))
        near = list(toks)
        for j in (7, 33)[:n_subs]:
            near[j] = rng.choice(vocab)
        rows.append((i * 2 + 1, " ".join(near)))
    for i in range(30):
        rows.append((100 + i, " ".join(f"u{i}x{k}" for k in range(n_tok))))
    return (
        spark.createDataFrame(rows, "doc_id long, text string").repartition(8),
        {(i * 2, i * 2 + 1) for i in range(10)},
    )


@pytest.mark.parametrize("hash_mode", ["xxhash64", "md5hex"])
def test_simhash_pairs_equal_bruteforce(spark, hash_mode):
    """Block-permutation completeness: for max_hamming < n_blocks the
    chunk-equality join must return EXACTLY the pairs whose simhash
    hamming distance is <= max_hamming — in the xxhash64 scale mode as
    much as the oracle mode."""
    from docrawl_spark.datapipe.dedup import simhash_table

    docs, _ = _planted_corpus(spark)
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_table(docs, hash_mode=hash_mode).collect()
    }
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(
            docs, max_hamming=3, n_blocks=4, hash_mode=hash_mode
        ).collect()
    }
    assert got == brute
    assert len(brute) > 0  # the fixture plants real near-dups


@pytest.mark.parametrize("hash_mode", ["xxhash64", "md5hex"])
def test_lsh_pairs_equal_band_collisions(spark, hash_mode):
    """LSH banding completeness: the band-bucket join must return
    EXACTLY the pairs whose signatures agree on >= 1 band."""
    docs, planted = _planted_corpus(spark)
    sigs = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(
            docs, n_hashes=16, hash_mode=hash_mode
        ).collect()
    }
    n_bands, rows_per = 8, 2

    def bands(s):
        return [tuple(s[b * rows_per : (b + 1) * rows_per]) for b in range(n_bands)]

    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if any(x == y for x, y in zip(bands(sigs[a]), bands(sigs[b])))
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, n_hashes=16, n_bands=n_bands, hash_mode=hash_mode
        ).collect()
    }
    assert got == brute
    # planted strong near-dups (2 subs / 60 tokens, s≈0.9) are all caught
    assert planted <= got
    # nothing between vocabulary-disjoint docs
    assert all(not (a >= 100 and b >= 100) for a, b in got)


@pytest.mark.parametrize("hash_mode", ["xxhash64", "md5hex"])
def test_winnow_planted_overlap(spark, hash_mode):
    """Winnowing invariant (both hash modes): docs sharing long token
    runs share >= 1 fingerprint; vocabulary-disjoint docs share none."""
    from docrawl_spark.datapipe.text import winnow_fingerprints_col

    docs, planted = _planted_corpus(spark)
    fps = {
        r["doc_id"]: set(r["fp"])
        for r in docs.select(
            "doc_id", winnow_fingerprints_col(F.col("text"), 4, hash_mode).alias("fp")
        ).collect()
    }
    assert all(fps[a] & fps[b] for a, b in planted)
    unrelated = [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    assert all(not (fps[a] & fps[b]) for a, b in unrelated)


def test_drop_duplicate_lines(spark):
    from docrawl_spark.datapipe.dedup import drop_duplicate_lines

    # 'FOOTER' appears in 3 docs (>= min_count), 'unique N' lines don't
    rows = [
        (1, "unique one\nFOOTER\nalpha beta"),
        (2, "FOOTER\nunique two"),
        (3, "gamma\nFOOTER"),
        (4, "no boilerplate here"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in drop_duplicate_lines(df, min_count=3).collect()
    }
    assert out[1]["text_clean"] == "unique one\nalpha beta"
    assert out[1]["n_lines"] == 3 and out[1]["n_dropped"] == 1
    assert out[2]["text_clean"] == "unique two"
    assert out[3]["text_clean"] == "gamma"
    assert out[4]["text_clean"] == "no boilerplate here"
    assert out[4]["n_dropped"] == 0
    # order preservation: dropped middle line must not reorder the rest
    assert out[1]["text_clean"].split("\n") == ["unique one", "alpha beta"]


def test_drop_duplicate_lines_all_dropped(spark):
    from docrawl_spark.datapipe.dedup import drop_duplicate_lines

    df = spark.createDataFrame(
        [(i, "same line") for i in range(5)], "doc_id int, text string"
    )
    out = drop_duplicate_lines(df, min_count=5).collect()
    assert all(r["text_clean"] == "" and r["n_dropped"] == 1 for r in out)


def test_pagerank_hosts_conservation_and_star(spark):
    """On a star graph (everyone links to 'hub'), the hub must dominate;
    total rank mass stays bounded by total_units; results are exact
    integers (deterministic across partitioning)."""
    from docrawl_spark.datapipe.graph import host_edges, pagerank_hosts

    links = spark.createDataFrame(
        [(f"s{i}.test", "hub.test") for i in range(6)]
        + [("hub.test", "s0.test"), ("s1.test", "s2.test")],
        "src_host string, dst_host string",
    )
    nodes = spark.createDataFrame(
        [(f"s{i}.test",) for i in range(6)] + [("hub.test",)], "host string"
    )
    edges = host_edges(links)
    r = {x["host"]: x["rank_units"] for x in pagerank_hosts(edges, nodes, n_iter=5).collect()}
    assert max(r, key=r.get) == "hub.test"
    assert sum(r.values()) <= 1_000_000_000_000
    # determinism under different parallelism of the same input
    r2 = {
        x["host"]: x["rank_units"]
        for x in pagerank_hosts(edges.repartition(7), nodes.repartition(3), n_iter=5).collect()
    }
    assert r == r2


def test_host_degree_metrics(spark):
    from docrawl_spark.datapipe.graph import host_degree_metrics, host_edges

    links = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("a", "c"), ("b", "c")],
        "src_host string, dst_host string",
    )
    m = {r["host"]: r for r in host_degree_metrics(host_edges(links)).collect()}
    assert m["a"]["out_deg"] == 2 and m["a"]["out_w"] == 3 and m["a"]["in_deg"] == 0
    assert m["c"]["in_deg"] == 2 and m["c"]["in_w"] == 2 and m["c"]["out_deg"] == 0


def test_dedup_normalize_url(spark):
    from docrawl_spark.functions.url_normalize import dedup_normalize_url_col

    cases = [
        # tracking params stripped, rest sorted, fragment dropped
        ("https://A.test/p?utm_source=x&b=2&a=1#f", "https://a.test/p?a=1&b=2"),
        ("https://a.test/p?b=2&a=1", "https://a.test/p?a=1&b=2"),
        # all params tracking -> no '?'
        ("https://a.test/p?utm_medium=m&gclid=g", "https://a.test/p"),
        # no query/fragment -> unchanged (host lowercased only)
        ("https://UP.test/Path", "https://up.test/Path"),
        # non-url strings pass through the no-scheme branch
        ("not a url", "not a url"),
        ("https://a.test/p#only-frag", "https://a.test/p"),
        # 'ref' is content-selecting (branch refs, product refs) — it
        # must SURVIVE normalization (round-2 advisor finding)
        ("https://a.test/repo?ref=main&utm_source=x", "https://a.test/repo?ref=main"),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "u string")
    got = [r[0] for r in df.select(dedup_normalize_url_col("u")).collect()]
    for (raw, want), g in zip(cases, got):
        assert g == want, (raw, g, want)


def test_clean_text(spark):
    from docrawl_spark.datapipe.text import clean_text

    rows = [
        (1, "a\tb\n\nc  d"),
        (2, "  x \x01\x02 y  "),
        (3, "café naïve"),  # combining marks must compose (NFC)
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r["text_clean"] for r in clean_text(df).collect()}
    assert out[1] == "a b c d"
    assert out[2] == "x y"
    assert out[3] == "café naïve"
    assert out[4] is None
    assert out[5] == ""


def test_stratified_sample_deterministic_and_exact(spark):
    from docrawl_spark.datapipe.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(2000)],
        "doc_id long, source string",
    )
    kept1 = {r["doc_id"] for r in stratified_sample(df, {"a": 0.5, "b": 0.0}).collect()}
    kept2 = {
        r["doc_id"]
        for r in stratified_sample(df.repartition(13), {"a": 0.5, "b": 0.0}).collect()
    }
    assert kept1 == kept2  # pure function of the id — partitioning-proof
    assert all(k % 2 == 0 for k in kept1)  # stratum b fully excluded
    assert 300 < len(kept1) < 700  # ~50% of the 1000 'a' docs
    # xxhash64 scale mode is deterministic too (values differ from md5)
    kx1 = {r["doc_id"] for r in stratified_sample(df, {"a": 0.5}, hash_mode="xxhash64").collect()}
    kx2 = {r["doc_id"] for r in stratified_sample(df.repartition(7), {"a": 0.5}, hash_mode="xxhash64").collect()}
    assert kx1 == kx2


def test_hash_split_stable_under_corpus_growth(spark):
    """A doc's split assignment must not change when the corpus grows —
    the property random splits lack (and the reason to hash)."""
    from docrawl_spark.datapipe.sampling import hash_split

    small = spark.range(500).select(F.col("id").alias("doc_id"))
    big = spark.range(5000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    s1 = {r["doc_id"]: r["split"] for r in hash_split(small, w).collect()}
    s2 = {r["doc_id"]: r["split"] for r in hash_split(big, w).collect()}
    assert all(s2[k] == v for k, v in s1.items())
    # rough proportions on the big corpus
    from collections import Counter

    c = Counter(s2.values())
    assert 3500 < c["train"] < 4500 and 250 < c["val"] < 750 and 250 < c["test"] < 750
    assert None not in c  # weights sum to 1.0 -> everything assigned


def test_ivf_persistent_index_partition_pruned(spark, tmp_path):
    """Build-once/query-many IVF: the persisted index is cell-partitioned
    on disk, a query's cell probe prunes at the DIRECTORY level
    (PartitionFilters in the scan), and results equal the in-memory
    path (exact vs brute force at n_probe=n_cells)."""
    import numpy as np

    from docrawl_spark.datapipe.similarity import (
        ivf_query_index,
        ivf_write_index,
    )
    from docrawl_spark.sources.storage import Warehouse

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((150, 16)).astype(float)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(150)],
        "vec_id long, embedding array<double>",
    )
    wh = Warehouse(str(tmp_path / "wh"), spark)
    ivf_write_index(emb, wh, n_cells=6)
    q = [float(x) for x in vecs[3]]
    brute = [r["vec_id"] for r in cosine_topk(emb, q, k=8).collect()]
    exact = [
        r["vec_id"] for r in ivf_query_index(wh, q, k=8, n_probe=6).collect()
    ]
    assert exact == brute
    ann = {r["vec_id"] for r in ivf_query_index(wh, q, k=8, n_probe=2).collect()}
    assert len(set(brute) & ann) >= 4
    # the probed scan must be partition-pruned: cell filter appears as
    # PartitionFilters (directory pruning), not a post-scan Filter only
    plan = ivf_query_index(wh, q, k=8, n_probe=2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_ivf_train_improves_quantization(spark):
    """Lloyd's refinement must reduce quantization error (mean cosine
    distance to the assigned centroid) vs the hash-picked init, keep
    exactness at n_probe=n_cells, and stay deterministic."""
    import numpy as np

    from docrawl_spark.datapipe.similarity import (
        assign_cells,
        ivf_assign,
        ivf_topk,
        ivf_train,
    )

    rng = np.random.default_rng(9)
    # clustered data: 5 blobs of 40 vectors
    centers = rng.standard_normal((5, 12)) * 3
    vecs = np.vstack([c + rng.standard_normal((40, 12)) * 0.3 for c in centers])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )

    def qerr(assigned, cents):
        rows = assigned.select("vec_id", "_cell").collect()
        c = np.array(cents)
        tot = 0.0
        for r in rows:
            v = vecs[r["vec_id"]]
            cc = c[r["_cell"]]
            tot += 1 - float(v @ cc) / ((np.linalg.norm(v) or 1) * (np.linalg.norm(cc) or 1))
        return tot / len(rows)

    a0, c0 = ivf_assign(emb, n_cells=5)
    a1, c1 = ivf_train(emb, n_cells=5, n_iter=3)
    assert qerr(a1, c1) <= qerr(a0, c0) + 1e-9
    # exact at full probe with trained centroids
    q = [float(x) for x in vecs[17]]
    brute = [r["vec_id"] for r in cosine_topk(emb, q, k=5).collect()]
    exact = [r["vec_id"] for r in ivf_topk(a1, c1, q, k=5, n_probe=5).collect()]
    assert exact == brute
    # deterministic across repartition
    a2, c2 = ivf_train(emb.repartition(7), n_cells=5, n_iter=3)
    assert np.allclose(np.array(c1), np.array(c2))


def test_pagerank_survives_huge_weights(spark):
    """ANSI overflow regression: rank_units near total_units times a
    multi-million edge weight must not overflow int64 (the ppm-share
    two-floor form keeps every intermediate <= total_units)."""
    from docrawl_spark.datapipe.graph import pagerank_hosts

    edges = spark.createDataFrame(
        [("a", "hub", 20_000_000), ("b", "hub", 15_000_000), ("hub", "a", 1)],
        "src_host string, dst_host string, weight long",
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("hub",)], "host string")
    r = {x["host"]: x["rank_units"] for x in pagerank_hosts(edges, nodes, n_iter=4).collect()}
    assert r["hub"] > r["b"] and r["hub"] > 0
    assert sum(r.values()) <= 1_000_000_000_000


def test_drop_duplicate_lines_literal_separator(spark):
    """The separator must be treated literally in BOTH split and join
    ('|' would otherwise be regex alternation and shred the text)."""
    from docrawl_spark.datapipe.dedup import drop_duplicate_lines

    rows = [(i, "keep me|DUP|also keep") for i in range(3)] + [(3, "solo|DUP")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in drop_duplicate_lines(df, min_count=4, sep="|").collect()}
    assert out[0]["text_clean"] == "keep me|also keep"
    assert out[3]["text_clean"] == "solo"
    assert out[0]["n_lines"] == 3 and out[0]["n_dropped"] == 1


def test_pii_scrub_redaction_and_counts(spark):
    from docrawl_spark.datapipe.text import pii_scrub

    rows = [
        (1, "write to john.doe+spam@mail.example.co.uk or visit 192.168.1.254 now"),
        (2, "call +1 (202) 555-0134 or +44 20-7946-0958 today"),
        (3, "no pii here, just the year 2024 and price 10.99"),
        (4, "mixed a@b.io then 10.0.0.1 then +33 1 42 68 53 00 done"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert out[1]["text_scrubbed"] == "write to <EMAIL> or visit <IP> now"
    assert out[1]["n_email"] == 1 and out[1]["n_ipv4"] == 1 and out[1]["n_phone"] == 0
    assert out[2]["text_scrubbed"] == "call <PHONE> or <PHONE> today"
    assert out[2]["n_phone"] == 2
    # 10.99 and 2024 survive: bare digit runs are NOT phone numbers, and
    # a two-part decimal is not a dotted quad
    assert out[3]["text_scrubbed"] == rows[2][1]
    assert out[3]["n_email"] == out[3]["n_ipv4"] == out[3]["n_phone"] == 0
    assert out[4]["text_scrubbed"] == "mixed <EMAIL> then <IP> then <PHONE> done"
    assert out[5]["text_scrubbed"] == ""


def test_temperature_weights_exact_fixed_point(spark):
    import math

    from docrawl_spark.datapipe.sampling import temperature_weights

    counts = {"a": 10000, "b": 100, "c": 1}
    rows = [(f"{k}{i}", k) for k, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    got = {r["source"]: r for r in temperature_weights(df, "source").collect()}
    # exact mirror of the fixed-point arithmetic
    w = {k: math.floor(math.sqrt(n) * 1_000_000) for k, n in counts.items()}
    tot = sum(w.values())
    for k, n in counts.items():
        assert got[k]["n_docs"] == n
        assert got[k]["weight_ppm"] == (w[k] * 1_000_000) // tot
    # alpha=1/2 flattens: b is 1% of a by count but exactly 10% by
    # weight (sqrt(10000)/sqrt(100) = 10)
    assert 9 * got["b"]["weight_ppm"] < got["a"]["weight_ppm"] < 11 * got["b"]["weight_ppm"]
    assert sum(r["weight_ppm"] for r in got.values()) <= 1_000_000
    with pytest.raises(ValueError):
        temperature_weights(df, "source", alpha_num=3, alpha_den=4)


def test_temperature_resample_deterministic_and_sized(spark):
    from docrawl_spark.datapipe.sampling import temperature_resample

    rows = [(i, "big" if i < 9000 else "small") for i in range(10_000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept1 = {r["doc_id"] for r in temperature_resample(df, 2000).collect()}
    kept2 = {
        r["doc_id"] for r in temperature_resample(df.repartition(13), 2000).collect()
    }
    assert kept1 == kept2  # pure hash predicate — partitioning-proof
    # sqrt weights: w_big = 3*w_small -> targets 1500/500; hash noise aside
    n_big = sum(1 for k in kept1 if k < 9000)
    n_small = len(kept1) - n_big
    assert 1300 < n_big < 1700 and 380 < n_small < 620
    # a smaller target selects a SUBSET (threshold predicate monotone)
    kept_half = {r["doc_id"] for r in temperature_resample(df, 1000).collect()}
    assert kept_half < kept1


def test_ngram_containment_detects_embedded_doc(spark):
    """A short doc fully contained in a longer one: containment on the
    short side must be 1e6 ppm even though Jaccard is low; the pair set
    rides on the provided candidates only (no corpus self-join)."""
    from docrawl_spark.datapipe.dedup import ngram_containment_pairs

    short = "alpha beta gamma delta"
    longer = short + " " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, longer), (3, "unrelated text entirely")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r.asDict()
           for r in ngram_containment_pairs(docs, cands, shingle_k=2).collect()}
    assert (1, 2) in out and (1, 3) not in out
    r = out[(1, 2)]
    assert r["cont_a_ppm"] == 1000000          # short side fully contained
    assert r["cont_b_ppm"] < 200000            # long side barely overlaps
    assert r["n_inter"] == 3                    # the 3 bigrams of the short doc


def test_bpe_pair_stats_reference(spark):
    """Pair counts weighted by word frequency match a pure-Python BPE
    first-round counter; single-char words are excluded (the
    sequence(1,0)-descends guard)."""
    from collections import Counter

    from docrawl_spark.datapipe.text import bpe_pair_stats

    docs = spark.createDataFrame(
        [(1, "aab aab x banana"), (2, "aab banana banana")],
        "doc_id long, text string",
    )
    ref = Counter()
    words = Counter("aab aab x banana aab banana banana".split())
    for w, n in words.items():
        if len(w) < 2:
            continue
        for i in range(len(w) - 1):
            ref[w[i:i+2]] += n
    got = {r["pair"]: r["pair_count"] for r in bpe_pair_stats(docs, k=50).collect()}
    assert got == dict(ref)


def test_pq_encode_reference_and_reconstruction(spark):
    """PQ codes match a pure-Python per-block argmin, and
    reconstruction error (sum of per-block dist2) is no worse than
    quantizing everything to a single fixed centroid — the compression
    actually uses the codebook."""
    from docrawl_spark.datapipe.similarity import pq_codebooks, pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_codebooks(emb, n_blocks=8, n_codes=16)
    out = pq_encode(emb, cb, n_blocks=8, n_codes=16)

    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    books = {}
    for r in cb.collect():
        books.setdefault(r["block"], {})[r["code"]] = [float(x) for x in r["cvec"]]

    def d2(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return round(s, 6)

    got = {(r["vec_id"], r["block"]): (r["code"], r["dist2"]) for r in out.collect()}
    assert len(got) == len(vecs) * 8
    for (vid, blk), (code, dist2) in got.items():
        sub = vecs[vid][blk * 8:(blk + 1) * 8]
        want = min(books[blk], key=lambda c: (d2(sub, books[blk][c]), c))
        assert code == want, (vid, blk)
        assert abs(dist2 - d2(sub, books[blk][want])) < 1e-9


def test_oov_rates_counts(spark):
    from docrawl_spark.datapipe.text import oov_rates

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a"), (3, "x y")], "doc_id long, text string"
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "token string")
    got = {r["doc_id"]: r.asDict() for r in oov_rates(docs, vocab).collect()}
    assert got[1]["n_tokens"] == 4 and got[1]["n_oov"] == 2
    assert got[1]["oov_ppm"] == 500000
    assert got[2]["n_oov"] == 0 and got[3]["oov_ppm"] == 1000000


def test_c4_line_stats_rules(spark):
    """Every C4 rule in isolation: terminal punct required, >=5 words
    required, javascript lines never kept, lorem/curly kill the doc,
    keep_doc needs >=3 retained lines; empty lines don't count."""
    from docrawl_spark.datapipe.text import c4_line_stats

    good = "alpha beta gamma delta epsilon."
    rows = [
        # doc 1: 3 good lines + chaff -> kept
        (1, f"{good}\n{good}\n{good}\nno punct line here\nshort one."),
        # doc 2: good lines but a curly brace -> killed
        (2, f"{good}\n{good}\n{good}\nconfig {{ x }}"),
        # doc 3: only 2 good lines -> not kept; javascript line dropped
        (3, f"{good}\n{good}\nenable Javascript to view this page.\n\n  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_line_stats(df).collect()}
    assert (out[1]["n_lines"], out[1]["n_kept"], out[1]["keep_doc"]) == (5, 3, True)
    assert out[1]["kept_ppm"] == 600000
    assert out[2]["has_curly"] and not out[2]["keep_doc"]
    assert out[2]["n_kept"] == 3  # retained lines counted even when doc dies
    assert (out[3]["n_lines"], out[3]["n_kept"], out[3]["keep_doc"]) == (3, 2, False)
    assert not out[3]["has_lorem"]


def test_dsir_bits_prefers_target_vocabulary(spark):
    """Docs written in the target vocabulary must score strictly higher
    than background-vocabulary docs; scores are deterministic and the
    empty-target edge doesn't divide by zero."""
    from docrawl_spark.datapipe.sampling import dsir_bits

    rows = [
        (1, "alpha beta alpha beta alpha", True),
        (2, "alpha beta beta alpha beta", True),
        (3, "zulu yankee zulu yankee zulu", False),
        (4, "alpha beta alpha yankee beta", False),  # target-looking raw doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = {r["doc_id"]: r["dsir_bits"] for r in dsir_bits(df, "is_t").collect()}
    assert out[4] > out[3], out  # mostly-target vocab beats pure background
    assert out[1] > out[3] and out[2] > out[3]
    # determinism
    out2 = {r["doc_id"]: r["dsir_bits"] for r in dsir_bits(df, "is_t").collect()}
    assert out == out2
    # empty target set: all-false flags still compute (nt=0 smoothing)
    df0 = df.select("doc_id", "text", F.lit(False).alias("is_t"))
    assert dsir_bits(df0, "is_t").count() == 4


def test_semantic_decontamination_flags_and_plan(spark):
    """An exact eval copy flags at cosine 1.0; an orthogonal vector
    never flags; the eval side is BROADCAST (the corpus must not
    shuffle into a self-join)."""
    from docrawl_spark.datapipe.dedup import semantic_decontamination

    def vec(i, dim=8):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    corpus = spark.createDataFrame(
        [(0, vec(0)), (1, vec(1)), (2, [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.05])],
        "vec_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [(100, vec(0))], "eval_id long, embedding array<double>"
    )
    out = semantic_decontamination(
        corpus, ev, threshold=0.9, n_planes=8, dim=8
    )
    rows = {(r["vec_id"], r["eval_id"]): r["cosine"] for r in out.collect()}
    assert rows[(0, 100)] == 1.0
    assert (1, 100) not in rows  # orthogonal
    # doc 2 ~ 0.99 cosine vs vec(0): flags iff its bucket is within one
    # probe bit — either way every returned pair is >= threshold
    assert all(c >= 0.9 for c in rows.values())

    plan_buf = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_buf


def test_neardup_threshold_sweep_exact(spark):
    """Hand pair set: monotone non-increasing counts, exact ppm
    boundaries (>= semantics), zero-threshold rows present, distinct
    doc_b counting."""
    from docrawl_spark.datapipe.dedup import neardup_threshold_sweep

    pairs = spark.createDataFrame(
        [
            (1, 2, 0.95),
            (1, 3, 0.7),
            (4, 3, 0.7),    # doc 3 dropped by two pairs -> counted once
            (5, 6, 0.5),
        ],
        "id_a long, id_b long, jaccard double",
    )
    out = {
        r["threshold_ppm"]: (r["n_pairs"], r["n_docs_dropped"])
        for r in neardup_threshold_sweep(
            pairs, [500000, 700000, 900000, 990000]
        ).collect()
    }
    assert out[500000] == (4, 3)   # all pairs; docs 2,3,6
    assert out[700000] == (3, 2)   # boundary inclusive (>=)
    assert out[900000] == (1, 1)
    assert out[990000] == (0, 0)   # zero row present


def test_blocklist_filter_word_boundary(spark):
    """C4 blocklist rule: exact-token hits only (no Scunthorpe
    substring matches), case-insensitive, sorted distinct hit list."""
    from docrawl_spark.datapipe.text import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "a SLOW slow train"),        # hit, case-folded, deduped
            (2, "slowly moving sloth"),      # substring only -> clean
            (3, "vector trap, slow!"),       # punctuation boundaries
            (4, ""),                         # empty doc
            (5, None),                       # null text
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["blocked"], r["n_blocked_terms"], r["blocked_terms"])
        for r in blocklist_filter(docs, ["slow", "trap", "vector"]).collect()
    }
    assert out[1] == (1, 1, "slow")
    assert out[2] == (0, 0, "")
    assert out[3] == (1, 3, "slow trap vector")
    assert out[4] == (0, 0, "")
    assert out[5] == (0, 0, "")


def test_split_domain_leakage_collapses_subdomains(spark):
    """Leakage is judged at the registrable-domain level: train docs on
    www.x.com + test docs on a.x.com leak; a domain entirely inside one
    split does not appear."""
    from docrawl_spark.datapipe.sampling import split_domain_leakage
    from docrawl_spark.functions.domains import registrable_domains, suffix_dim

    docs = spark.createDataFrame(
        [
            (1, "www.x.com", "train"),
            (2, "a.x.com", "test"),
            (3, "x.com", "train"),
            (4, "onlytrain.com", "train"),   # one-sided -> excluded
            (5, "onlytest.com", "test"),     # one-sided -> excluded
            (6, "y.co.uk", "train"),
            (7, "www.y.co.uk", "test"),
            (8, "www.y.co.uk", "test"),
        ],
        "doc_id long, host string, split string",
    )
    dmap = registrable_domains(docs.select("host"), suffix_dim(spark))
    out = {
        r["registrable_domain"]: (r["n_train"], r["n_test"], r["leak_ppm"])
        for r in split_domain_leakage(docs, dmap).collect()
    }
    assert set(out) == {"x.com", "y.co.uk"}
    assert out["x.com"] == (2, 1, 333333)
    assert out["y.co.uk"] == (1, 2, 333333)


def test_margin_mining_prefers_aligned_over_hub(spark):
    """Ratio margin mines each source's genuinely aligned target and
    returns one best pair per source; an ambiguous source (equally
    close to everything) falls below the margin threshold."""
    from docrawl_spark.datapipe.similarity import margin_mine_pairs

    rows = [
        # side 0 (sources)
        (0, 0, [1.0, 0.0, 0.0, 0.0]),
        (2, 0, [0.0, 1.0, 0.0, 0.0]),
        (4, 0, [0.0, 0.0, 0.7, 0.7]),   # ambiguous: two equal targets
        # side 1 (targets)
        (1, 1, [1.0, 0.1, 0.0, 0.0]),   # aligned with 0
        (3, 1, [0.1, 1.0, 0.0, 0.0]),   # aligned with 2
        (5, 1, [0.7, 0.7, 0.0, 0.0]),   # hub for sources 0 and 2
        (7, 1, [0.0, 0.0, 1.0, 0.1]),   # equally near source 4 ...
        (9, 1, [0.0, 0.0, 0.1, 1.0]),   # ... as this one: margin == 1
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, side int, embedding array<double>"
    )
    # n_planes=2 + probe_hamming=2 => every cross pair is a candidate:
    # the test pins the margin algebra, not LSH recall
    out = {
        r["id_a"]: (r["id_b"], r["margin_ppm"])
        for r in margin_mine_pairs(
            emb, k=2, margin_ppm_min=1_050_000,
            n_planes=2, probe_hamming=2, dim=4,
        ).collect()
    }
    assert out[0][0] == 1       # 0 -> its aligned target, not the hub
    assert out[2][0] == 3
    assert 4 not in out          # ambiguous source: margin ~1, filtered
    assert all(m >= 1_050_000 for _, m in out.values())


def test_bpe_train_merges_matches_python_reference(spark):
    """The learned merge sequence equals a pure-Python greedy BPE
    trainer (word-frequency grain, count-desc then lexicographic
    tiebreak, greedy left-to-right application within a round)."""
    from collections import Counter

    from docrawl_spark.datapipe.text import bpe_train_merges

    corpus = "low low low lower lower newest newest newest widest widest"
    docs = spark.createDataFrame([(1, corpus)], "doc_id long, text string")

    words = Counter(corpus.split())
    vocab = {w: (list(w), n) for w, n in words.items() if len(w) >= 2}
    expect = []
    for rank in range(1, 5):
        pc: Counter = Counter()
        for toks, n in vocab.values():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        expect.append((rank, a, b, c))
        for w, (toks, n) in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = (out, n)

    got = [
        (r["merge_rank"], r["left_tok"], r["right_tok"], r["pair_count"])
        for r in bpe_train_merges(docs, n_merges=4)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == expect
    # merged tokens actually fuse: a later rule consumes an earlier
    # rule's output (multi-char left or right side appears)
    assert any(len(l) > 1 or len(r) > 1 for _, l, r, _ in got)


def test_prefix_jaccard_exact_pairs_and_boundary(spark):
    """Pairs at/above threshold survive, below are pruned; counts are
    the distinct-token intersections. J(d1,d2)=3/3=1.0 ≥ 0.75;
    J(d1,d3)=3/4=0.75 boundary kept; J(d1,d4)=1/5 pruned."""
    from docrawl_spark.datapipe.dedup import prefix_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "gamma beta alpha"),
            (3, "alpha beta gamma delta"),
            (4, "alpha zz yy xx"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["jaccard_ppm"])
        for r in prefix_jaccard_pairs(docs, t_ppm=750000).collect()
    }
    assert got == {
        (1, 2): (3, 1000000),
        (1, 3): (3, 750000),
        (2, 3): (3, 750000),
    }


def test_prefix_jaccard_matches_python_brute_force(spark):
    """No-false-negative guarantee on a seeded random corpus: the
    pruned join returns EXACTLY the brute-force pair set."""
    import random

    from docrawl_spark.datapipe.dedup import prefix_jaccard_pairs

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(3, 12))))
        for i in range(1, 41)
    ]
    sets = {i: set(t.split()) for i, t in rows}
    t_ppm = 600000
    expect = set()
    for ia in sets:
        for ib in sets:
            if ia < ib:
                ni = len(sets[ia] & sets[ib])
                un = len(sets[ia] | sets[ib])
                if ni * 1000000 >= t_ppm * un:
                    expect.add((ia, ib))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_jaccard_pairs(docs, t_ppm=t_ppm).collect()
    }
    assert got == expect


def test_prefix_jaccard_plan_no_cartesian(spark):
    """Candidate generation must be an equi-join on the prefix token —
    never a cartesian or broadcast-nested-loop over docs."""
    import io
    from contextlib import redirect_stdout

    from docrawl_spark.datapipe.dedup import prefix_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i}") for i in range(1, 9)],
        "doc_id long, text string",
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        prefix_jaccard_pairs(docs).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_recall_eval_hand_case(spark):
    """Twin docs (J=1) must be both truth and candidate (recall
    contribution); a disjoint doc contributes to neither; the single
    row's metrics are exact integer ppm."""
    from docrawl_spark.datapipe.dedup import lsh_recall_eval

    base = " ".join(f"tok{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, " ".join(f"zzz{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    row = lsh_recall_eval(docs, t_ppm=500000).collect()[0]
    assert row["n_truth"] == 1 and row["n_cand"] == 1 and row["n_hit"] == 1
    assert row["precision_ppm"] == 1000000 and row["recall_ppm"] == 1000000


def test_lsh_recall_eval_empty_corpus_guarded(spark):
    """No shingle-bearing docs → all-zero counts, guarded ppm = 0 (no
    division error)."""
    from docrawl_spark.datapipe.dedup import lsh_recall_eval

    docs = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    row = lsh_recall_eval(docs).collect()[0]
    assert (
        row["n_truth"], row["n_cand"], row["n_hit"],
        row["precision_ppm"], row["recall_ppm"],
    ) == (0, 0, 0, 0, 0)


def test_bpe_encode_stats_hand_case(spark):
    """'low low lower' with 2 merges learns (l,o) then (lo,w):
    'low'→[low] (1 token), 'lower'→[low,e,r] (3 tokens); totals are
    frequency-weighted and saved_ppm is exact."""
    from docrawl_spark.datapipe.text import bpe_encode_stats

    docs = spark.createDataFrame(
        [(1, "low low lower")], "doc_id long, text string"
    )
    row = bpe_encode_stats(docs, n_merges=2).collect()[0]
    assert row["n_words_distinct"] == 2
    assert row["n_word_instances"] == 3
    assert row["chars_total"] == 2 * 3 + 5            # 11
    assert row["tokens_total"] == 2 * 1 + 3           # 5
    assert row["saved_ppm"] == (11 - 5) * 1_000_000 // 11


def test_media_caption_pairs_nearest_and_tiebreak(spark):
    """Nearest text span wins; equidistant ties go to the EARLIER
    span; captionless docs and empty-text spans drop out."""
    from pyspark.sql import Row

    from docrawl_spark.datapipe.multimodal import media_caption_pairs

    def sp(kind, text, ref, off):
        return Row(kind=kind, text=text, media_ref=ref, offset=off)

    rows = [
        # image at 10; texts at 7 and 13 — equidistant, earlier wins
        (1, [sp("text", "left", None, 7), sp("image", None, "img://a.jpg", 10),
             sp("text", "right", None, 13)]),
        # image at 50; nearest is 48 not 60; blank text ignored
        (2, [sp("text", "  ", None, 49), sp("text", "near", None, 48),
             sp("image", None, "img://b.jpg", 50), sp("text", "far", None, 60)]),
        # no text spans at all -> no pair
        (3, [sp("image", None, "img://c.jpg", 5)]),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = {
        (r["doc_id"], r["media_ref"]): (r["caption"], r["gap"])
        for r in media_caption_pairs(df).collect()
    }
    assert got == {
        (1, "img://a.jpg"): ("left", 3),
        (2, "img://b.jpg"): ("near", 2),
    }


def test_lsh_probe_index_cross_side_equivalence(spark, docs_df):
    """probe(new, index(corpus)) == the cross-side subset of the full
    self-join candidates on the union — the incremental path finds
    exactly what the batch path would, without the corpus self-join.
    Self-matches (a batch already merged into the index) are dropped."""
    from docrawl_spark.datapipe.dedup import (
        lsh_probe_index,
        minhash_band_index,
        minhash_lsh_pairs,
    )
    from pyspark.sql import functions as F

    corpus = docs_df.where(F.col("doc_id") % 3 != 0)
    new = docs_df.where(F.col("doc_id") % 3 == 0)
    idx = minhash_band_index(corpus, n_hashes=8, n_bands=4, hash_mode="md5hex")
    got = {
        (r["new_id"], r["corpus_id"])
        for r in lsh_probe_index(
            new, idx, n_hashes=8, n_bands=4, hash_mode="md5hex"
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs_df, n_hashes=8, n_bands=4, hash_mode="md5hex"
        ).collect()
    }
    want = {
        (a, b) for (a, b) in full | {(b, a) for (a, b) in full}
        if a % 3 == 0 and b % 3 != 0
    }
    assert got == want
    # probing the index with its own corpus yields no self-matches
    self_probe = lsh_probe_index(
        corpus, idx, n_hashes=8, n_bands=4, hash_mode="md5hex"
    )
    assert self_probe.where("new_id = corpus_id").count() == 0


def test_host_novelty_rates_hand_docs(spark):
    """Host A's batch repeats corpus text (novelty 0); host B is brand
    new (novelty 1e6); host C mixes; a sub-k-token host is omitted."""
    from docrawl_spark.datapipe.dedup import host_novelty_rates

    corpus = spark.createDataFrame(
        [("x", "old", "one two three four")],
        "doc_id string, host string, text string",
    )
    new = spark.createDataFrame(
        [
            ("a1", "a.test", "one two three four"),   # all shingles known
            ("b1", "b.test", "five six seven eight"), # all new
            ("c1", "c.test", "one two three nine"),   # 1 known, 1 new
            ("d1", "d.test", "one two"),              # < k tokens: omitted
        ],
        "doc_id string, host string, text string",
    )
    got = {
        r["host"]: (r["n_shingles"], r["new_shingles"], r["novelty_ppm"])
        for r in host_novelty_rates(new, corpus).collect()
    }
    assert got == {
        "a.test": (2, 0, 0),
        "b.test": (2, 2, 1_000_000),
        "c.test": (2, 1, 500_000),
    }


def test_minhash_calibration_identical_and_disjoint(spark):
    """Identical docs agree on every slot (est = exact = 1e6);
    disjoint docs (forced in as a candidate) estimate near 0 and have
    exact 0."""
    from docrawl_spark.datapipe.dedup import minhash_estimate_calibration

    docs = spark.createDataFrame(
        [
            (1, "one two three four five"),
            (2, "one two three four five"),
            (3, "apple banana cherry date elder"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["n_agree"], r["est_ppm"], r["exact_ppm"])
        for r in minhash_estimate_calibration(
            docs, pairs, n_hashes=8, hash_mode="md5hex"
        ).collect()
    }
    assert got[(1, 2)] == (8, 1_000_000, 1_000_000)
    n13, est13, ex13 = got[(1, 3)]
    assert n13 == 0 and est13 == 0 and ex13 == 0


def test_sorted_neighborhood_pairs_window_and_blocks(spark):
    """Within a block, each record pairs with its w-1 successors in
    (key, id) order; pairs never cross block boundaries."""
    from pyspark.sql import functions as SF

    from docrawl_spark.datapipe.dedup import sorted_neighborhood_pairs

    docs = spark.createDataFrame(
        [
            (1, "aa-one"),
            (2, "aa-two"),
            (3, "aa-three"),
            (4, "ab-other"),   # different block ('ab' vs 'aa')
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            docs, SF.col("text"), window=2, block_chars=2
        ).collect()
    }
    # sort order within block 'aa' by full key: aa-one < aa-three < aa-two
    assert got == {(1, 3), (3, 2)}
    wide = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            docs, SF.col("text"), window=3, block_chars=2
        ).collect()
    }
    assert wide == {(1, 3), (1, 2), (3, 2)}


def test_near_dedup_best_prefers_quality_then_min_id(spark):
    from docrawl_spark.datapipe.dedup import near_dedup, near_dedup_best

    dup = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, dup, 10),   # near-dup cluster {1,2}: 2 has higher quality
            (2, dup, 50),
            (3, "completely unrelated singleton text with unique words", 1),
            (4, "another shared body of duplicated text tokens here", 7),
            (5, "another shared body of duplicated text tokens here", 7),
        ],
        "doc_id long, text string, q int",
    )
    kept = {
        r["doc_id"]
        for r in near_dedup_best(
            docs, quality_col="q", n_hashes=8, n_bands=4, hash_mode="md5hex"
        ).collect()
    }
    # highest quality wins in {1,2}; equal quality falls back to min id
    # in {4,5}; the singleton is untouched
    assert kept == {2, 3, 4}
    # contrast with the blind min-id rule
    blind = {
        r["doc_id"]
        for r in near_dedup(
            docs, n_hashes=8, n_bands=4, hash_mode="md5hex"
        ).collect()
    }
    assert blind == {1, 3, 4}


def test_vocab_growth_curve_hand(spark):
    from docrawl_spark.datapipe.text import vocab_growth_curve

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "b c"), (2, "a d"), (3, "")],
        "doc_id long, text string",
    )
    rows = {
        r["batch"]: r
        for r in vocab_growth_curve(docs, batch_size=2).collect()
    }
    b0, b1 = rows[0], rows[1]
    assert (b0["n_docs"], b0["token_instances"], b0["new_types"]) == (2, 4, 3)
    assert (b0["cum_types"], b0["cum_instances"]) == (3, 4)
    # batch 1: only 'd' is new; the empty doc adds no instances
    assert (b1["n_docs"], b1["token_instances"], b1["new_types"]) == (2, 2, 1)
    assert (b1["cum_types"], b1["cum_instances"]) == (4, 6)


def test_char_run_stats_hand(spark):
    from docrawl_spark.datapipe.text import char_run_stats

    docs = spark.createDataFrame(
        [(1, "aaab cc"), (2, "x1y2"), (3, ""), (4, "!!!!!!")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in char_run_stats(docs).collect()}
    r1 = rows[1]
    assert (r1["n_chars"], r1["max_run"]) == (7, 3)
    assert r1["letter_ppm"] == 1_000_000 * 6 // 7
    assert r1["space_ppm"] == 1_000_000 * 1 // 7
    assert (r1["digit_ppm"], r1["other_ppm"]) == (0, 0)
    r2 = rows[2]
    assert (r2["max_run"], r2["digit_ppm"], r2["letter_ppm"]) == (
        1, 500_000, 500_000,
    )
    # empty doc: all zeros, no division
    assert tuple(rows[3])[1:] == (0, 0, 0, 0, 0, 0)
    # punctuation-only: the run detector and 'other' class
    assert (rows[4]["max_run"], rows[4]["other_ppm"]) == (6, 1_000_000)


def test_events_mad_outliers_hand(spark, tmp_path):
    from docrawl_spark.plans.driver_queries import q_events_mad_outliers

    spark.createDataFrame(
        [("a", 1.00), ("a", 1.00), ("a", 1.00), ("a", 1.00), ("a", 100.00),
         ("b", 1.00), ("b", 2.00), ("b", 3.00), ("b", 4.00)],
        "event_type string, value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    rows = {
        r["event_type"]: r
        for r in q_events_mad_outliers(spark, str(tmp_path)).collect()
    }
    a = rows["a"]
    # median 1.00, MAD 0 (>=3 of 5 at the median) — the 100.00 spike is
    # the single |x-med| > 0 outlier
    assert (a["med_micro"], a["mad_micro"], a["n_outliers"]) == (
        1_000_000, 0, 1,
    )
    b = rows["b"]
    # even n: median 2.5 (exact midpoint), MAD 1.0, no 3-MAD outliers
    assert (b["med_micro"], b["mad_micro"], b["n_outliers"]) == (
        2_500_000, 1_000_000, 0,
    )
    assert (a["n_events"], b["n_events"]) == (5, 4)


def test_events_funnel_and_transitions_hand(spark, tmp_path):
    from datetime import datetime as DT

    from docrawl_spark.plans.driver_queries import (
        q_events_funnel,
        q_events_transitions,
    )

    t = lambda m: DT(2024, 1, 1, 0, m)
    spark.createDataFrame(
        [
            # user 1 completes the funnel in order
            (1, 1, "view", t(1)), (2, 1, "click", t(2)), (3, 1, "purchase", t(3)),
            # user 2: click BEFORE the first view only — fails step 2
            (4, 2, "click", t(1)), (5, 2, "view", t(3)),
            # user 3: purchase ties click's ts (not strictly after) —
            # fails step 3; event_id breaks the transition order
            (6, 3, "view", t(1)), (7, 3, "click", t(2)), (8, 3, "purchase", t(2)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).write.parquet(str(tmp_path / "events.parquet"))

    funnel = {
        r["step"]: r["n_users"]
        for r in q_events_funnel(spark, str(tmp_path)).collect()
    }
    assert funnel == {1: 3, 2: 2, 3: 1}

    trans = {
        (r["src_type"], r["dst_type"]): (r["n_transitions"], r["n_users"])
        for r in q_events_transitions(spark, str(tmp_path)).collect()
    }
    assert trans == {
        ("view", "click"): (2, 2),
        ("click", "purchase"): (2, 2),
        ("click", "view"): (1, 1),
    }


def test_with_ntile_bucket_rule(spark):
    from docrawl_spark.operators.ranking import with_ntile

    df = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 8)], "id long, v long"
    )
    got = {
        r["id"]: r["bucket"]
        for r in with_ntile(df, ["v", "id"], k=3).collect()
    }
    # N=7, k=3: sizes 3,2,2 (first N mod k buckets take the ceil)
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 3, 7: 3}
    tiny = spark.createDataFrame([(1, 5), (2, 9)], "id long, v long")
    got2 = {
        r["id"]: r["bucket"]
        for r in with_ntile(tiny, ["v", "id"], k=5).collect()
    }
    # N < k: one row per bucket, no zero-size division
    assert got2 == {1: 1, 2: 2}


def test_retention_grouping_sets_moving_sum_hand(spark, tmp_path):
    from datetime import datetime as DT

    from docrawl_spark.plans.driver_queries import (
        q_events_grouping_sets,
        q_events_moving_sum,
        q_events_retention,
    )

    d = lambda day, h=0: DT(2024, 1, day, h)
    spark.createDataFrame(
        [
            # user 1: two events on day 1 (dedup to one active mark) + day 3
            (1, 1, "view", d(1, 1)), (2, 1, "click", d(1, 2)), (3, 1, "view", d(3)),
            # user 2: day 2 only
            (4, 2, "view", d(2)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).write.parquet(str(tmp_path / "events.parquet"))

    ret = {
        (r["cohort_day"].day, r["offset_days"]): r["n_active_users"]
        for r in q_events_retention(spark, str(tmp_path)).collect()
    }
    assert ret == {(1, 0): 1, (1, 2): 1, (2, 0): 1}

    gs = q_events_grouping_sets(spark, str(tmp_path)).collect()
    by_gid = {}
    for r in gs:
        by_gid.setdefault(r["gid"], []).append(r)
    # gid 1 = by-day (type grouped away), gid 2 = by-type, gid 3 = total
    assert {r["day"].day: r["n_events"] for r in by_gid[1]} == {1: 2, 2: 1, 3: 1}
    assert {r["event_type"]: r["n_events"] for r in by_gid[2]} == {
        "view": 3, "click": 1,
    }
    assert [r["n_events"] for r in by_gid[3]] == [4]

    mov = {
        (r["event_type"], r["day"].day): r["n_7d"]
        for r in q_events_moving_sum(spark, str(tmp_path)).collect()
    }
    # view: day1 n=1, day2 n=1, day3 n=1 → running 1,2,3 within the frame
    assert mov[("view", 1)] == 1 and mov[("view", 2)] == 2
    assert mov[("view", 3)] == 3 and mov[("click", 1)] == 1


def test_sample_k_per_group_exact_and_deterministic(spark):
    from docrawl_spark.datapipe.sampling import sample_k_per_group

    df = spark.createDataFrame(
        [(i, "big" if i < 20 else "small") for i in range(23)],
        "doc_id long, grp string",
    )
    out = sample_k_per_group(df, "grp", k=5, id_col="doc_id")
    got = {}
    for r in out.collect():
        got.setdefault(r["grp"], set()).add(r["doc_id"])
    assert len(got["big"]) == 5          # exactly k from the large group
    assert got["small"] == {20, 21, 22}  # undersized group keeps all
    # deterministic under repartitioning and salt count
    again = sample_k_per_group(
        df.repartition(7), "grp", k=5, id_col="doc_id", n_salts=3
    )
    got2 = {}
    for r in again.collect():
        got2.setdefault(r["grp"], set()).add(r["doc_id"])
    assert got2 == got


def test_session_associations_hand(spark, tmp_path):
    from datetime import datetime as DT

    from docrawl_spark.plans.driver_queries import q_session_associations

    t = lambda m: DT(2024, 1, 1, 0, m)
    # 3 sessions (distinct users, no gaps): {view,click}, {view}, {view,click}
    spark.createDataFrame(
        [
            (1, 1, "view", t(0)), (2, 1, "click", t(1)),
            (3, 2, "view", t(0)),
            (4, 3, "view", t(0)), (5, 3, "click", t(1)), (6, 3, "click", t(2)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).write.parquet(str(tmp_path / "events.parquet"))
    rows = {
        (r["antecedent"], r["consequent"]): r
        for r in q_session_associations(spark, str(tmp_path)).collect()
    }
    vc = rows[("view", "click")]
    assert (vc["n_both"], vc["support_ppm"], vc["confidence_ppm"]) == (
        2, 666_666, 666_666,
    )
    cv = rows[("click", "view")]
    # click appears in 2 sessions, always with view: confidence 100%
    assert cv["confidence_ppm"] == 1_000_000
    # lift = n_both*N / (n_a*n_b) = 2*3/(3*2) = 1.0 exactly
    assert vc["lift_ppm"] == 1_000_000 and cv["lift_ppm"] == 1_000_000


def test_label_centroid_sim_hand(spark, tmp_path):
    from docrawl_spark.plans.driver_queries import q_label_centroid_sim

    spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0),   # label 0 → x axis
            (3, [0.0, 2.0], 1),                        # label 1 → y axis
            (4, [3.0, 3.0], 2),                        # label 2 → diagonal
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        (r["label_a"], r["label_b"]): r["cosine"]
        for r in q_label_centroid_sim(spark, str(tmp_path)).collect()
    }
    assert got[(0, 1)] == 0.0
    assert abs(got[(0, 2)] - 0.707107) < 1e-6
    assert abs(got[(1, 2)] - 0.707107) < 1e-6


def test_near_dedup_best_raises_on_unpackable_ids(spark):
    from docrawl_spark.datapipe.dedup import near_dedup_best

    dup = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(-5, dup, 10), (2, dup, 50)],  # negative id cannot pack
        "doc_id long, text string, q int",
    )
    with pytest.raises(Exception, match="unpackable"):
        near_dedup_best(
            docs, quality_col="q", n_hashes=8, n_bands=4, hash_mode="md5hex"
        ).collect()


def test_events_attribution_hand(spark, tmp_path):
    from datetime import datetime as DT

    from docrawl_spark.plans.driver_queries import q_events_attribution

    t = lambda m: DT(2024, 1, 1, 0, m)
    spark.createDataFrame(
        [
            # user 1: view -> click -> purchase: first=view, last=click
            (1, 1, "view", t(1)), (2, 1, "click", t(2)),
            (3, 1, "purchase", t(3)),
            # user 1 buys again after another view: first STAYS view
            # (journey-long carry), last becomes view
            (4, 1, "view", t(4)), (5, 1, "purchase", t(5)),
            # user 2: purchase with no preceding touch -> 'none'
            (6, 2, "purchase", t(1)), (7, 2, "view", t(2)),
            # user 3: ts tie between touch and purchase — event_id
            # orders the carry (click@id8 precedes purchase@id9)
            (8, 3, "click", t(1)), (9, 3, "purchase", t(1)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        (r["model"], r["touch_type"]): r["n_conversions"]
        for r in q_events_attribution(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("first", "view"): 2,   # user 1 twice
        ("first", "none"): 1,   # user 2
        ("first", "click"): 1,  # user 3
        ("last", "click"): 2,   # user 1 first purchase, user 3
        ("last", "view"): 1,    # user 1 second purchase
        ("last", "none"): 1,    # user 2
    }


def test_luhn_pan_audit_known_numbers(spark, plan_of):
    """Classic test PANs: 4111111111111111 (Visa) and 378282246310005
    (Amex) pass Luhn, a last-digit twiddle fails it; separators are
    stripped before validation; an 8-digit run never becomes a
    candidate; docs with no candidates emit no row. Plan: explode ->
    HashAggregate, no window, no cartesian."""
    from docrawl_spark.datapipe.text import luhn_pan_audit

    rows = [
        (1, "pay 4111-1111-1111-1111 now"),            # valid, dashed
        (2, "amex 378282246310005 ok"),                 # valid, bare
        (3, "bad 4111 1111 1111 1112 here"),            # checksum fails
        (4, "two 4111111111111111 and 378282246310006"),  # 1 of 2 valid
        (5, "short 12345678 only"),                     # below the floor
        (6, None),                                      # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in luhn_pan_audit(df).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert (out[1]["n_pan_candidates"], out[1]["n_pan_valid"]) == (1, 1)
    assert (out[2]["n_pan_candidates"], out[2]["n_pan_valid"]) == (1, 1)
    assert (out[3]["n_pan_candidates"], out[3]["n_pan_valid"]) == (1, 0)
    assert (out[4]["n_pan_candidates"], out[4]["n_pan_valid"]) == (2, 1)

    plan = plan_of(luhn_pan_audit(df))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_triplet_mining_picks_best_pos_and_hardest_neg(spark):
    """Per anchor: highest-cosine same-label candidate as positive,
    highest-cosine different-label as hard negative, margin flag set
    exactly when neg_cos + 0.2e6 > pos_cos. n_planes=2 +
    probe_hamming=2 makes every pair a candidate — the test pins the
    selection algebra, not LSH recall."""
    from docrawl_spark.datapipe.similarity import triplet_mining

    rows = [
        (0, 1, [1.0, 0.0, 0.0, 0.0]),   # anchor under test
        (1, 1, [1.0, 0.2, 0.0, 0.0]),   # same label, cos ~ .981  <- pos
        (2, 1, [0.0, 1.0, 0.0, 0.0]),   # same label, cos 0
        (3, 2, [1.0, 0.5, 0.0, 0.0]),   # diff label, cos ~ .894  <- neg
        (4, 2, [0.0, 0.0, 1.0, 0.0]),   # diff label, cos 0
        (5, None, [1.0, 0.0, 0.0, 0.0]),  # unlabeled: excluded entirely
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = {
        r["anchor_id"]: r
        for r in triplet_mining(
            emb, n_planes=2, probe_hamming=2, dim=4
        ).collect()
    }
    assert 5 not in out
    a = out[0]
    assert (a["pos_id"], a["neg_id"]) == (1, 3)
    assert a["pos_cos_ppm"] > 980000 and 890000 < a["neg_cos_ppm"] < 900000
    # neg (.894) + .2 > pos (.981): violation
    assert a["violates_margin"] == 1
    # anchor 4: pos is the orthogonal 3 (cos 0), negs are all cos 0
    # except... every other vector has cos 0 with e3 -> no violation
    # margin: 0 + 200000 > 0 -> violates. Check flag logic directly:
    assert out[4]["violates_margin"] == 1
    # tie-break: anchor 2's negatives 3 and 4 — cos(2,3) ~ .447 beats
    # cos(2,4)=0, so neg is 3 (higher cosine, not lower id 4).
    assert out[2]["neg_id"] == 3


# ----------------------------------------------------------- PPS sampling


def test_pps_sample_telescoping_and_heavy_rows(spark):
    """Sum of n_hits per group telescopes to total_weight div step
    exactly; rows with w >= step are always selected; zero-weight rows
    never are; deterministic across invocations."""
    from docrawl_spark.datapipe.sampling import pps_systematic_sample

    rows = (
        [("g1", i, 500) for i in range(10)]          # total 5000
        + [("g1", 100, 5000)]                         # heavy row
        + [("g1", 101, 0)]                            # zero weight
        + [("g2", i, 300) for i in range(200, 207)]   # total 2100
    )
    df = spark.createDataFrame(rows, "src string, id long, w long")
    out = pps_systematic_sample(df, "src", "id", "w", step=1000).collect()
    hits = {}
    for r in out:
        hits[r["src"]] = hits.get(r["src"], 0) + r["n_hits"]
        assert r["n_hits"] >= 1
    assert hits["g1"] == 10000 // 1000  # telescoped exactly
    assert hits["g2"] == 2100 // 1000
    ids_g1 = {r["id"] for r in out if r["src"] == "g1"}
    assert 100 in ids_g1       # heavy row always in
    assert 101 not in ids_g1   # zero-weight row never in
    heavy = next(r for r in out if r["id"] == 100)
    assert heavy["n_hits"] in (5, 6)  # w=5*step covers 5 +- alignment

    again = pps_systematic_sample(df, "src", "id", "w", step=1000).collect()
    assert sorted((r["src"], r["id"]) for r in again) == sorted(
        (r["src"], r["id"]) for r in out
    )


def test_pps_sample_rejects_bad_step(spark):
    from docrawl_spark.datapipe.sampling import pps_systematic_sample
    import pytest as _pt

    df = spark.createDataFrame([("g", 1, 1)], "src string, id long, w long")
    with _pt.raises(ValueError):
        pps_systematic_sample(df, "src", "id", "w", step=0)
