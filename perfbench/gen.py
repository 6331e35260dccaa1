"""Seeded input generator for the crawl-engine benchmark.

Every pseudo-random choice is an integer formula over a row id, written
once against a tiny ops adapter so the SAME formula runs JVM-side (Spark
Columns over ``spark.range``, the inputs the engine receives) and
driver-side (NumPy arrays, the model the output checks compare against).
The model never builds a url string or calls an engine function, so the
expected dedup / seen / budget counts are independent of the engine's
canonicalization, hashing and scheduling.

Wave inputs (``wave_skew``): link ``i`` points at target
``t(i)``; a target lives on one host and has one canonical url
``https://site{h}.test/a/{p|x}{t}``. The link's text form (path-relative,
``../``-relative, domain-relative, absolute) varies per link but always
resolves to that url, so within-wave duplicates are exactly the links
sharing a target. ``x`` paths are robots-blocked on every tenth host.
The seen set is drawn from the same target space.

Crawl corpus (``crawl_multiwave``): doc ``d`` lives on host ``d % H`` at
``https://site{h}.test/a/d{d}`` and carries ``links_per_doc`` link spans;
some point past the corpus (404s), most stay on-host.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_M31 = 1 << 31
_A = 2654435761
_B = 1597334677
_P = 1_000_003  # prime: a permutation step for any target count below it


class NumpyOps:
    shr = staticmethod(np.right_shift)
    where = staticmethod(np.where)


class SqlOps:
    @staticmethod
    def shr(c, n):
        from pyspark.sql import functions as F

        return F.shiftright(c, n)

    @staticmethod
    def where(cond, a, b):
        from pyspark.sql import functions as F

        return F.when(cond, a).otherwise(b)


def mix(x, salt: int, ops):
    """31-bit integer hash: multiply, rotate, multiply. Every product
    stays below 2^63, so Spark's ANSI overflow checks never fire, and
    NumPy int64 gives bit-identical values."""
    y = ((x + salt) * _A) % _M31
    y = ops.shr(y, 13) + (y % 8192) * 262144
    return (y * _B) % _M31


def salts(seed: int) -> dict[str, int]:
    names = ("t", "hot", "hh", "hc", "x", "seen", "form", "parent",
             "same", "tgt", "xtgt", "miss", "style")
    return {
        n: (seed * 1_000_003 + (k + 1) * 7_919_191) % (1 << 30)
        for k, n in enumerate(names)
    }


# ---------------------------------------------------------------------------
# Frontier waves
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class WaveSpec:
    n_links: int
    n_hosts: int
    dup: float                  # mean links per distinct target
    seen_share: float           # share of targets pre-seen
    forms: tuple[int, int, int, int]  # % path-rel, ../-rel, domain-rel, absolute
    budget: int                 # per-host politeness budget
    hot_host_frac: float = 0.01
    hot_link_share: float = 0.5
    blocked_pct: int = 5        # % of targets with a robots-blocked path
    robots_every: int = 10      # every tenth host publishes "/a/x"

    @property
    def n_targets(self) -> int:
        n = max(1, int(self.n_links / self.dup))
        if n % _P == 0:
            raise ValueError(f"n_targets={n} is a multiple of the permutation step")
        return n

    @property
    def n_hot(self) -> int:
        return max(1, int(self.n_hosts * self.hot_host_frac))


def target_of_link(i, spec: WaveSpec, s: dict, ops):
    """Each block of ``n_targets`` consecutive links is a permutation of
    the targets, so every target gets ``dup`` links (give or take one)."""
    return (i * _P + s["t"]) % spec.n_targets


def host_of_target(t, spec: WaveSpec, s: dict, ops):
    hot = mix(t, s["hot"], ops) % 1_000_000 < int(spec.hot_link_share * 1_000_000)
    n_cold = max(1, spec.n_hosts - spec.n_hot)
    return ops.where(
        hot, mix(t, s["hh"], ops) % spec.n_hot, spec.n_hot + mix(t, s["hc"], ops) % n_cold
    )


def x_path(t, spec: WaveSpec, s: dict, ops):
    return mix(t, s["x"], ops) % 100 < spec.blocked_pct


def is_seen(t, spec: WaveSpec, s: dict, ops):
    return mix(t, s["seen"], ops) % 1_000_000 < int(spec.seen_share * 1_000_000)


def form_of_link(i, s: dict, ops):
    return mix(i, s["form"], ops) % 100


def robots_blob(host_id: int, robots_every: int) -> str:
    return "/a/x" if host_id % robots_every == 0 else ""


def _host_str(h):
    from pyspark.sql import functions as F

    return F.concat(F.lit("site"), h.cast("string"), F.lit(".test"))


def _target_url(t, h, spec: WaveSpec, s: dict):
    from pyspark.sql import functions as F

    name = F.concat(
        F.when(x_path(t, spec, s, SqlOps), F.lit("x")).otherwise(F.lit("p")),
        t.cast("string"),
    )
    return name, F.concat(F.lit("https://"), _host_str(h), F.lit("/a/"), name)


def wave_links_df(spark, spec: WaveSpec, seed: int):
    """The discovered-link stream the engine canonicalizes:
    (discovered_by, media_ref, parent_rank, offset, depth). parent_rank
    is the link id, so keep-first order == link id order."""
    from pyspark.sql import functions as F

    s = salts(seed)
    i = F.col("id")
    t = target_of_link(i, spec, s, SqlOps)
    h = host_of_target(t, spec, s, SqlOps)
    name, url = _target_url(t, h, spec, s)
    origin = F.concat(F.lit("https://"), _host_str(h))
    parent = F.concat(
        origin, F.lit("/a/d"), (mix(i, s["parent"], SqlOps) % 997).cast("string")
    )
    form = form_of_link(i, s, SqlOps)
    f_rel, f_dot, f_dom, _ = spec.forms
    # path-relative refs resolve against the parent's full path
    # (reference semantics: no last-segment drop), so they hang off "/a"
    ref = (
        F.when(form < f_rel, name)
        .when(form < f_rel + f_dot, F.concat(F.lit("../"), name))
        .when(form < f_rel + f_dot + f_dom, F.concat(F.lit("/a/"), name))
        .otherwise(url)
    )
    base = F.when(form < f_rel, F.concat(origin, F.lit("/a"))).otherwise(parent)
    return spark.range(spec.n_links).select(
        base.alias("discovered_by"),
        ref.alias("media_ref"),
        i.alias("parent_rank"),
        (i % 31).cast("int").alias("offset"),
        F.lit(1).alias("depth"),
    )


def wave_seen_df(spark, spec: WaveSpec, seed: int):
    """(url_hash, host_hash) of the pre-seen targets' urls."""
    from pyspark.sql import functions as F

    s = salts(seed)
    t = F.col("id")
    h = host_of_target(t, spec, s, SqlOps)
    _, url = _target_url(t, h, spec, s)
    return (
        spark.range(spec.n_targets)
        .where(is_seen(t, spec, s, SqlOps))
        .select(F.xxhash64(url).alias("url_hash"), F.xxhash64(_host_str(h)).alias("host_hash"))
    )


def hosts_df(spark, n_hosts: int, budget: int, robots_every: int = 10):
    from pyspark.sql import functions as F

    h = F.col("id")
    return spark.range(n_hosts).select(
        _host_str(h).alias("host"),
        F.lit(1.0).alias("crawl_delay"),
        F.lit(budget).alias("budget"),
        F.when(h % robots_every == 0, F.lit("/a/x")).otherwise(F.lit("")).alias("robots_blob"),
        F.xxhash64(_host_str(h)).alias("host_hash"),
    )


@dataclass
class WaveExpectation:
    n_links: int
    n_gated: int        # links whose target is not robots-blocked
    n_deduped: int      # distinct allowed targets
    n_unseen: int       # ... not in the seen set
    targets: np.ndarray  # selected target ids in expected rank order
    hosts: np.ndarray    # their host ids

    @property
    def n_selected(self) -> int:
        return len(self.targets)


def expected_wave(spec: WaveSpec, seed: int) -> WaveExpectation:
    """The wave's expected outcome from the integer model alone: robots
    gate, keep-first dedup (first link id per target), seen anti-join,
    per-host budget in link-id order, global rank in link-id order."""
    s = salts(seed)
    ops = NumpyOps
    i = np.arange(spec.n_links, dtype=np.int64)
    t = target_of_link(i, spec, s, ops)
    h_of_t = host_of_target(t, spec, s, ops)
    blocked = x_path(t, spec, s, ops) & (h_of_t % spec.robots_every == 0)
    t_ok, i_ok = t[~blocked], i[~blocked]
    targets, first = np.unique(t_ok, return_index=True)
    keys = i_ok[first]
    unseen = ~is_seen(targets, spec, s, ops)
    targets, keys = targets[unseen], keys[unseen]
    hosts = host_of_target(targets, spec, s, ops)
    order = np.lexsort((keys, hosts))
    hs = hosts[order]
    starts = np.r_[0, np.flatnonzero(np.diff(hs)) + 1]
    within = np.arange(len(hs)) - np.repeat(starts, np.diff(np.r_[starts, len(hs)]))
    chosen = order[within < spec.budget]
    ranked = chosen[np.argsort(keys[chosen], kind="stable")]
    return WaveExpectation(
        n_links=spec.n_links,
        n_gated=int(len(t_ok)),
        n_deduped=int(len(unseen)),
        n_unseen=int(unseen.sum()),
        targets=targets[ranked],
        hosts=hosts[ranked],
    )


def predicted_shares(spec: WaveSpec) -> dict[str, float]:
    """Shares the spec aims at, from its parameters alone: ``dup`` links
    per target, the seen share, the hot-host share of links."""
    return {
        "keep_ratio": 1.0 / spec.dup,
        "hit_ratio": spec.seen_share,
        "hot_link_share": spec.hot_link_share,
    }


# ---------------------------------------------------------------------------
# Crawl corpus
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CrawlSpec:
    n_docs: int                 # multiple of n_hosts
    n_hosts: int
    budget: int
    waves: int
    links_per_doc: int = 16
    same_host_pct: int = 70
    missing_pct: int = 5        # links past the corpus: fetched as 404

    @property
    def docs_per_host(self) -> int:
        return self.n_docs // self.n_hosts


def link_target(d, j, spec: CrawlSpec, s: dict, ops):
    """Target doc id of span ``j`` of doc ``d``, and whether it stays
    on ``d``'s host."""
    k = d * spec.links_per_doc + j
    same = mix(k, s["same"], ops) % 100 < spec.same_host_pct
    on_host = d % spec.n_hosts + spec.n_hosts * (mix(k, s["tgt"], ops) % spec.docs_per_host)
    t = ops.where(same, on_host, mix(k, s["xtgt"], ops) % spec.n_docs)
    missing = mix(k, s["miss"], ops) % 100 < spec.missing_pct
    return ops.where(missing, t + spec.n_docs, t), same


def corpus_dfs(spark, spec: CrawlSpec, seed: int):
    """(documents, hosts, seeds) frames: documents carry
    ``links_per_doc`` link spans; same-host links alternate between
    ``../`` and domain-relative refs, cross-host links are absolute;
    one seed per host (its first doc)."""
    from pyspark.sql import functions as F

    s = salts(seed)
    d = F.col("id")

    def span(j):
        t, same = link_target(d, j.cast("long"), spec, s, SqlOps)
        k = d * spec.links_per_doc + j
        th = t % spec.n_hosts
        name = F.concat(F.lit("d"), t.cast("string"))
        style = mix(k, s["style"], SqlOps) % 2 == 0
        ref = (
            F.when(same & style, F.concat(F.lit("../"), name))
            .when(same, F.concat(F.lit("/a/"), name))
            .otherwise(F.concat(F.lit("https://"), _host_str(th), F.lit("/a/"), name))
        )
        return F.struct(
            F.lit("link").alias("kind"),
            F.lit("").alias("text"),
            ref.alias("media_ref"),
            j.alias("offset"),
        )

    def doc_url(x):
        return F.concat(
            F.lit("https://"), _host_str(x % spec.n_hosts), F.lit("/a/d"), x.cast("string")
        )

    docs = spark.range(spec.n_docs).select(
        doc_url(d).alias("doc_id"),
        F.transform(F.sequence(F.lit(0), F.lit(spec.links_per_doc - 1)), span).alias("spans"),
    )
    hosts = hosts_df(spark, spec.n_hosts, spec.budget).withColumn(
        "robots_blob",
        F.when(F.col("robots_blob") != "", F.lit("/a/d1")).otherwise(F.lit("")),
    )
    seeds = spark.range(spec.n_hosts).select(
        doc_url(F.col("id")).alias("url"), F.col("id").cast("int").alias("seed_order")
    )
    return docs, hosts, seeds
