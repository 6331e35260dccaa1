"""URL normalization keys for the library queries — beyond the
reference's ``build_abs_url`` (``functions/canon``): the dedup key that
strips click-tracking noise, RFC 3986 percent-encoding normalization,
and the SURT sort key. The crawl engine runs none of them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import host_of_col

# Unambiguous click-tracking params ONLY. 'ref' is deliberately NOT
# here: ?ref= is frequently content-selecting (branch refs, product
# refs) — collapsing it would permanently skip distinct pages.
_TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid)="


def dedup_normalize_url_col(url: Column | str) -> Column:
    """URL normalization for the seen-set / dedup key (beyond the
    reference's build_abs_url): drop the fragment, strip tracking
    query params (utm_*, fbclid, gclid, msclkid, mc_eid, igshid),
    sort the surviving params (param order never changes the
    resource), lowercase scheme+host, and drop a now-empty '?'.

    Two URLs that differ only in click-tracking noise map to one
    frontier key — at crawl scale this collapses a large fraction of
    social/newsletter inlinks. Pure JVM exprs: the per-row arrays are
    a handful of params, so the interpreted array filter/sort is
    negligible next to a shuffle (the explode→agg reshape only pays
    off for big arrays — BENCH.md's HOF lesson is about 100+-element
    hash pipelines, not 3-element param lists)."""
    c = F.col(url) if isinstance(url, str) else url
    no_frag = F.regexp_extract(c, r"^([^#]*)", 1)
    pre = F.regexp_extract(no_frag, r"^([^?]*)", 1)
    query = F.regexp_extract(no_frag, r"^[^?]*\?(.*)$", 1)
    # lowercase scheme://host, keep path verbatim
    scheme_host = F.regexp_extract(pre, r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*)", 1)
    path = F.substring(pre, F.length(scheme_host) + 1, 1 << 30)
    pre_norm = F.when(
        scheme_host == "", pre
    ).otherwise(F.concat(F.lower(scheme_host), path))
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
        )
    )
    qs = F.array_join(kept, "&")
    return F.when(qs == "", pre_norm).otherwise(F.concat(pre_norm, F.lit("?"), qs))


def percent_normalize_col(url: Column | str) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization — the
    canonicalization gap :func:`dedup_normalize_url_col` leaves open:
    ``%2e`` vs ``%2E`` vs a literal ``.`` are the SAME resource, and a
    frontier keyed on the raw string fetches it up to three times.

    Per §6.2.2.1–2: decode escapes of UNRESERVED characters
    (ALPHA / DIGIT / ``-._~``) to the literal; uppercase the hex of
    every other escape; pass malformed escapes (non-hex, truncated)
    through untouched. Pure split + bounded per-row transform (a URL
    carries a handful of escapes — not a corpus-shaped HOF hot path);
    identical algebra in the DuckDB oracle.
    """
    c = F.col(url) if isinstance(url, str) else url
    parts = F.split(c, "%", -1)
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def _fix(p: Column) -> Column:
        hexs = F.upper(F.substring(p, 1, 2))
        ch = F.char(F.conv(hexs, 16, 10).cast("int"))
        rest = F.substring(p, 3, 1_000_000)
        return F.when(
            p.rlike(r"^[0-9A-Fa-f]{2}"),
            F.when(ch.rlike(r"^[A-Za-z0-9._~-]$"), F.concat(ch, rest)).otherwise(
                F.concat(F.lit("%"), hexs, rest)
            ),
        ).otherwise(F.concat(F.lit("%"), p))

    return F.concat(
        F.element_at(parts, 1), F.array_join(F.transform(tail, _fix), "")
    )


def surt_col(url: Column | str) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the
    archive-world canonical ordering used by Wayback/Common Crawl
    index files: host labels reversed and comma-joined, a ``)``
    separator, then path+query; scheme dropped, host lowercased, a
    leading ``www.`` label removed (the standard SURT fold). E.g.
    ``https://www.a.example.com/p?q=1`` → ``com,example,a)/p?q=1``.

    Why it matters at scale: every URL of a registrable domain —
    across all its subdomains — sorts into ONE contiguous key range,
    so per-site scans/merges become range scans (the complement of
    the Z-order clustering keys in datapipe/export). Pure tiny-array
    JVM exprs, shuffle-free.
    """
    c = F.col(url) if isinstance(url, str) else url
    host = host_of_col(c)
    host = F.when(host.startswith("www."), F.substr(host, F.lit(5))).otherwise(
        host
    )
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    pathq = F.regexp_extract(
        c, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^#]*)", 1
    )
    pathq = F.when(pathq == "", F.lit("/")).otherwise(pathq)
    return F.concat(rev, F.lit(")"), pathq)
