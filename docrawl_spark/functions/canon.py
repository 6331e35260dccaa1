"""URL canonicalization — the correctness keystone.

Reproduces the reference's ``build_abs_url`` exactly, INCLUDING its
deviations from RFC 3986 (reference: docrawl/utils.py:5-39, spec'd by
docrawl/tests/test_utils.py:6-29; see SURVEY.md §2.3):

1. Absolute input (netloc != '') → returned via ``urlparse(...).geturl()``
   verbatim, regardless of the base.
2. Relative input with no base → error (ValueError in the reference;
   here a null url + error string, since vectorized UDFs can't raise
   per-row).
3. Domain-relative (``/path``) → ``scheme://netloc + path`` — the
   scraped url's query/fragment/params are DROPPED (only ``.path``).
4. Path-relative → segment walk over base-path segments where the base
   path's LAST segment is treated as a directory ('' and '.' skipped,
   '..' pops with error on underflow). RFC 3986 would drop the last
   base segment first; the reference does not. We match the reference.

Plus the client-side quirk (docrawl_client.py:200-201): seeds get
``http://`` prepended only when the substring 'http' appears NOWHERE
in the url.

There is one Spark-facing implementation, ``canonicalize_arrow`` behind
the Arrow-native ``abs_url_arrow`` UDF: classification + assembly run
in pyarrow compute kernels (RE2, C++), base urls are parsed once per
DISTINCT parent via dictionary encoding, and a path-relative ref with
k leading '../' cuts the base path's last k segments with one Arrow
regex replace per distinct k; only the odd residue ('.' segments,
malformed bases, ';' holders, control characters, bracketed or
non-ASCII netlocs) falls back to the exact scalar walk
(``_canon_scalar``), still inside one Arrow batch.

The URL normalization keys beyond the reference (dedup, percent
encoding, SURT) live in ``functions/url_normalize``.
"""

from __future__ import annotations

import re
from urllib.parse import urlparse

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

# --------------------------------------------------------------------------
# Exact scalar semantics (mirrors docrawl/utils.py:5-39; used by the
# reference-semantics simulator and as the slow-path inside the UDF).
# --------------------------------------------------------------------------

_MSG_NO_BASE = "The domain url must be provided if the scraped url is a relative url."
_MSG_UNDERFLOW = "Relative link points to a path that does not exist."


def build_abs_url(scraped_url: str, domain_url: str | None = None) -> str:
    """Absolute-ize ``scraped_url`` against ``domain_url``, reference
    semantics (docrawl/utils.py:5-39). Raises ValueError exactly where
    the reference does."""
    parsed = urlparse(scraped_url)
    if parsed.netloc != "":
        return parsed.geturl()
    if domain_url is None:
        raise ValueError(_MSG_NO_BASE)
    base = urlparse(domain_url)
    if parsed.path.startswith("/"):
        return f"{base.scheme}://{base.netloc}{parsed.path}"
    segments: list[str] = base.path.split("/")[1:]
    for seg in parsed.path.split("/"):
        if seg == "" or seg == ".":
            continue
        if seg == "..":
            if not segments:
                raise ValueError(_MSG_UNDERFLOW)
            segments.pop()
        else:
            segments.append(seg)
    return f"{base.scheme}://{base.netloc}/{'/'.join(segments)}"


# --------------------------------------------------------------------------
# Vectorized batch canonicalization.
# --------------------------------------------------------------------------

# A url we can return verbatim on the fast path: lowercase scheme +
# '://' + non-empty netloc, and no ';' in the first path segment area
# (urlparse's params handling only bites on ';'; geturl() is identity
# for these).
_ABS_FAST = re.compile(r"^[a-z][a-z0-9+.\-]*://[^/?#]")
# Path-relative ref: a leading run of k '../' (k >= 0) + a non-empty
# remainder of non-empty '/'-separated segments, no scheme/query/
# fragment/';'/whitespace.
_REL_RE2 = r"^(?P<dots>(?:\.\./)*)(?P<rest>[^/?#;:\s]+(?:/[^/?#;:\s]+)*)$"
# A '.' or '..' segment anywhere.
_DOT_SEG = r"(?:^|/)\.\.?(?:/|$)"
# A scraped url or base that urlsplit rewrites or rejects: it deletes
# tab/CR/LF anywhere and strips leading C0 controls, and it raises on a
# netloc with an unbalanced or non-IPv6 '[...]' or a non-ASCII netloc
# that NFKC-normalizes to a delimiter. Any C0 control, or a '[', ']' or
# non-ASCII char in the netloc, sends the row to the scalar walk.
_ODD_RE2 = r"[\x00-\x1f]|^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*[\[\]\x{80}-\x{10FFFF}]"
# Base split: scheme://netloc, the path up to the first '?', '#' or
# ';', and whatever follows (empty for a plain base).
_BASE_RE2 = (
    r"^(?P<scheme>[a-zA-Z][a-zA-Z0-9+.\-]*)://(?P<netloc>[^/?#]*)"
    r"(?P<path>[^?#;]*)(?P<more>(?s:.*))$"
)

_ERR_NO_BASE = "relative url without base"
_ERR_UNDERFLOW = "relative path underflow"
_ERR_LABELS = {_MSG_NO_BASE: _ERR_NO_BASE, _MSG_UNDERFLOW: _ERR_UNDERFLOW}


def _canon_scalar(scraped: str, base: str | None) -> tuple[str | None, str | None]:
    try:
        return build_abs_url(scraped, base), None
    except ValueError as e:  # the reference's two errors, or urlsplit's
        return None, _ERR_LABELS.get(str(e), f"parse error: {e}")
    except Exception as e:  # malformed beyond parse — quarantine, don't kill the wave
        return None, f"parse error: {e}"


_CANON_STRUCT = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("host", T.StringType()),
    ]
)


def canonicalize_arrow(s_in, b_in):
    """Pure-Arrow canonicalization: (scraped, base) pa.Arrays →
    pa.StructArray{url, error, host}, equal to ``_canon_scalar`` on
    every row, url and error.

    The Arrow arrays arrive straight from the ``arrow_udf`` boundary;
    classification, base parsing (once per distinct base via
    dictionary_encode), gather and assembly stay in Arrow C++, and
    Python objects are created only for the scalar-walk residue. Fast
    vectorized paths:

    - absolute urls → verbatim;
    - domain-relative ('/...') with a parseable base → concat;
    - path-relative, k leading '../' + clean remainder (k >= 0) → cut
      the base's last k segments and append the remainder (the
      reference's non-RFC "last segment is a directory" rule), with
      exact underflow errors;

    everything else → exact scalar walk on the residue. ``host`` is
    lower(netloc) of the output url, '' when schemeless, null when the
    url is null — exactly ``host_of_col``'s JVM semantics, computed as
    one RE2 batch instead of a row-at-a-time Java regex downstream."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(s_in, pa.ChunkedArray):
        s_in = s_in.combine_chunks()
    if isinstance(b_in, pa.ChunkedArray):
        b_in = b_in.combine_chunks()
    n = len(s_in)
    is_null_a = pc.is_null(s_in)
    is_null = is_null_a.to_numpy(zero_copy_only=False)
    s_arr = pc.fill_null(s_in, "")

    def npb(arrow_bool) -> np.ndarray:
        return pc.fill_null(arrow_bool, False).to_numpy(zero_copy_only=False)

    # rows eligible for a fast path: non-null, nothing urlsplit rewrites
    fast = ~is_null & ~npb(pc.match_substring_regex(s_arr, _ODD_RE2))
    # Fast path 1: absolute, verbatim-safe. geturl() is the identity for
    # lowercase-scheme '://' urls without ';' params ambiguity; keep ';'
    # holders on the slow path to stay bit-exact with urlparse. geturl()
    # DROPS empty query/fragment components ('http://a/b?' → 'http://a/b',
    # 'http://a/b?#f' → 'http://a/b#f'), so urls with a trailing '?'/'#'
    # or a '?#' pair must take the exact scalar walk, not the verbatim path.
    has_semi = npb(pc.match_substring(s_arr, ";"))
    empty_component = npb(pc.match_substring_regex(s_arr, r"(\?#|[?#]$)"))
    abs_mask = (
        npb(pc.match_substring_regex(s_arr, _ABS_FAST.pattern))
        & ~has_semi
        & ~empty_component
        & fast
    )

    # ---- base parts, once per DISTINCT base via dictionary_encode ----
    b_null = pc.is_null(b_in).to_numpy(zero_copy_only=False)
    d = pc.dictionary_encode(pc.fill_null(b_in, ""))
    codes_arr = d.indices
    codes = codes_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    u_arr = d.dictionary
    parts = pc.extract_regex(u_arr, _BASE_RE2)
    path_u = pc.fill_null(pc.struct_field(parts, "path"), "")
    # a base urlsplit would rewrite or reject parses only on the scalar
    # walk; a valid match is enough for the domain-relative join, the
    # path-relative walk also needs nothing after the path and no '//'
    base_ok_u = npb(pc.is_valid(parts)) & ~npb(
        pc.match_substring_regex(u_arr, _ODD_RE2)
    )
    plain_u = (
        base_ok_u
        & npb(pc.equal(pc.struct_field(parts, "more"), ""))
        & ~npb(pc.match_substring(path_u, "//"))
    )
    prefix_u = pc.fill_null(
        pc.binary_join_element_wise(
            pc.utf8_lower(pc.struct_field(parts, "scheme")),
            pc.struct_field(parts, "netloc"),
            "://",
        ),
        "",
    )
    # reference segment model: segments = path.split('/')[1:], so a
    # path of '' has ZERO segments but a path of '/' has ONE (empty)
    # segment — one per '/' of the path
    nseg_u = pc.count_substring(path_u, "/").to_numpy(zero_copy_only=False)

    # Fast path 2: domain-relative ('/x') with a parseable base. The
    # reference keeps only urlparse(scraped).path → cut at the first '?'
    # or '#'; ';' would land in .params, so those go slow. '//host/x' is
    # protocol-relative (urlparse puts 'host' in netloc and the
    # reference returns it verbatim) — the slow path reproduces that.
    dom_shape = (
        npb(pc.starts_with(s_arr, "/"))
        & ~npb(pc.starts_with(s_arr, "//"))
        & ~has_semi
        & ~abs_mask
        & fast
    )
    dom_hit = dom_shape & base_ok_u[codes]
    dom_nobase = dom_shape & b_null
    dom_mask = dom_hit | dom_nobase  # unparseable non-null base → slow
    path_only = pc.struct_field(pc.extract_regex(s_arr, r"^(?P<p>[^?#]*)"), "p")
    dom_urls = pc.binary_join_element_wise(pc.take(prefix_u, codes_arr), path_only, "")

    # Fast path 3: path-relative, k leading '../' + a remainder without
    # '.'/'..' segments. All k pops precede the appends, so the walk
    # underflows iff k > nseg, and otherwise keeps the base path minus
    # its last k segments: prefix + that path + '/' + remainder.
    rel = pc.extract_regex(s_arr, _REL_RE2)
    rest = pc.struct_field(rel, "rest")
    rel_shape = (
        npb(pc.is_valid(rel))
        & ~npb(pc.match_substring_regex(rest, _DOT_SEG))
        & fast
    )
    k = (
        pc.fill_null(pc.utf8_length(pc.struct_field(rel, "dots")), 0)
        .to_numpy(zero_copy_only=False)
        // 3
    )
    rel_cand = rel_shape & plain_u[codes]
    underflow = rel_cand & (k > nseg_u[codes])
    # RE2 rejects a counted repetition above 1000, so deeper cuts take
    # the scalar walk
    rel_hit = rel_cand & ~underflow & (k <= 1000)
    rel_nobase = rel_shape & b_null
    rel_mask = rel_hit | underflow | rel_nobase
    # one cut of the distinct bases per distinct k, then one gather
    ks = np.union1d([0], k[rel_hit])
    heads_u = pa.concat_arrays(
        [
            pc.binary_join_element_wise(
                prefix_u,
                pc.replace_substring_regex(path_u, f"(?:/[^/]*){{{kv}}}$", "")
                if kv
                else path_u,
                "",
            )
            for kv in ks
        ]
    )
    head_idx = np.where(rel_hit, np.searchsorted(ks, k), 0) * len(u_arr) + codes
    rel_urls = pc.binary_join_element_wise(
        pc.take(heads_u, pa.array(head_idx)), rest, "/"
    )

    # Scalar-walk residue (odd bases, '.' segments, ';' holders, '//x',
    # control characters, bracketed or non-ASCII netlocs)
    obj_url = np.full(n, None, dtype=object)
    obj_err = np.full(n, None, dtype=object)
    slow = ~abs_mask & ~dom_mask & ~rel_mask & ~is_null
    if slow.any():
        idx = np.flatnonzero(slow)
        take_idx = pa.array(idx)
        s_sub = pc.take(s_in, take_idx).to_pylist()
        b_sub = pc.take(b_in, take_idx).to_pylist()
        for j, i in enumerate(idx):
            u, e = _canon_scalar(s_sub[j], b_sub[j])
            obj_url[i] = u
            obj_err[i] = e

    # ---- assembly: one object→Arrow crossing, then C++ if_else overlays
    url = pa.array(obj_url, type=pa.string())
    url = pc.if_else(pa.array(rel_hit), rel_urls, url)
    url = pc.if_else(pa.array(dom_hit), dom_urls, url)
    url = pc.if_else(pa.array(abs_mask), s_arr, url)
    url = pc.if_else(is_null_a, pa.scalar(None, pa.string()), url)
    err = pa.array(obj_err, type=pa.string())
    err = pc.if_else(pa.array(underflow), pa.scalar(_ERR_UNDERFLOW), err)
    nb = dom_nobase | rel_nobase
    err = pc.if_else(pa.array(nb), pa.scalar(_ERR_NO_BASE), err)
    err = pc.if_else(is_null_a, pa.scalar("null url"), err)
    # host ride-along: one RE2 batch over the assembled urls (≡
    # host_of_col, minus the downstream Java regex)
    if isinstance(url, pa.ChunkedArray):  # pragma: no cover - defensive
        url = url.combine_chunks()
    hm = pc.extract_regex(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://(?P<h>[^/?#]*)")
    host = pc.utf8_lower(pc.struct_field(hm, "h"))
    host = pc.if_else(pc.is_null(url), url, pc.fill_null(host, ""))
    return pa.StructArray.from_arrays(
        [url, err, host], names=["url", "error", "host"]
    )


@arrow_udf(_CANON_STRUCT)
def abs_url_arrow(scraped, base):
    """Arrow-native canonicalization UDF (pa.Array in/out)."""
    return canonicalize_arrow(scraped, base)


def with_abs_url(
    df: DataFrame,
    scraped_col: str,
    base_col: str,
    host_out: str | None = None,
) -> DataFrame:
    """Append ``url`` (canonical absolute url or null) and
    ``canon_error`` (null or the reason) columns, computed by
    ``canonicalize_arrow`` through the Arrow-native ``arrow_udf`` — no
    pandas object materialization at the worker boundary; Python
    objects only for the scalar residue. The first arrow_udf stage of a
    session pays a one-time worker warmup, which any small warm-up
    batch absorbs.

    There is no pandas or JVM path: measured in BENCH.md round 2, the
    pandas_udf form ran ~30% slower (8M rows: 5.2 s vs 3.6 s @
    local[8]) and whole-stage-codegen fast paths ~5x slower (28.6 s for
    the fast branch alone vs 7.6 s for the whole Arrow batch).

    ``host_out``: also expose the batch-computed ``host`` field
    (== ``host_of_col(url)``, one RE2 batch inside the UDF) — the
    wave's hottest remaining row-at-a-time Java regex deleted for
    callers that need the host anyway (discover_links, the bench wave)."""
    tmp = "_canon_struct"
    out = (
        df.withColumn(tmp, abs_url_arrow(F.col(scraped_col), F.col(base_col)))
        .withColumn("url", F.col(f"{tmp}.url"))
        .withColumn("canon_error", F.col(f"{tmp}.error"))
    )
    if host_out is not None:
        out = out.withColumn(host_out, F.col(f"{tmp}.host"))
    return out.drop(tmp)


# --------------------------------------------------------------------------
# Pure-Column helpers (JVM-side, whole-stage-codegen'd).
# --------------------------------------------------------------------------


def normalize_seed_url_col(url: Column | str) -> Column:
    """The reference's seed quirk (docrawl_client.py:200-201): prepend
    'http://' iff the SUBSTRING 'http' occurs nowhere in the url."""
    c = F.col(url) if isinstance(url, str) else url
    return F.when(c.contains("http"), c).otherwise(F.concat(F.lit("http://"), c))


def host_of_col(url: Column | str) -> Column:
    """netloc, lowercased — mirrors ``urlparse(u).netloc.lower()``.

    Kept JVM-side via regexp: authority = chars after '://' up to the
    first of '/', '?', '#'."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)", 1))


def path_of_col(url: Column | str) -> Column:
    """Path component (leading '/'-inclusive), '' if none. JVM-side."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)", 1)


def url_hash_col(url: Column | str) -> Column:
    """Canonical 64-bit url hash for the seen-set / frontier keys.

    ``xxhash64`` is built-in, deterministic, partition-stable, and
    cheap (JVM, codegen) — the right key for a 10^10-row seen set."""
    c = F.col(url) if isinstance(url, str) else url
    return F.xxhash64(c)
