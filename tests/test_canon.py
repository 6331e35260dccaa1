"""Canonicalization parity with the reference.

Every assertion of docrawl/tests/test_utils.py:6-29 runs through both
layers: the exact scalar ``build_abs_url`` and the Arrow batch
``canonicalize_arrow``, directly and as the Spark UDF behind
``with_abs_url``. Errors map to null url + error string in the vector
paths (vector UDFs can't raise per-row). The vector paths are checked
against the scalar walk ``_canon_scalar`` (url AND error string), which
shares none of their fast-path masks.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from docrawl_spark.functions.canon import (
    _canon_scalar,
    build_abs_url,
    canonicalize_arrow,
    host_of_col,
    normalize_seed_url_col,
    path_of_col,
    with_abs_url,
)

# (scraped, base, expected) — verbatim from the reference test file.
REFERENCE_CASES = [
    ("/test", "https://example.com", "https://example.com/test"),
    ("/aaa/bbb/ccc/ddd", "https://example.com", "https://example.com/aaa/bbb/ccc/ddd"),
    ("/ddd/www", "https://example.com/aaa/bbb/ccc", "https://example.com/ddd/www"),
    ("/www/ddd", "https://example.com/aaa/", "https://example.com/www/ddd"),
    ("https://aaaa.com/test", "https://bbb.com", "https://aaaa.com/test"),
    ("test", "https://example.com", "https://example.com/test"),
    ("https://example.com/test", None, "https://example.com/test"),
    ("aaa/../bbb/ccc/./ddd", "https://example.com", "https://example.com/bbb/ccc/ddd"),
    # Non-RFC deviation: base's last segment treated as a directory.
    ("../ddd/www", "https://example.com/aaa/bbb/ccc", "https://example.com/aaa/bbb/ddd/www"),
    ("../www/../ddd", "https://example.com/aaa/bbb/ccc", "https://example.com/aaa/bbb/ddd"),
    ("https://example.com/test", "https://whatever.org", "https://example.com/test"),
    ("https://example.com/aaa/bbb/ccc/ddd", None, "https://example.com/aaa/bbb/ccc/ddd"),
]

ERROR_CASES = [
    ("/test/api/d1", None),
    ("test/qwaf/werq", None),
    ("../../..", "https://example.com/aaa/bbb"),
]


def test_scalar_reference_cases():
    for scraped, base, expected in REFERENCE_CASES:
        assert build_abs_url(scraped, base) == expected, (scraped, base)
    for scraped, base in ERROR_CASES:
        with pytest.raises(ValueError):
            build_abs_url(scraped, base)


def _arrow(rows):
    """canonicalize_arrow over (scraped, base) rows as ONE batch →
    [(url, error)]."""
    out = canonicalize_arrow(
        pa.array([s for s, _ in rows], type=pa.string()),
        pa.array([b for _, b in rows], type=pa.string()),
    )
    return list(zip(out.field("url").to_pylist(), out.field("error").to_pylist()))


def test_batch_reference_cases():
    rows = [(s, b) for s, b, _ in REFERENCE_CASES] + ERROR_CASES
    out = _arrow(rows)
    for i, (_, _, expected) in enumerate(REFERENCE_CASES):
        assert out[i] == (expected, None)
    for url, err in out[len(REFERENCE_CASES):]:
        assert url is None and err is not None


def test_batch_edge_cases():
    # protocol-relative, query/fragment dropping, params, null input
    out = _arrow(
        [
            ("//h.com/p", "https://e.com/x"),
            ("/a/b?q=1#f", "https://e.com"),
            ("/a;p", "https://e.com"),
            (None, "https://e.com"),
            ("", "https://e.com/base"),
        ]
    )
    assert out[0][0] == build_abs_url("//h.com/p", "https://e.com/x")
    assert out[1][0] == "https://e.com/a/b"  # query+fragment dropped
    assert out[2][0] == build_abs_url("/a;p", "https://e.com")
    assert out[3] == (None, "null url")
    assert out[4][0] == build_abs_url("", "https://e.com/base")


def test_batch_root_slash_base_cases():
    """Base path '/' vs '' — the reference's segment model gives them
    DIFFERENT results (path '/' has one empty segment: 'x' joins to
    '//x', and one '..' pop succeeds). Regression for two confirmed
    batch divergences found in review."""
    cases = [
        ("../about", "http://host.test/"),   # root '..': pops the empty seg
        ("x", "http://h/"),                  # root join → 'http://h//x'
        ("x", "http://h"),                   # no path → 'http://h/x'
        ("a/b", "https://e.com/"),
        ("../../x", "http://h/"),            # underflow (1 seg, 2 pops)
        ("../x/y", "http://h"),              # underflow (0 segs)
    ]
    out = _arrow(cases)
    for (sc, ba), (url, err) in zip(cases, out):
        try:
            exp_u, exp_err = build_abs_url(sc, ba), False
        except ValueError:
            exp_u, exp_err = None, True
        assert url == exp_u, (sc, ba, url, exp_u)
        assert (err is not None) == exp_err, (sc, ba)


def test_scalar_error_labels():
    """Only the reference's two ValueErrors get the short labels; any
    other parse failure (urlsplit rejecting a netloc) is labelled as
    such in quarantine.canon_error, not as a path underflow."""
    assert _canon_scalar("../../x", "https://h.test/a") == (
        None, "relative path underflow"
    )
    assert _canon_scalar("x", None) == (None, "relative url without base")
    assert _canon_scalar("http://[::1/x", None) == (
        None, "parse error: Invalid IPv6 URL"
    )
    assert _canon_scalar("x", "http://[::1/a") == (
        None, "parse error: Invalid IPv6 URL"
    )
    url, err = _canon_scalar("http://a\uff0fb/x", "https://h.test/a")
    assert url is None and err.startswith("parse error: netloc")


@settings(max_examples=200, deadline=None)
@given(
    scraped=st.text(alphabet="abc/.?#:&=%-", max_size=24),
    base=st.sampled_from(
        ["https://example.com", "https://example.com/aaa/bbb", "http://h.io/p/"]
    ),
)
def test_canonicalization_idempotent(scraped, base):
    """Property (SURVEY.md §5.2): canon(canon(u)) == canon(u) — the
    canonical form is a fixed point (absolute urls pass through)."""
    try:
        once = build_abs_url(scraped, base)
    except Exception:
        return  # error rows are quarantined, nothing to iterate
    assert build_abs_url(once, base) == once


def test_spark_udf_and_column_helpers(spark):
    rows = [(s, b) for s, b, _ in REFERENCE_CASES] + ERROR_CASES
    df = spark.createDataFrame(rows, "scraped string, base string")
    got = (
        with_abs_url(df, "scraped", "base")
        .select("scraped", "base", "url", "canon_error")
        .collect()
    )
    by_key = {(r["scraped"], r["base"]): r for r in got}
    for s, b, expected in REFERENCE_CASES:
        r = by_key[(s, b)]
        assert r["url"] == expected and r["canon_error"] is None
    for s, b in ERROR_CASES:
        r = by_key[(s, b)]
        assert r["url"] is None and r["canon_error"] is not None

    helpers = (
        spark.createDataFrame(
            [("HTTPS://Ex.COM:8080/a/b?q=1", ), ("https://h.io", ), ("example.com/x", )],
            "u string",
        )
        .select(
            host_of_col("u").alias("host"),
            path_of_col("u").alias("path"),
            normalize_seed_url_col("u").alias("seed"),
        )
        .collect()
    )
    assert helpers[0]["host"] == "ex.com:8080"
    assert helpers[0]["path"] == "/a/b"
    assert helpers[1]["host"] == "h.io" and helpers[1]["path"] == ""
    # 'http' substring quirk (docrawl_client.py:200-201): prepend only
    # when 'http' appears nowhere; note 'nohttp.com' would NOT get it.
    assert helpers[2]["seed"] == "http://example.com/x"


def test_seed_quirk_case_sensitivity(spark):
    # 'http' must appear as an exact substring; 'HTTP' does not count
    # (reference check is case-sensitive, docrawl_client.py:200-201).
    df = spark.createDataFrame(
        [("HTTP://x.com",), ("https://x.com",), ("x.com/http-page",)], "u string"
    )
    got = [r[0] for r in df.select(normalize_seed_url_col("u")).collect()]
    assert got == ["http://HTTP://x.com", "https://x.com", "x.com/http-page"]


REFS_BATTERY = [
    "https://x.test/a", "http://a/b#", "http://a/b?", "http://a/b?#f",
    "HTTP://a/b", "ftp://h/p", "//proto.rel/x", "/abs/path", "/p?q=1#f",
    "/", "a", "a/b", "a/b/c", "../up", "../../up/two", "./here",
    "a/./b", "a/../b", "x;y", "/x;y", "a?q", "a#f", "a b", " a",
    "", None, "mailto:info@x", "javascript:void(0)", "a//b", "a/",
    "x" * 300, "../" * 9 + "deep",
    # '.'/'..' segments after a '../' run, and an empty remainder
    "../a/./b", "../a/../b", "../..", "..", "../",
    # a '../' run longer than RE2's 1000-repetition limit
    "../" * 1001 + "deep",
    # urlsplit deletes tab/CR/LF anywhere and strips leading C0 controls
    "/p\nq", "http://a/b\nc", "a\tb/c", "../x\r", "\x01/p",
    # ... and rejects a netloc with a bad '[...]' or one that
    # NFKC-normalizes to a delimiter (fullwidth solidus)
    "http://[::1/x", "http://[zz]/x", "http://[::1]/x", "http://a／b/x",
    "http://é.test/x",
]
BASES_BATTERY = [
    "https://h.test/d1/d2/leaf", "https://h.test/", "https://h.test",
    "http://h.test/one", "HTTPS://H.test/Mixed/Case", "https://h.test/p?q=1",
    "https://h.test/p;param", "not a url", "", None, "https://h.test//dbl/p",
    "https://h.test/a", "https://h.test/a\tb", "http://[::1/a",
    "http://é.test/d/", "\x01https://h.test/a", "https://h.test" + "/s" * 1001,
]
BATTERY = [(r, b) for r in REFS_BATTERY for b in BASES_BATTERY]


def _scalar(ref, base):
    """The reference walk's (url, error) for one row; a null ref is
    'null url' (build_abs_url has no null input)."""
    return (None, "null url") if ref is None else _canon_scalar(ref, base)


def test_canonicalize_arrow_matches_scalar_battery():
    """canonicalize_arrow == the scalar walk, url AND error, on the
    full refs×bases battery, called DIRECTLY (no Spark) as one batch so
    every mask interaction inside a heterogeneous batch is exercised."""
    diffs = [
        (r, b, got, _scalar(r, b))
        for (r, b), got in zip(BATTERY, _arrow(BATTERY))
        if got != _scalar(r, b)
    ]
    assert not diffs, f"{len(diffs)} arrow/scalar mismatches, e.g. {diffs[:5]}"


@settings(max_examples=300, deadline=None)
@given(
    scraped=st.one_of(
        st.sampled_from(
            ["/a/b", "a/b", "../x", "./y", "https://z.org/q?a=1", "//cdn.z.org/i.png",
             "", ".", "..", "a/../b", "/p?q#f", "x;y", "HTTPS://UP.com/A", "../../a/b"]
        ),
        st.text(alphabet="abc/.?#:&=%\t\n\x01[]／é", max_size=24),
    ),
    base=st.one_of(
        st.none(),
        st.sampled_from(
            ["https://example.com", "https://example.com/", "https://example.com/aaa/bbb",
             "http://h.io/p/", "ftp://f.net/d/e", "example.com/noscheme",
             "https://h.test/a\tb", "http://[::1/a", "http://é.test/d/",
             "https://h.test/a/b/c/d"]
        ),
    ),
)
def test_arrow_matches_scalar(scraped, base):
    """Property: the Arrow-native batch == the exact scalar walk, url
    and error, always."""
    assert _arrow([(scraped, base)]) == [_canon_scalar(scraped, base)]


def test_with_abs_url_matches_scalar_battery(spark):
    """with_abs_url through Spark (the arrow_udf) == the scalar walk,
    url AND error, over the full battery."""
    df = spark.createDataFrame(BATTERY, "ref string, base string")
    got = {
        (r["ref"], r["base"]): (r["url"], r["canon_error"])
        for r in with_abs_url(df, "ref", "base").collect()
    }
    assert len(got) == len(BATTERY)
    diffs = {k: (got[k], _scalar(*k)) for k in got if got[k] != _scalar(*k)}
    assert not diffs, f"{len(diffs)} udf/scalar mismatches, e.g. {list(diffs.items())[:5]}"


def test_percent_normalize_rfc3986(spark):
    """§6.2.2: unreserved escapes decode, reserved escapes uppercase,
    malformed/truncated escapes pass through, multiple escapes in one
    URL all resolve."""
    from docrawl_spark.functions.url_normalize import percent_normalize_col

    cases = {
        "http://h/%2e%2E": "http://h/..",          # unreserved decodes
        "http://h/a%2fb": "http://h/a%2Fb",        # reserved uppercases
        "http://h/%7euser": "http://h/~user",
        "http://h/%zz": "http://h/%zz",            # malformed untouched
        "http://h/x%": "http://h/x%",              # trailing bare %
        "http://h/%4": "http://h/%4",              # truncated escape
        "http://h/plain": "http://h/plain",
        "http://h/%41%2f%2d": "http://h/A%2F-",    # mixed in one URL
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["n"]
        for r in df.select(
            "url", percent_normalize_col("url").alias("n")
        ).collect()
    }
    assert got == cases


def test_percent_normalize_matches_python_spec_and_is_idempotent(spark):
    """500 seeded random URLs (hex escapes, malformed escapes, bare %,
    unicode) must match an independent pure-Python implementation of
    RFC 3986 §6.2.2, and normalizing twice must equal normalizing
    once."""
    import random
    import string

    from docrawl_spark.functions.url_normalize import percent_normalize_col

    def py_norm(u: str) -> str:
        parts = u.split("%")
        out = [parts[0]]
        unreserved = set(string.ascii_letters + string.digits + "-._~")
        for p in parts[1:]:
            if len(p) >= 2 and all(c in string.hexdigits for c in p[:2]):
                ch = chr(int(p[:2], 16))
                if ch in unreserved:
                    out.append(ch + p[2:])
                else:
                    out.append("%" + p[:2].upper() + p[2:])
            else:
                out.append("%" + p)
        return "".join(out)

    rng = random.Random(7)
    alphabet = string.ascii_letters + string.digits + "/.%~:?=&-_ä%%"
    urls = []
    for i in range(500):
        n = rng.randint(1, 40)
        urls.append("http://h/" + "".join(rng.choice(alphabet) for _ in range(n)))
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select("url", percent_normalize_col("url").alias("n1"))
    both = once.select(
        "url", "n1", percent_normalize_col(F.col("n1")).alias("n2")
    ).collect()
    for r in both:
        assert r["n1"] == py_norm(r["url"]), r["url"]
        assert r["n2"] == r["n1"], f"not idempotent: {r['url']}"


def test_surt_col_forms(spark):
    """SURT: www fold, label reversal, bare-path '/', fragment drop,
    query kept, multi-label hosts."""
    from docrawl_spark.functions.url_normalize import surt_col

    cases = [
        ("https://www.a.example.com/p?q=1", "com,example,a)/p?q=1"),
        ("https://example.com", "com,example)/"),
        ("http://EXAMPLE.co.uk/x#frag", "uk,co,example)/x"),
        ("https://www.example.com/", "com,example)/"),
        # www only folds as a LEADING label
        ("https://a.www.example.com/p", "com,example,www,a)/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["surt"] for r in df.select(surt_col("url").alias("surt")).collect()]
    assert got == [e for _, e in cases]


def test_link_header_relations_parsing(spark):
    """RFC 8288: multi-relation split, quoted/unquoted rel, case fold,
    extra params ignored, missing/blank header -> no rows."""
    from docrawl_spark.operators.fetch import link_header_relations

    rows = [
        ("u1", {"link": '<https://h/2>; rel="next", <https://h/0>; rel="prev"'}),
        ("u2", {"link": '<https://h/c>; REL=Canonical; type="text/html"'}),
        ("u3", {"server": "x"}),
        ("u4", {"link": ""}),
    ]
    df = spark.createDataFrame(rows, "url string, headers map<string,string>")
    got = sorted(
        (r["url"], r["link_order"], r["target"], r["rel"])
        for r in link_header_relations(df).collect()
    )
    assert got == [
        ("u1", 0, "https://h/2", "next"),
        ("u1", 1, "https://h/0", "prev"),
        ("u2", 0, "https://h/c", "canonical"),
    ]


def test_struct_host_equals_host_of_col(spark):
    """The canon struct's host ride-along (with_abs_url host_out=...)
    must equal host_of_col(url) row-for-row across every class: abs,
    domain-relative, path-relative, '../'-pop, scalar residue, error
    rows (null url -> null host), schemeless outputs ('' host), upper
    case schemes/hosts, ports, userinfo, and query/fragment edges."""
    from pyspark.sql import functions as F

    from docrawl_spark.functions.canon import host_of_col, with_abs_url

    rows = [
        ("https://EX.com/p", "https://base.test/a/b"),
        ("/rooted?q=1#f", "https://base.test/a/b"),
        ("plain/child", "http://Base.Test:8080/a/b"),
        ("../up", "https://u:p@h.test/a/b/c"),
        ("..//odd", "https://h.test/a/b"),
        (";jsession", "https://h.test/a"),
        ("//proto-rel.example/x", "https://h.test/a"),
        (None, "https://h.test/a"),
        ("child", None),
        ("HTTPS://UPPER.HOST/PATH?Q#F", None),
        ("ftp://files.example:21/x", "https://h.test/"),
        ("x", "nonsense-base"),
        ("?#", "https://h.test/a"),
    ]
    df = spark.createDataFrame(rows, "ref string, base string")
    out = with_abs_url(df, "ref", "base", host_out="h_struct").select(
        "ref", "url", "h_struct", host_of_col("url").alias("h_jvm")
    )
    for r in out.collect():
        assert r["h_struct"] == r["h_jvm"], dict(r.asDict())
