"""HTML → raw spans: the real-fetch twin of the fixture span model.

The reference's extraction kernel parses live HTML
(``_scan_web_page``, docrawl_core.py:377-718): per type-section it
XPath-finds elements, dedups by canonical XPath, and extracts typed
payloads. This repo's engine consumes span documents; fixtures
synthesize them directly. This module closes the loop for REAL
fetched bytes: a stdlib ``html.parser`` DOM walk that emits the same
RAW span rows the fixtures emit — so ``scan.clean_spans_col`` (the
kernel: empty-skip, <2-<tr> guard, keep-first dedup, re-offset) and
everything downstream run unchanged on real HTTP responses.

Faithfulness map (reference cite per rule):

- section order defines offsets: input → tables → bullets → texts →
  headlines → links → images → buttons → context → cookies
  (docrawl_core.py:657-712); document order within a section;
- tag vocabulary = PREDEFINED_TAGS (elements.py:52-84): text includes
  ``div``/``span`` only when a DIRECT text child is non-whitespace
  (``div[normalize-space(text())]``); buttons are ``button`` plus the
  five ``a[...]`` button-ish variants; links are ``a[@href]`` minus
  Menu/menu id-or-class and descendant ``img``/``svg``;
- payloads: table → JSON ``{"th": [[frag..]..]|null, "rows":
  [[[frag..]..]..]}`` of RAW ``.//text()`` fragments (cleaning happens
  in `operators/extract.extract_tables`, exactly as for fixtures);
  bullet → JSON list of per-``<li>`` fragment lists
  (docrawl_core.py:431-450 cleans later in `extract_bullets`); text /
  headline / link / button → joined descendant text; image → alt text,
  media_ref = ``data-src`` else ``src`` (the O17 preference,
  docrawl_core.py:803); link/button media_ref = RAW href
  (absolutization happens downstream in the dataflow, canon.py);
- DELIBERATE model split, mirroring `operators/discovery.discover_links`:
  ``javascript:``/``mailto:`` hrefs are KEPT as link spans (the
  fixture model) and filtered at discovery time — the reference
  excludes them at scan (elements.py:68-69); both yield identical
  crawl candidates. ``strict_link_exclusions=True`` applies the full
  reference rule for byte-level scan parity.
- degenerate tables (<2 ``<tr>``) and whitespace-only text/headline
  ARE emitted raw — the shared kernel guard drops them
  (docrawl_core.py:604-605, is_element_empty) so real and synthetic
  documents flow through the SAME cleaning path.

Scale shape: parsing is per-row Python — unavoidable for HTML (the
reference uses lxml; this container has stdlib only) — so it runs
ONLY inside the Arrow-batched ``mapInPandas`` fetch stage
(`parse_fetched_html`), never as a row-at-a-time UDF; everything
after the parse is columnar.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["html_to_spans", "parse_fetched_html", "PARSED_DOCS_DDL"]

_VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

# tags whose end tag may be omitted; close them when a sibling opens
_AUTOCLOSE = {
    "li": {"li"},
    "td": {"td", "th", "tr"},
    "th": {"td", "th", "tr"},
    "tr": {"tr"},
    "p": {"p", "div", "table", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6"},
    "option": {"option"},
}


class _Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict, parent: "_Node | None"):
        self.tag = tag
        self.attrs = attrs
        self.children: list = []  # _Node | str
        self.parent = parent


# element nesting cap: real pages nest well under 100; adversarial
# nesting bombs (tens of thousands deep) would otherwise make the
# per-element ``.//text()`` walks quadratic in page size. Elements
# opened beyond the cap flatten onto the cap-depth ancestor — content
# is preserved, pathological structure is not.
_MAX_DEPTH = 512


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", {}, None)
        self.cur = self.root
        self._depth = 0

    def handle_starttag(self, tag, attrs):
        while self.cur.tag in _AUTOCLOSE and tag in _AUTOCLOSE[self.cur.tag]:
            self.cur = self.cur.parent
            self._depth -= 1
        node = _Node(tag, dict(attrs), self.cur)
        self.cur.children.append(node)
        if tag not in _VOID and self._depth < _MAX_DEPTH:
            self.cur = node
            self._depth += 1

    def handle_startendtag(self, tag, attrs):
        self.cur.children.append(_Node(tag, dict(attrs), self.cur))

    def handle_endtag(self, tag):
        n = self.cur
        levels = 0
        while n is not None and n.tag != tag:
            n = n.parent
            levels += 1
        if n is not None and n.parent is not None:
            self.cur = n.parent
            self._depth = max(0, self._depth - levels - 1)

    def handle_data(self, data):
        if data:
            self.cur.children.append(data)


def _parse_tree(html: str) -> _Node:
    b = _TreeBuilder()
    b.feed(html)
    b.close()
    return b.root


# per-page extraction work budget (node visits across ALL walks): the
# nested-section overlap (.//li of nested lists re-visits shared
# subtrees — reference lxml semantics) is quadratic on adversarial
# nesting bombs; the budget turns a worst-case multi-minute page into
# a bounded truncation. Normal pages spend a few × their node count.
_DEFAULT_WORK_BUDGET = 2_000_000


def _walk(node: _Node, tag_pred, budget: list) -> Iterator[_Node]:
    """Document-order descendants matching ``tag_pred`` (the ``//tag``
    axis — nested matches each yield, like XPath). Iterative —
    adversarial pages nest thousands deep and a recursive walk would
    die on RecursionError. Stops when the page work budget runs out."""
    stack = [iter(node.children)]
    while stack:
        if budget[0] <= 0:
            return
        try:
            c = next(stack[-1])
        except StopIteration:
            stack.pop()
            continue
        budget[0] -= 1
        if isinstance(c, _Node):
            if tag_pred(c):
                yield c
            stack.append(iter(c.children))


def _text_fragments(node: _Node, budget: list) -> list[str]:
    """``.//text()`` — every descendant text node as its own fragment,
    document order (script/style excluded: invisible to extraction).
    Iterative + budget-bounded for the same reasons as :func:`_walk`."""
    out: list[str] = []
    stack = [iter(node.children)]
    while stack:
        if budget[0] <= 0:
            break
        try:
            c = next(stack[-1])
        except StopIteration:
            stack.pop()
            continue
        budget[0] -= 1
        if isinstance(c, str):
            out.append(c)
        elif c.tag not in ("script", "style"):
            stack.append(iter(c.children))
    return out


def _joined_text(node: _Node, budget: list) -> str:
    return "".join(_text_fragments(node, budget))


def _direct_text_nonempty(node: _Node) -> bool:
    """``normalize-space(text())`` truthiness — DIRECT child text only."""
    return any(isinstance(c, str) and c.strip() for c in node.children)


def _is_buttonish_a(n: _Node) -> bool:
    cls = n.attrs.get("class", "") or ""
    nid = n.attrs.get("id", "") or ""
    return (
        n.attrs.get("role") == "button"
        or "button" in cls
        or "button" in nid
        or n.attrs.get("type") == "button"
        or "btn" in cls
    )


def _is_link_a(n: _Node, strict: bool, budget: list) -> bool:
    if "href" not in n.attrs:
        return False
    cls = n.attrs.get("class", "") or ""
    nid = n.attrs.get("id", "") or ""
    if "Menu" in nid or "menu" in nid or "Menu" in cls or "menu" in cls:
        return False
    if any(
        isinstance(d, _Node) and d.tag in ("img", "svg")
        for d in _walk(n, lambda x: True, budget)
    ):
        return False
    if strict:
        href = n.attrs.get("href", "") or ""
        if "javascript" in href or "mailto" in href:
            return False
    return True


def _table_payload(t: _Node, budget: list) -> str:
    ths = list(_walk(t, lambda n: n.tag == "th", budget))
    trs = list(_walk(t, lambda n: n.tag == "tr", budget))
    th = [_text_fragments(x, budget) for x in ths] or None
    rows = [
        [_text_fragments(td, budget)
         for td in _walk(tr, lambda n: n.tag == "td", budget)]
        for tr in trs
    ]
    return json.dumps({"th": th, "rows": rows})


def _bullet_payload(ul: _Node, budget: list) -> str:
    lis = list(_walk(ul, lambda n: n.tag == "li", budget))
    return json.dumps([_text_fragments(li, budget) for li in lis])


_HEADS = {"h1", "h2", "h3", "h4", "h5", "h6"}


def html_to_spans(
    html: str,
    strict_link_exclusions: bool = False,
    context_class: str | None = None,
    cookies_class: str | None = None,
    work_budget: int = _DEFAULT_WORK_BUDGET,
) -> list[dict]:
    """One page's HTML → RAW spans [(kind, text, media_ref, offset)],
    section-ordered per the reference dispatch (docrawl_core.py:
    657-712). ``context_class``/``cookies_class`` are the batch
    analogue of the context/cookies custom-XPath sections: divs whose
    class contains the marker emit those kinds (in the custom-section
    position, after buttons)."""
    root = _parse_tree(html)
    budget = [work_budget]
    spans: list[dict] = []

    def add(kind: str, text: str = "", media_ref: str = "") -> None:
        spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref,
             "offset": len(spans)}
        )

    # input section (input, textarea — elements.py:72)
    for n in _walk(root, lambda n: n.tag in ("input", "textarea"), budget):
        add("input", _joined_text(n, budget) or (n.attrs.get("value", "") or ""))
    # tables
    for n in _walk(root, lambda n: n.tag == "table", budget):
        add("table", _table_payload(n, budget))
    # bullets
    for n in _walk(root, lambda n: n.tag in ("ul", "ol"), budget):
        add("bullet", _bullet_payload(n, budget))
    # texts: p/strong/em always; div/span only with direct text
    for n in _walk(
        root,
        lambda n: n.tag in ("p", "strong", "em")
        or (n.tag in ("div", "span") and _direct_text_nonempty(n)),
        budget,
    ):
        add("text", _joined_text(n, budget))
    # headlines
    for n in _walk(root, lambda n: n.tag in _HEADS, budget):
        add("headline", _joined_text(n, budget))
    # links
    for n in _walk(
        root,
        lambda n: n.tag == "a" and _is_link_a(n, strict_link_exclusions, budget),
        budget,
    ):
        add("link", _joined_text(n, budget).strip(), n.attrs.get("href", "") or "")
    # images: data-src preferred (O17, docrawl_core.py:803)
    for n in _walk(root, lambda n: n.tag == "img", budget):
        ref = n.attrs.get("data-src") or n.attrs.get("src") or ""
        add("image", n.attrs.get("alt", "") or "", ref)
    # buttons
    for n in _walk(
        root,
        lambda n: n.tag == "button" or (n.tag == "a" and _is_buttonish_a(n)),
        budget,
    ):
        add("button", _joined_text(n, budget).strip(), n.attrs.get("href", "") or "")
    # custom context/cookies sections
    if context_class:
        for n in _walk(
            root,
            lambda n: context_class in (n.attrs.get("class", "") or ""),
            budget,
        ):
            add("context", _joined_text(n, budget))
    if cookies_class:
        for n in _walk(
            root,
            lambda n: cookies_class in (n.attrs.get("class", "") or ""),
            budget,
        ):
            add("cookies", _joined_text(n, budget))
    return spans


PARSED_DOCS_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


_BOMS = [("utf-8-sig", b"\xef\xbb\xbf"), ("utf-16", b"\xff\xfe"), ("utf-16", b"\xfe\xff")]


def _decode_body(c, content_type: str | None, default: str) -> str:
    """Bytes → text by WHATWG-ish precedence: BOM > Content-Type
    charset > ``default``; unknown/broken encodings fall back to the
    default with replacement chars (a crawler never dies on a page)."""
    if c is None:
        return ""
    if not isinstance(c, (bytes, bytearray, memoryview)):
        return str(c)
    b = bytes(c)
    enc = default
    if content_type:
        import re

        m = re.search(r"""charset\s*=\s*["']?([^"';\s]+)""", content_type, re.I)
        if m:
            enc = m.group(1)
    for bom_enc, bom in _BOMS:
        if b.startswith(bom):
            enc = bom_enc
            break
    try:
        return b.decode(enc, errors="replace")
    except LookupError:
        return b.decode(default, errors="replace")


def parse_fetched_html(
    fetched: DataFrame,
    url_col: str = "url",
    content_col: str = "content",
    content_type_col: str | None = None,
    encoding: str = "utf-8",
    strict_link_exclusions: bool = False,
    context_class: str | None = None,
    cookies_class: str | None = None,
) -> DataFrame:
    """fetch-stage output (url, content bytes) → raw span documents
    (doc_id, spans), Arrow-batched. ``content_type_col`` (e.g. the
    fetch stage's ``content_type``) enables per-row charset handling
    (BOM > header charset > ``encoding`` fallback). Pair with
    `scan.clean_spans_col` to obtain kernel-clean documents identical
    in shape to the synthetic corpus — the bridge that lets
    `run_crawl` consume real HTTP responses."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs, span_lists = [], []
            cts = (
                pdf[content_type_col]
                if content_type_col is not None
                else [None] * len(pdf)
            )
            for u, c, ct in zip(pdf[url_col], pdf[content_col], cts):
                html = _decode_body(c, ct, encoding)
                s = html_to_spans(
                    html,
                    strict_link_exclusions=strict_link_exclusions,
                    context_class=context_class,
                    cookies_class=cookies_class,
                )
                docs.append(u)
                span_lists.append(
                    [(d["kind"], d["text"], d["media_ref"], d["offset"]) for d in s]
                )
            yield pd.DataFrame({"doc_id": docs, "spans": span_lists})

    cols = [url_col, content_col]
    if content_type_col is not None:
        cols.append(content_type_col)
    return fetched.select(*cols).mapInPandas(run, PARSED_DOCS_DDL)
