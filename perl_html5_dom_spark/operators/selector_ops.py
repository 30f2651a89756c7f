"""CSS selector queries as Spark operators.

Two physical strategies, picked automatically (our analog of the
reference's fast paths ``findTag/findClass/findId/findAttr`` that bypass
the CSS engine, /root/reference/DOM.xs:286-359):

1. **Lowered** — a selector that is a single compound of simple
   predicates (tag / #id / .class / [attr op value]) compiles to plain
   Spark Column predicates over the node table.  Catalyst then gets the
   whole plan: predicate pushdown, whole-stage codegen, no Python in the
   match loop.
2. **Kernel** — anything structural (combinators, :nth-*, :not/:has,
   comma lists) is evaluated by the full matcher inside a mapInPandas
   pass over ``(url, html)``, compiled once on the driver and shipped in
   the closure (reference precompiled selectors, DOM.pod:2544-2551).

Both return the same shape: ``(url, node_id, ord, tag, begin, length)``
— matched node handles + open-tag source spans, document order via
``ord`` (the pre-order index, reference collection order utils.c:297-300).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..dom import innertext, serializer
from ..selector import matcher
from ..selector.parser import parse_selector
from ..util import map_docs
from .extract import parse_document

MATCHES_SCHEMA = (
    "url string, node_id bigint, ord bigint, tag string, "
    "begin bigint, length bigint"
)


# ---------------------------------------------------------------------------
# Strategy 1: lowering simple selectors to Column predicates
# ---------------------------------------------------------------------------

def lower_simple(simple, nodes_df):
    """One simple selector → Column predicate over NODES_SCHEMA, or None
    if it needs the kernel."""
    kind = simple[0]
    c = nodes_df
    if kind == "star":
        return F.lit(True)
    if kind == "tag":
        return c["tag"] == simple[1].lower()
    if kind == "id":
        return c["attrs"]["id"] == simple[1]
    if kind == "class":
        # [class~=v] semantics (reference findClass, DOM.xs:302-305)
        return F.array_contains(
            F.split(F.coalesce(c["attrs"]["class"], F.lit("")), r"\s+"),
            simple[1],
        )
    if kind == "attr":
        _, name, match, value, icase = simple
        v = c["attrs"][name]
        if match is None or value is None:
            return v.isNotNull()
        val = F.lit(value)
        if icase:
            v, val = F.lower(v), F.lower(val)
        if match == "equal":
            return v == val
        if match == "include":
            return F.array_contains(F.split(v, r"\s+"), value if not icase else value.lower())
        if match == "dash":
            return (v == val) | v.startswith(value + "-" if not icase else value.lower() + "-")
        if match == "prefix":
            return v.startswith(value if not icase else value.lower())
        if match == "suffix":
            return v.endswith(value if not icase else value.lower())
        if match == "substring":
            return v.contains(value if not icase else value.lower())
    return None


def try_lower(selector: str, nodes_df):
    """Whole-selector lowering: single entry, single step, all simples
    lowerable → Column predicate; else None."""
    sel = parse_selector(selector)
    if not sel.valid or len(sel.entries) != 1:
        return None
    steps = sel.entries[0].steps
    if len(steps) != 1:
        return None
    pred = nodes_df["node_type"] == 1
    for s in steps[0][1]:
        p = lower_simple(s, nodes_df)
        if p is None:
            return None
        pred = pred & p
    return pred


def css_find_nodes(nodes_df, selector: str):
    """Lowered strategy over an existing node table; raises if the
    selector needs the kernel (caller falls back to css_find)."""
    pred = try_lower(selector, nodes_df)
    if pred is None:
        raise ValueError(f"selector {selector!r} is not lowerable; use css_find")
    return (
        nodes_df.filter(pred)
        .select(
            "url", "node_id", "ord", "tag",
            F.col("elem_begin").alias("begin"),
            F.col("elem_length").alias("length"),
        )
    )


# ---------------------------------------------------------------------------
# Strategy 2: full matcher kernel
# ---------------------------------------------------------------------------

def css_find(df, selector: str, first: bool = False):
    """DataFrame(url, html) → matches via the full CSS L4 matcher.

    ``first=True`` is ``at()`` — early exit per document inside the
    kernel (reference utils.c:248-254)."""
    compiled = matcher.compile_selector(selector)

    def one(html) -> tuple[int, dict[str, list]]:
        doc = parse_document(html)
        nids = matcher.find(doc, compiled, first=first)
        pos, tag = doc.order_pos, doc.tag
        eb, el = doc.elem_begin, doc.elem_length
        return len(nids), {
            "node_id": nids, "ord": [pos[n] for n in nids],
            "tag": [tag[n] for n in nids],
            "begin": [eb[n] for n in nids],
            "length": [el[n] for n in nids]}

    return map_docs(df, ["url"], "html", one, MATCHES_SCHEMA, explode=True)


def css_at(df, selector: str):
    return css_find(df, selector, first=True)


def _sink(what: str):
    """One Collection sink (reference Collection.pm:117-131) as a
    ``(doc, nid) -> str | None`` function."""
    if what.startswith("attr:"):
        name = what[5:]

        def attr(doc, nid):
            a = doc.attrs[nid]
            return a.get(name) if a else None
        return attr
    if what == "text":
        return serializer.text_content
    if what == "html":
        return serializer.serialize
    if what == "inner_html":
        return lambda doc, nid: serializer.serialize(doc, nid, inner=True)
    if what == "inner_text":
        return innertext.inner_text
    raise ValueError(what)


def _sink_columns(whats) -> list[str]:
    return [w.replace("attr:", "attr_").replace(":", "_") for w in whats]


def css_extract(df, selector: str, what: str = "text"):
    """Per-match scalar extraction: text | html | inner_html | inner_text
    | attr:<name> (None when the attribute is absent).

    The Collection sinks of the reference (Collection.pm:117-131) —
    returns (url, node_id, ord, value)."""
    [col] = _sink_columns((what,))
    return css_extract_multi(df, selector, (what,)).withColumnRenamed(
        col, "value")


def css_extract_multi(df, selector: str, whats: tuple = ("text",)):
    """Like :func:`css_extract` but pulls SEVERAL sinks per match in
    ONE parse — at crawl scale the parse dominates, so chaining
    css_extract calls (one parse per sink) doubles/triples the kernel
    cost that this fuses away.  Returns (url, node_id, ord, <one
    column per sink>); ``attr:name`` sinks become ``attr_name``
    columns (None when absent)."""
    compiled = matcher.compile_selector(selector)
    sinks = [_sink(w) for w in whats]
    colnames = _sink_columns(whats)

    def one(html) -> tuple[int, dict[str, list]]:
        doc = parse_document(html)
        nids = matcher.find(doc, compiled)
        pos = doc.order_pos
        cols = {"node_id": nids, "ord": [pos[n] for n in nids]}
        for c, sink in zip(colnames, sinks):
            cols[c] = [sink(doc, n) for n in nids]
        return len(nids), cols

    schema = ("url string, node_id bigint, ord bigint, "
              + ", ".join(f"{c} string" for c in colnames))
    return map_docs(df, ["url"], "html", one, schema, explode=True)
