"""Correctness gate: every pass output against the repo's DuckDB twins.

The expected values come from ``queries.ORACLES`` and
``sources/pdfs.pdf_oracle_cte``, evaluated in DuckDB over the same
generated documents.  They are derived from the page templates, never
from the parser.  A row fails if it is missing, extra, carries ``err``,
or differs from its twin in any checked column.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

#: checked columns per HTML shape: ORACLES entry -> columns it yields
_SHAPE_ORACLES = {
    "pages": {"extract_main_text": ["main_text"],
              "extract_inner_text": ["inner_text"],
              "extract_text_content": ["text_content"],
              "extract_title": ["title"],
              "node_counts": ["n_nodes", "n_elements"]},
    **{s: {f"{s}_inner_text": ["inner_text"],
           f"{s}_text_content": ["text_content"],
           f"{s}_node_counts": ["n_nodes", "n_elements"],
           f"{s}_serialize": ["html_out"]}
       for s in ("messy", "hostile", "hostile2")},
}
_COLS = ["main_text", "inner_text", "text_content", "title", "n_nodes",
         "n_elements", "spans", "html_out"]

#: a[href] spans as one comparable string "begin:length,..." (sorted)
_SPANS_KEY = ("array_to_string(list_sort(list_transform(spans, s -> "
              "cast(s.begin as varchar) || ':' || cast(s.length as varchar)"
              ")), ',')")


def _read(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _spans_oracle() -> str:
    from perl_html5_dom_spark.queries import ORACLES

    return ("select url, array_to_string(list_sort(list("
            "cast(begin as varchar) || ':' || cast(length as varchar))), ',')"
            f" as spans from ({ORACLES['link_spans']}) group by url")


def _shape_expect(con, shape: str, docs: pa.Table) -> pa.Table:
    from perl_html5_dom_spark.queries import ORACLES

    con.register("documents", docs)
    sel, joins = ["b.url"], []
    base = ORACLES[next(iter(_SHAPE_ORACLES[shape]))]
    for k, (name, cols) in enumerate(_SHAPE_ORACLES[shape].items()):
        joins.append(f"join ({ORACLES[name]}) o{k} using (url)")
        sel += [f"o{k}.{c}" for c in cols]
    if shape == "pages":
        # pages without ref links still carry the two nav links
        joins.append(f"join ({_spans_oracle()}) sp using (url)")
        sel.append("sp.spans")
    got = {c.split(".")[-1] for c in sel}
    sel += [f"cast(null as {'bigint' if c.startswith('n_') else 'varchar'})"
            f" as {c}" for c in _COLS if c not in got]
    q = (f"select {', '.join(sel)} from (select url from ({base})) b "
         + " ".join(joins))
    out = con.execute(q).fetch_arrow_table()
    con.unregister("documents")
    return out.select(["url"] + _COLS)


def expected(workload: str, info: dict):
    """The DuckDB twin of one pass of ``workload``."""
    con = duckdb.connect()
    try:
        if workload == "crawl_distinct":
            from perl_html5_dom_spark.sources.pdfs import pdf_oracle_cte

            shapes = info["shapes"]
            html = pa.concat_tables(
                _shape_expect(con, s, shapes[s])
                for s in ("pages", "messy", "hostile", "hostile2"))
            con.register("documents", shapes["pdf"])
            pdf = con.execute(
                f"select url, text, n_pages from ({pdf_oracle_cte()})"
            ).fetch_arrow_table()
            return {"html": html, "pdf": pdf}
        if workload == "crawl_mirror":
            e = _shape_expect(con, "pages", info["docs"])
            con.register("e", e)
            return con.execute(
                "select split_part(url, '/', 5) as key, main_text, spans, "
                "n_elements from e").fetch_arrow_table()
        from perl_html5_dom_spark.queries import ORACLES

        con.register("documents", info["docs"])
        return con.execute(ORACLES["webtext_pipeline"]).fetch_arrow_table()
    finally:
        con.close()


def _diff_rows(con, want: str, got: str) -> int:
    """Rows of ``want`` missing from ``got`` plus rows of ``got`` not in
    ``want`` (multiset difference)."""
    return con.execute(
        f"select (select count(*) from ({want} except all {got})) + "
        f"(select count(*) from ({got} except all {want}))").fetchone()[0]


def failures(workload: str, expect, out: dict, rows: int) -> int:
    """Failed rows of one pass of ``rows`` input rows; ``out`` maps
    output name -> parquet dir."""
    con = duckdb.connect()
    try:
        if workload == "webtext":
            con.register("e", expect)
            return _diff_rows(con, "select * from e",
                              f"select * from {_read(out['text'])}")
        if workload == "crawl_distinct":
            con.register("e", expect["html"])
            con.register("p", expect["pdf"])
            cmp = " or ".join(
                f"(e.{c} is not null and a.{c} is distinct from e.{c})"
                for c in _COLS if c not in ("spans", "html_out"))
            html = (
                f"select count(*) from e left join (select *, {_SPANS_KEY} "
                f"as spans_key from {_read(out['text'])}) a using (url) "
                f"where a.url is null or a.err is not null or {cmp} or "
                f"(e.spans is not null and a.spans_key is distinct from "
                f"e.spans)")
            pdf = (f"select count(*) from p left join {_read(out['pdf'])} a "
                   f"using (url) where a.url is null or a.err is not null or "
                   f"a.text is distinct from p.text or "
                   f"a.n_pages is distinct from p.n_pages")
            extra = (f"(select count(*) - count(distinct url) from "
                     f"{_read(out['text'])}) + (select count(*) - "
                     f"count(distinct url) from {_read(out['pdf'])})")
            return con.execute(
                f"select ({html}) + ({pdf}) + {extra}").fetchone()[0]
        con.register("e", expect)
        text = (f"select count(*) from (select *, {_SPANS_KEY} as spans_key, "
                f"split_part(url, '/', 5) as key from {_read(out['text'])}) a "
                f"left join e using (key) where e.key is null or "
                f"a.main_text is distinct from e.main_text or "
                f"a.spans_key is distinct from e.spans")
        nodes = (f"select count(*) from (select url, count(*) as n from "
                 f"{_read(out['nodes'])} group by url) a left join e on "
                 f"e.key = split_part(a.url, '/', 5) "
                 f"where a.n is distinct from e.n_elements")
        lost = (f"(select {2 * rows} - (select count(distinct url) from "
                f"{_read(out['text'])}) - (select count(distinct url) from "
                f"{_read(out['nodes'])}) + (select count(*) - count(distinct "
                f"url) from {_read(out['text'])}))")
        return con.execute(
            f"select ({text}) + ({nodes}) + {lost}").fetchone()[0]
    finally:
        con.close()


def serialize_failures(expect_html: pa.Table, got: pa.Table) -> tuple[int, int]:
    """(rows checked, rows failed) of serialize(parse(html)) against the
    ``*_serialized_expr`` twins of the messy and hostile shapes."""
    con = duckdb.connect()
    try:
        con.register("e", expect_html)
        con.register("g", got)
        want = "select url, html_out from e where html_out is not null"
        n = con.execute(f"select count(*) from ({want})").fetchone()[0]
        bad = con.execute(
            f"select count(*) from ({want}) w left join g using (url) "
            f"where g.html_out is distinct from w.html_out").fetchone()[0]
        return n, bad
    finally:
        con.close()
