"""Seeded benchmark inputs.

The text corpus is fixed: ``corpus_rows`` synthesises documents with the
shape of the repo's sf0.1 ``documents`` table (the same 30-word
vocabulary, 10-100 words per text, the same language mix, 5% near
duplicates ending in " dup").  The run seed only chooses the document
order, the page-shape assignment and the doc-id offset, so every seed
gives the same row counts and the same duplicate share.

Page bytes come from the repo's own SQL page templates
(``sources/pages.py``), evaluated in DuckDB, and PDF bytes from
``sources/pdfs.pdf_bytes``.  The program under test only sees the
parquet files written here.
"""

from __future__ import annotations

import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

#: q_webtext_pipeline adds 100000 and 200000 to doc ids for its
#: duplicate fan-out, so every generated id stays below this
ID_LIMIT = 100_000
#: input files per table: Spark gives each file its own task
N_FILES = 16
CORPUS_SEED = 1

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))

#: HTML page shapes of sources/pages.py.  crawl_distinct gives each of
#: them and the PDFs an equal share of its documents: no measured traffic
#: mix exists for these synthetic shapes, so the mix is a coverage choice
#: that weights every kernel path the same (see README.md)
SHAPES = ("pages", "messy", "hostile", "hostile2")
KINDS = SHAPES + ("pdf",)

SIZES = {
    # html rows + pdf rows, all bodies distinct
    "crawl_distinct": {"docs": 6000},
    # distinct bodies, each served under `copies` adjacent urls
    "crawl_mirror": {"docs": 1500, "copies": 8},
}
#: documents of crawl_distinct that its traced run feeds to the stages of
#: q_webtext_pipeline (the DuckDB twin of that chain grows fast with size)
WEBTEXT_DOCS = 1000


def corpus_rows(n: int) -> list[tuple[str, str]]:
    """The fixed (text, lang) corpus; row i never depends on n."""
    rng = random.Random(CORPUS_SEED)
    langs = [lang for lang, w in LANGS for _ in range(w)]
    rows: list[tuple[str, str]] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            text = rows[rng.randrange(i)][0] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB)
                            for _ in range(rng.randint(10, 100)))
        rows.append((text, rng.choice(langs)))
    return rows


def documents(seed: int, n: int) -> pa.Table:
    """``documents`` table (doc_id, text, lang, source, n_chars): the
    fixed corpus under a seeded order and id offset."""
    rng = random.Random(seed)
    rows = corpus_rows(n)
    rng.shuffle(rows)
    base = rng.randrange(ID_LIMIT - n)
    ids = list(range(base, base + n))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [t for t, _ in rows],
        "lang": [lang for _, lang in rows],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t, _ in rows], pa.int64()),
    })


def write_files(table: pa.Table, path: str, n_files: int = N_FILES) -> None:
    """Write ``table`` as ``n_files`` parquet files under dir ``path``."""
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


def _shape_select(shape: str, rel: str) -> str:
    from perl_html5_dom_spark.sources import pages as pg

    builder = {"pages": pg.pages_select_sql, "messy": pg.messy_select_sql,
               "hostile": pg.hostile_select_sql,
               "hostile2": pg.hostile2_select_sql}[shape]
    return builder(pg.DUCK, rel)


def split_shapes(seed: int, docs: pa.Table) -> dict[str, pa.Table]:
    """Seeded assignment of documents to the HTML shapes and PDFs, an
    equal share each."""
    idx = list(range(docs.num_rows))
    random.Random(seed + 1).shuffle(idx)
    return {kind: docs.take(sorted(idx[k::len(KINDS)]))
            for k, kind in enumerate(KINDS)}


def build(workload: str, seed: int, dest: str) -> dict:
    """Write the inputs of ``workload`` under ``dest``; returns
    {"rows": input rows per pass, "docs": documents table, ...}."""
    size = SIZES[workload]
    docs = documents(seed, size["docs"])
    os.makedirs(dest, exist_ok=True)
    con = duckdb.connect()
    info = {"rows": docs.num_rows, "docs": docs}
    if workload == "crawl_distinct":
        parts = split_shapes(seed, docs)
        html = []
        for shape in SHAPES:
            con.register("d", parts[shape])
            html.append(con.execute(
                f"select url, encode(html_str) as html "
                f"from ({_shape_select(shape, 'd')})").fetch_arrow_table())
            con.unregister("d")
        html = pa.concat_tables(html)
        order = list(range(html.num_rows))
        random.Random(seed + 2).shuffle(order)
        write_files(html.take(order), os.path.join(dest, "html"))
        write_files(_pdf_table(parts["pdf"]), os.path.join(dest, "pdf"))
        info["shapes"] = parts
        # q_webtext_pipeline reads <dir>/documents.parquet
        info["webtext_docs"] = docs.slice(0, WEBTEXT_DOCS)
        os.makedirs(os.path.join(dest, "webtext"))
        pq.write_table(info["webtext_docs"],
                       os.path.join(dest, "webtext", "documents.parquet"))
    else:
        from perl_html5_dom_spark.sources import pages as pg

        con.register("d", docs)
        # a crawl segment sorted by content digest: the copies of one
        # body sit in adjacent rows
        html = con.execute(
            f"select url, encode(html_str) as html from "
            f"({pg.pages_select_sql(pg.DUCK, 'd', size['copies'])}) "
            f"order by md5(html_str), r").fetch_arrow_table()
        write_files(html, os.path.join(dest, "html"))
        info["rows"] = html.num_rows
    con.close()
    return info


def _pdf_table(docs: pa.Table) -> pa.Table:
    from perl_html5_dom_spark.sources.pdfs import pdf_bytes

    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    return pa.table({
        "url": [f"https://example.org/pdf/{i}" for i in ids],
        "pdf": pa.array([pdf_bytes(i, t) for i, t in zip(ids, texts)],
                        pa.binary()),
    })
