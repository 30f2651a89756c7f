"""Spark operator: PDF text + layout extraction over a binary column.

Mirrors :mod:`.extract` for HTML: an Arrow :func:`..util.map_docs` kernel
over ``(url, pdf binary)`` running the from-scratch parser in
:mod:`..dom.pdf`.  One document = one task unit (same data-parallelism
rationale as HTML parse; reference guidance on intra-parse threading,
/root/reference/lib/HTML5/DOM.pod:3228-3230), so throughput scales with
executors and the 100 TB plan is a pruned binary-column scan feeding
the kernel — no shuffle, no driver data movement.

Malformed PDFs are a fact of crawl corpora: parse failures emit a row
with ``n_pages = 0`` and the error class in ``err`` instead of failing
the task (the lineage pipeline counts them per partition).
"""

from __future__ import annotations

from ..dom.pdf import extract_pdf_text
from ..util import map_docs

PDF_SCHEMA = "url string, n_pages int, text string, err string"


def extract_pdfs(df):
    """DataFrame(url, pdf) → DataFrame(url, n_pages, text, err).

    The output is a pure function of the pdf bytes, so
    :func:`..util.map_docs` parses each distinct file once per batch."""

    def one(data) -> tuple:
        if data is None:
            return 0, "", None
        try:
            n, text = extract_pdf_text(bytes(data))
        except Exception as exc:  # noqa: BLE001 — crawl-grade
            return 0, "", type(exc).__name__
        return n, text, None

    return map_docs(df, ["url"], "pdf", one, PDF_SCHEMA)
