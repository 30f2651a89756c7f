"""Per-document kernel layers, timed in this process on a sample of the
workload's inputs by calling each module's public functions."""

from __future__ import annotations

import statistics

#: layer spans of one HTML document, in call order
HTML_LAYERS = ("dom.encoding", "dom.fastparse", "dom.treebuilder",
               "operators.extract.main_text", "dom.innertext",
               "dom.serializer", "selector.matcher")


def probe(tracer, html: list[bytes], pdf: list[bytes],
          fields: tuple, selector: str | None) -> dict[str, float]:
    """ms/doc per kernel layer over the sample, plus the whole
    ``extract_one`` kernel (mean and p99) and the single-process kernel
    docs/s of the workload's own per-document call."""
    from perl_html5_dom_spark.dom import (
        encoding, fastparse, innertext, serializer, treebuilder)
    from perl_html5_dom_spark.dom.pdf import extract_pdf_text
    from perl_html5_dom_spark.operators import extract
    from perl_html5_dom_spark.selector import matcher

    compiled = matcher.compile_selector(selector or "a[href]")
    kernel = matcher.compile_selector(selector) if selector else None
    span = tracer.span
    bails = 0
    with span("kernels"):
        root = tracer.spans[-1]["id"]
        for h in html:
            with span("dom.encoding"):
                _, text = encoding.sniff_and_decode(h)
            with span("dom.fastparse"):
                doc = fastparse.try_parse(text)
            with span("dom.treebuilder"):
                full = treebuilder.parse(text)
            if doc is None:
                bails += 1
                doc = full
            body = doc.body_node if doc.body_node != -1 else doc.root
            with span("operators.extract.main_text"):
                extract.main_text(doc)
            with span("dom.innertext"):
                innertext.inner_text(doc, body)
            with span("dom.serializer"):
                serializer.serialize(doc, doc.root)
            with span("selector.matcher"):
                matcher.find(doc, compiled)
            with span("operators.extract"):
                extract.extract_one(h, kernel, fields)
        for p in pdf:
            with span("dom.pdf"):
                extract_pdf_text(p)
    per: dict[str, list[float]] = {}
    for s in tracer.spans[root + 1:]:
        per.setdefault(s["name"], []).append((s["end"] - s["start"]) * 1e3)
    ms = {name: statistics.fmean(v) for name, v in per.items()}
    out = {f"{name}.ms_per_doc": ms.get(name, 0.0)
           for name in HTML_LAYERS + ("operators.extract", "dom.pdf")}
    out["operators.extract.main_text_ms_per_doc"] = out.pop(
        "operators.extract.main_text.ms_per_doc")
    ext = per.get("operators.extract", [0.0])
    out["operators.extract.doc_ms_p99"] = (
        statistics.quantiles(ext, n=100)[98] if len(ext) > 1 else ext[0])
    out["dom.fastparse.bail_share"] = bails / len(html) if html else 0.0
    kernel_s = (sum(ext) + sum(per.get("dom.pdf", []))) / 1e3
    out["kernel_docs_per_s"] = (len(html) + len(pdf)) / kernel_s
    return out
