"""Benchmark-contamination detection + corpus n-gram statistics.

Training-data pipelines must drop documents that contain eval-set
strings before training ("decontamination": the n-gram-overlap rule
published with GPT-3, appendix C, and used by most open corpora since).
The standard formulation: a document is contaminated w.r.t. a benchmark
item when the fraction of the item's word n-grams that also occur in
the document exceeds a threshold.

This is a pure equi-join problem, not a scan problem:

* the benchmark side is tiny (eval sets are 10^3-10^5 strings) — its
  hashed n-grams BROADCAST to every executor, so the 100 TB document
  side is matched map-side with zero shuffle of document text;
* the only shuffle carries (doc_id, bench_id) hit pairs — a few rows
  per *matching* document, nothing for the clean 99.9%;
* hashes are the same 60-bit md5 scheme as operators/dedup.py ``H()``,
  so the DuckDB oracle reproduces every count bit-for-bit.

``top_ngrams`` is the companion corpus-statistics operator (document
frequency of word n-grams): one explode + one partial-agg groupBy +
a total-order top-k — the shape that survives any scale because the
shuffle carries (ngram, partial count), never documents.

The reference engine operates per-document and has no corpus-level
surface (SURVEY.md §2 maps its scope); this module is part of the
beyond-the-reference training-data layer (dedup/ANN/textstats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import spread_partitions
from .dedup import H, _shingles

SPARK = "spark"
DUCK = "duck"

#: bench derivation constants — every BENCH_MOD-th doc donates tokens
#: BENCH_START..BENCH_START+BENCH_LEN-1 as one synthetic eval item
BENCH_MOD = 17
BENCH_REM = 3
BENCH_START = 2
BENCH_LEN = 12


def bench_items_sql(dialect: str, source: str = "documents") -> str:
    """Deterministic synthetic benchmark set: every 17th document
    donates a 12-token slice as one eval item (bench_id, bench_text).
    Same arithmetic in both dialects, so the oracle regenerates the
    identical set."""
    last = BENCH_START + BENCH_LEN - 1
    if dialect == SPARK:
        slc = f"array_join(slice(split(text, ' '), {BENCH_START}, {BENCH_LEN}), ' ')"
    else:
        slc = f"array_to_string(string_split(text, ' ')[{BENCH_START}:{last}], ' ')"
    return (
        f"select doc_id as bench_id, {slc} as bench_text "
        f"from {source} where doc_id % {BENCH_MOD} = {BENCH_REM}"
    )


def ngram_overlap(docs: DataFrame, bench: DataFrame, n: int = 5,
                  threshold: float = 0.5) -> DataFrame:
    """(doc_id, bench_id, overlap, bench_ngrams, overlap_frac,
    contaminated) for every document sharing >= 1 word n-gram with a
    benchmark item.

    docs: (doc_id, text); bench: (bench_id, bench_text).  The bench
    n-gram table and its per-item sizes broadcast; matching is map-side
    against the big scan, and only hit pairs shuffle.

    The map-side shingle+hash pass over the document side runs on at
    least the session's parallelism (``util.spread_partitions``)."""
    docs = spread_partitions(docs.select("doc_id", "text"))
    bsh = _shingles(
        bench.selectExpr("bench_id as doc_id", "bench_text as text"), k=n,
    ).selectExpr("doc_id as bench_id", f"{H('shingle')} as h")
    bsizes = bsh.groupBy("bench_id").agg(
        F.count("*").alias("bench_ngrams"))
    dsh = _shingles(docs, k=n).selectExpr("doc_id", f"{H('shingle')} as h")
    hits = (
        dsh.join(F.broadcast(bsh), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("overlap"))
    )
    return hits.join(F.broadcast(bsizes), "bench_id").selectExpr(
        "doc_id", "bench_id",
        "cast(overlap as bigint) as overlap",
        "cast(bench_ngrams as bigint) as bench_ngrams",
        "round(overlap / bench_ngrams, 6) as overlap_frac",
        f"overlap / bench_ngrams >= {threshold} as contaminated",
    )


def top_ngrams(docs: DataFrame, n: int = 2, k: int = 100) -> DataFrame:
    """(ngram, df): the k word n-grams with the highest document
    frequency; total order (df desc, ngram asc) makes the cut
    deterministic.  Partial aggregation keeps the shuffle narrow."""
    sh = _shingles(docs, k=n)          # distinct per doc -> df semantics
    return (
        sh.groupBy(F.col("shingle").alias("ngram"))
        .agg(F.count("*").cast("bigint").alias("df"))
        .orderBy(F.desc("df"), F.asc("ngram"))
        .limit(k)
    )


def duck_shingles_sql(n: int, source: str = "documents") -> str:
    """DuckDB twin of dedup._shingles at arbitrary n (the module-level
    oracle uses k=3; contamination needs n=5)."""
    parts = " || ' ' || ".join(f"t[i+{d}]" for d in range(n))
    return (
        f"select doc_id, unnest(list_distinct(case when len(t) >= {n} then "
        f"list_transform(generate_series(1, len(t) - {n - 1}), "
        f"i -> {parts}) else [text] end)) as shingle "
        f"from (select doc_id, text, string_split(text, ' ') as t from {source})"
    )
