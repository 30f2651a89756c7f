"""URL canonicalization for crawl-scale dedup.

A crawl sees the same document under many url spellings: mixed-case
scheme/host, default ports, fragments, tracking parameters, trailing
``?``/``&`` litter.  Canonicalizing BEFORE url-keyed dedup/partitioning
is the standard first stage of a web pipeline (the reference operates on
per-document trees and leaves url handling to the caller; this is part
of the beyond-the-reference training-data surface, like dedup/ANN).

Everything is JVM-side ``regexp_replace``/``lower`` column expressions —
no Python in the hot path — emitted by the same two-dialect builder
pattern as sources/pages.py so the DuckDB oracle applies the IDENTICAL
transformation text (only the replacement-group syntax differs: Spark
uses ``$1``, DuckDB uses ``\\1``).

Normalization steps (order matters):

1. strip the fragment (``#...``),
2. lowercase the scheme://host prefix (path/query case is significant),
3. drop default ports (``:80`` for http, ``:443`` for https),
4. drop tracking parameters (``utm_*``, ``fbclid``, ``gclid``,
   ``msclkid``), then tidy separator litter (``?&`` -> ``?``, ``&&`` ->
   ``&``, trailing ``?``/``&``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SPARK = "spark"
DUCK = "duck"

#: (pattern, spark replacement, duck replacement) applied in order.
#: Patterns must be RE2-compatible (DuckDB): no lookarounds; Spark
#: SQL string literals eat single backslashes, so patterns are
#: backslash-doubled for that dialect at build time.
_STEPS: list[tuple[str, str, str]] = [
    # 1. fragment
    (r"#.*$", "", ""),
    # 3. default ports (before host-lowercasing is fine: digits only)
    (r"^(https?://[^/:?#]+):(?:80|443)([/?#]|$)", "$1$2", r"\1\2"),
    # 4a. '&'-separated tracking params (2nd and later) drop cleanly
    (r"&(?:utm_[A-Za-z]+|fbclid|gclid|msclkid)=[^&#]*", "", ""),
    # 4b. a tracking param right after '?' followed by another param:
    # the '?' survives, the param and ITS '&' go
    (r"\?(?:utm_[A-Za-z]+|fbclid|gclid|msclkid)=[^&#]*&", "?", "?"),
    # 4c. a lone tracking param after '?': the whole query goes
    (r"\?(?:utm_[A-Za-z]+|fbclid|gclid|msclkid)=[^&#]*$", "", ""),
    # 4d. trailing separator litter
    (r"[?&]+$", "", ""),
]

#: host prefix for the lowercase step
_HOST_RE = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"


def normalize_url_expr(dialect: str) -> str:
    """SQL expression canonicalizing ``url`` (identical semantics in
    Spark SQL and DuckDB)."""
    e = "url"
    # steps that precede host-lowercasing: fragment strip only (the
    # port strip pattern is case-sensitive on the scheme, so lowercase
    # the prefix first, then strip ports/params)
    def _p(pat: str) -> str:
        # Spark SQL single-quoted literals process backslash escapes
        return pat.replace("\\", "\\\\") if dialect == SPARK else pat

    pat, srep, drep = _STEPS[0]
    e = f"regexp_replace({e}, '{_p(pat)}', '')"
    # 2. lowercase the scheme://host prefix: concat(lower(prefix), rest)
    if dialect == SPARK:
        e = (f"concat(lower(regexp_extract({e}, '{_HOST_RE}', 1)), "
             f"regexp_replace({e}, '{_HOST_RE}', ''))")
    else:
        e = (f"lower(coalesce(regexp_extract({e}, '{_HOST_RE}', 1), '')) || "
             f"regexp_replace({e}, '{_HOST_RE}', '')")
    for pat, srep, drep in _STEPS[1:]:
        rep = srep if dialect == SPARK else drep
        e = f"regexp_replace({e}, '{_p(pat)}', '{rep}')"
    return e


def normalize_urls(df: DataFrame) -> DataFrame:
    """Adds ``canonical_url``, the canonical form of ``url`` (pure JVM
    column expressions)."""
    return df.withColumn("canonical_url",
                         F.expr(normalize_url_expr(SPARK)))


def dedup_by_url(df: DataFrame) -> DataFrame:
    """(canonical_url, n_variants, first_url): url-duplicate groups —
    one shuffle on the canonical key; at 100 TB this is the url-hash
    partitioning key for everything downstream."""
    return (
        normalize_urls(df)
        .groupBy("canonical_url")
        .agg(F.count("*").cast("bigint").alias("n_variants"),
             F.min("url").alias("first_url"))
    )


def host_stats(df: DataFrame) -> DataFrame:
    """(host, n_urls, n_unique_paths): per-domain crawl statistics —
    the grouping every politeness/curation policy keys on (per-domain
    caps, domain-level quality priors).  ``parse_url`` host extraction
    is JVM-side; one shuffle on host.  At 100 TB the host groupBy is
    the natural partitioner (domains are the unit of skew — use the
    existing salted repartition for megadomains)."""
    return (
        df.select(
            F.expr("parse_url(url, 'HOST')").alias("host"),
            F.expr("parse_url(url, 'PATH')").alias("path"))
        .groupBy("host")
        .agg(F.count("*").cast("bigint").alias("n_urls"),
             F.countDistinct("path").cast("bigint").alias("n_unique_paths"))
    )


def url_pattern_traps(df: DataFrame, min_urls: int = 100) -> DataFrame:
    """Crawl-trap pattern mining: generalize every URL by collapsing
    digit runs in its path+query to ``N`` (``/2024/01/31?page=7`` →
    ``/N/N/N?page=N``) and surface the (host, pattern) groups with at
    least ``min_urls`` members — calendars, pagination wheels, session
    ids and faceted-search explosions that flood a frontier with
    near-identical URLs.  A politeness policy caps or blocks the hot
    patterns (the standard Heritrix/Common-Crawl frontier rule).

    Scale shape: the generalization is one JVM ``regexp_replace``
    projection; the groupBy on (host, pattern) is partial-aggregable
    (hot patterns collapse map-side — the whole point is that these
    groups are huge) and carries ``min(url)`` as a deterministic
    exemplar.  One shuffle of (host, pattern) rows, no Python.

    Returns (host, pattern, n_urls, example_url), filtered to
    ``n_urls >= min_urls``.
    """
    return (
        df.select(
            F.expr("parse_url(url, 'HOST')").alias("host"),
            F.expr(
                "regexp_replace(concat("
                "coalesce(parse_url(url, 'PATH'), ''), "
                "case when parse_url(url, 'QUERY') is not null "
                "then '?' || parse_url(url, 'QUERY') else '' end"
                "), '[0-9]+', 'N')").alias("pattern"),
            F.col("url").alias("u"))
        .groupBy("host", "pattern")
        .agg(F.count("*").cast("bigint").alias("n_urls"),
             F.min("u").alias("example_url"))
        .where(F.col("n_urls") >= min_urls)
    )


# ---------------------------------------------------------------------------
# deterministic messy-url relation for the correctness oracle: each doc
# yields 4 spellings (v = variant id); the expected canonical form is
# pure arithmetic over (doc_id, v) — independent of the normalizer.
# ---------------------------------------------------------------------------

def messy_urls_sql(dialect: str, docs_rel: str) -> str:
    n = f"cast(doc_id as {'string' if dialect == SPARK else 'varchar'})"
    if dialect == SPARK:
        vs = f"select doc_id, explode(sequence(0, 3)) as v from {docs_rel}"
    else:
        vs = (f"select doc_id, unnest(generate_series(0, 3)) as v "
              f"from {docs_rel}")
    return (
        f"select doc_id, v, case v "
        f"when 0 then 'https://example.org/doc/' || {n} "
        f"when 1 then 'HTTPS://EXAMPLE.ORG/doc/' || {n} || '#frag' "
        f"when 2 then 'https://example.org:443/doc/' || {n} "
        f"  || '?utm_source=x&utm_campaign=y' "
        f"else 'https://example.org/doc/' || {n} || '?id=' || {n} "
        f"  || '&fbclid=abc' end as url "
        f"from ({vs})"
    )


def expected_canonical_expr(dialect: str) -> str:
    """Arithmetic expected value (NOT derived from the normalizer)."""
    n = f"cast(doc_id as {'string' if dialect == SPARK else 'varchar'})"
    return (
        f"case when v = 3 then 'https://example.org/doc/' || {n} "
        f"|| '?id=' || {n} "
        f"else 'https://example.org/doc/' || {n} end"
    )


def latest_snapshot(df: DataFrame) -> DataFrame:
    """Incremental crawl merge: keep the newest capture (``warc_ts``)
    per ``url``.

    A recrawl sees every URL many times; the corpus a pipeline trains
    on is "latest capture wins".  Formulated as ONE partial-aggregable
    ``max(struct(ts, rest...))`` groupBy — duplicate captures combine
    map-side before the shuffle, unlike the window row_number form
    which must shuffle every capture (same skew-safety argument as
    dedup.line_dedup; the oracle uses the window form independently).
    Ties on ts break by the remaining columns in order — deterministic.
    """
    rest = [c for c in df.columns if c not in ("url", "warc_ts")]
    agg = F.max(F.struct("warc_ts", *rest)).alias("_w")
    return df.groupBy("url").agg(agg).select("url", "_w.*")


def crawl_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff between two crawls of the same url space:
    (url, status added|removed|changed|unchanged, old_md5, new_md5).

    One full-outer equi-join on the key — each side shuffles once on
    url (or not at all when both sides are bucketed by url, see
    plans.bucketing) — comparing content digests computed map-side, so
    the join rows carry 32-byte digests, never document text.  The
    incremental-crawl planner consumes this to fetch only
    added|changed urls."""
    o = old.select("url", F.md5(F.col("text")).alias("old_md5"))
    n = new.select("url", F.md5(F.col("text")).alias("new_md5"))
    return (
        o.join(n, "url", "full_outer")
        .selectExpr(
            "url",
            "case when old_md5 is null then 'added' "
            "when new_md5 is null then 'removed' "
            "when old_md5 = new_md5 then 'unchanged' "
            "else 'changed' end as status",
            "old_md5", "new_md5")
    )
