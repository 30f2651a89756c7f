"""PII detection and redaction over web text.

Web crawls leak emails, IPs and phone numbers; scrubbing them is a
standard compliance pass in training-data pipelines (C4 and most open
corpora ship with some form of it).  Everything here is JVM-side
``regexp_extract_all`` / ``regexp_replace`` column expressions inside
whole-stage codegen — no Python in the hot path, one pass over the
text, no shuffle at all (per-row projection), so the operator's cost
at 100 TB is exactly the scan.

Patterns are RE2-compatible (no lookarounds) so the DuckDB oracle runs
the IDENTICAL pattern text; only two dialect seams exist and both are
handled at build time:

* Spark single-quoted SQL literals eat one level of backslashes
  (``\\b`` must be written ``\\\\b``), DuckDB does not;
* DuckDB's ``regexp_replace`` replaces the first match unless given
  the ``'g'`` flag; Spark's always replaces all.

The reference engine has no corpus surface (it parses one document);
this module belongs to the beyond-the-reference training-data layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from ..util import sql_over

SPARK = "spark"
DUCK = "duck"

#: name -> (RE2-compatible pattern, redaction token), applied in order
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
]


def _lit(pat: str, dialect: str) -> str:
    return pat.replace("\\", "\\\\") if dialect == SPARK else pat


def pii_messy_sql(dialect: str, source: str = "documents") -> str:
    """Deterministic PII injection view (doc_id, text): appends a
    synthetic email / IPv4 / phone tail to arithmetically-chosen rows so
    the scan/redact oracles have known positives — same derivation in
    both dialects, no external data."""
    def s(e: str) -> str:
        # STRING casts exist in both engines; int || string does not
        return f"cast({e} as string)"

    email = f"' contact user' || {s('doc_id * 7 % 1000')} || '@mail.example.org'"
    ip = (f"' from 10.' || {s('doc_id % 256')} || '.' || {s('doc_id * 3 % 256')} "
          f"|| '.' || {s('doc_id * 11 % 256')}")
    phone = (f"' call +1-' || {s('100 + doc_id % 900')} || '-' "
             f"|| {s('100 + doc_id * 3 % 900')} || '-' || {s('1000 + doc_id * 7 % 9000')}")
    return (
        f"select doc_id, text "
        f"|| (case when doc_id % 7 = 2 then {email} else '' end) "
        f"|| (case when doc_id % 11 = 3 then {ip} else '' end) "
        f"|| (case when doc_id % 13 = 4 then {phone} else '' end) as text "
        f"from {source}"
    )


def _count_expr(pat: str, dialect: str) -> str:
    """Match count of ``pat`` in ``text``."""
    p = _lit(pat, dialect)
    # explicit group 0: Spark's default group index is 1 (errors when
    # the pattern has no capture group); DuckDB's is already 0
    if dialect == SPARK:
        return f"cast(size(regexp_extract_all(text, '{p}', 0)) as bigint)"
    return f"cast(len(regexp_extract_all(text, '{p}', 0)) as bigint)"


def pii_scan_sql(dialect: str, source: str) -> str:
    """(doc_id, n_email, n_ipv4, n_phone, has_pii) — one codegen'd
    projection, emitted for either engine."""
    counts = [
        f"{_count_expr(pat, dialect)} as n_{name}"
        for name, pat, _ in PII_PATTERNS
    ]
    total = " + ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return (
        f"select doc_id, {', '.join(f'n_{n}' for n, _, _ in PII_PATTERNS)}, "
        f"{total} > 0 as has_pii from "
        f"(select doc_id, {', '.join(counts)} from {source})"
    )


def redact_expr(dialect: str) -> str:
    """Nested regexp_replace chain replacing every PII match in ``text``
    with its token (all-occurrence semantics in both engines)."""
    e = "text"
    for _, pat, token in PII_PATTERNS:
        p = _lit(pat, dialect)
        if dialect == SPARK:
            e = f"regexp_replace({e}, '{p}', '{token}')"
        else:
            e = f"regexp_replace({e}, '{p}', '{token}', 'g')"
    return e


def pii_redact_sql(dialect: str, source: str) -> str:
    """(doc_id, redacted_md5, n_redactions): the scrubbed corpus keyed
    by content digest (the compare-friendly shape — full text rides in
    production, the digest pins equality here)."""
    total = " + ".join(
        _count_expr(pat, dialect) for _, pat, _ in PII_PATTERNS)
    return (
        f"select doc_id, md5({redact_expr(dialect)}) as redacted_md5, "
        f"cast({total} as bigint) as n_redactions "
        f"from (select * from {source})"
    )


def pii_scan(docs: DataFrame) -> DataFrame:
    return sql_over(lambda v: pii_scan_sql(SPARK, v), docs)


def pii_redact(docs: DataFrame) -> DataFrame:
    return sql_over(lambda v: pii_redact_sql(SPARK, v), docs)
