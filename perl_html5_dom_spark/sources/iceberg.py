"""Production pages-table source: Iceberg first, parquet fallback.

The north rule's input is an Iceberg table of Common-Crawl-style pages
with columns (url string, warc_ts timestamp, html binary, text string,
lang string).  This module is the one seam where that table enters the
pipeline:

* with the Iceberg runtime on the classpath (a real cluster),
  ``pages_table`` reads the catalog table — snapshot pinning via the
  standard ``snapshot-id`` read option, partition pruning and column
  projection from the table's own spec;
* in environments without the runtime (this sandbox), the same call
  falls back to a parquet directory of identical schema, so every
  downstream operator and test exercises the identical contract.

Schema is VALIDATED here rather than trusted: a drifting upstream
table fails fast at the source boundary, not three stages later in an
Arrow kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: the north-rule input contract (input_hint): name -> Spark type name
PAGES_SCHEMA = {
    "url": "string",
    "warc_ts": "timestamp",
    "html": "binary",
    "text": "string",
    "lang": "string",
}


def _validate(df: DataFrame, required: list[str] | None = None) -> DataFrame:
    have = dict(df.dtypes)
    for name in (required or PAGES_SCHEMA):
        want = PAGES_SCHEMA[name]
        got = have.get(name)
        if got is None:
            raise ValueError(f"pages table missing column {name!r} "
                             f"(have {sorted(have)})")
        if got != want:
            raise ValueError(f"pages table column {name!r} is {got}, "
                             f"expected {want}")
    return df


#: message markers meaning "this environment/name is not an Iceberg
#: table" — the ONLY condition the parquet fallback may absorb.  A
#: genuine Iceberg failure (snapshot not found, commit conflict, schema
#: evolution, corrupt metadata, permissions) matches none of these and
#: propagates (ADVICE r4: a bare `except Exception` silently diverted
#: real errors onto the fallback path).
_NO_ICEBERG_MARKERS = (
    "DATA_SOURCE_NOT_FOUND",          # runtime jar absent (this sandbox)
    "Failed to find the data source",
    "ClassNotFoundException",
    "TABLE_OR_VIEW_NOT_FOUND",        # runtime present, name not a table
    "NoSuchTableException",
    "PARSE_SYNTAX_ERROR",             # a filesystem path used as identifier
    "REQUIRES_SINGLE_PART_NAMESPACE",  # catalog name with no such catalog
    "is not an Iceberg table",
)


def _not_iceberg(exc: Exception) -> bool:
    msg = f"{type(exc).__name__}: {exc}"
    return any(m in msg for m in _NO_ICEBERG_MARKERS)


def pages_table(spark: SparkSession, table: str,
                snapshot_id: int | None = None,
                columns: list[str] | None = None) -> DataFrame:
    """Read the pages table by catalog name (Iceberg) or path (parquet).

    ``snapshot_id`` selects an Iceberg snapshot (time travel —
    reproducing the exact corpus a training run saw); it is rejected on
    the parquet fallback rather than silently ignored.  ``columns``
    prunes the projection AT THE SOURCE so the scan never deserializes
    page bytes a query does not use.

    Only the no-runtime / not-a-table case falls back to parquet; real
    Iceberg errors (snapshot not found, corrupt metadata) propagate.
    """
    reader = spark.read
    try:
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        df = reader.format("iceberg").load(table)
    except Exception as exc:
        if not _not_iceberg(exc):
            raise
        if snapshot_id is not None:
            raise ValueError(
                "time travel requires the Iceberg runtime; the parquet "
                "fallback has no snapshot lineage") from exc
        df = spark.read.parquet(table)
    df = _validate(df, required=columns)
    return df.select(*columns) if columns else df


def write_pages(df: DataFrame, table: str, mode: str = "append") -> None:
    """Write a pages DataFrame to the Iceberg table (or parquet path).

    Appends by default — crawl drops are incremental.  On the parquet
    fallback the rows are partitioned by crawl date (``warc_date``,
    derived from ``warc_ts``) for the time-range pruning a 10^12-row
    table needs; parquet cannot partition on a raw timestamp with
    useful pruning granularity.
    """
    _validate(df)
    try:
        w = df.writeTo(table)
        (w.append() if mode == "append" else w.createOrReplace())
    except Exception as exc:
        # ONLY the no-runtime / not-a-table case may divert to parquet;
        # a real Iceberg write failure (commit conflict, schema
        # evolution, permissions) must fail the job, not silently drop
        # the crawl into a stray directory (ADVICE r4, medium)
        if not _not_iceberg(exc):
            raise
        from pyspark.sql import functions as F

        out = df.withColumn("warc_date", F.to_date("warc_ts").cast("string"))
        (out.write.mode("append" if mode == "append" else "overwrite")
         .partitionBy("warc_date").parquet(table))
