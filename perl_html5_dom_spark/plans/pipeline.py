"""Scale mechanics for the 10^12-document extraction pipeline
(BASELINE.json north_rule): salted repartitioning for skewed giant
documents, per-partition lineage rows + metrics, and checkpoint-based
resume that replays only missing url ranges.

Everything is plain DataFrame ops — no custom Catalyst rules needed
(SURVEY.md §4): the cost lives in one explicit shuffle (the salt) and
idempotent parquet writes (write-audit-publish per batch).

At 100 TB:
  * ``salted_repartition`` breaks both url-hash hotspots and the
    giant-document skew (a 500 MB page must not serialize a straggler
    partition — the size bucket spreads heavy rows over the salt space).
  * lineage rows are tiny (one per bucket) and appended to a lineage
    table; ``resume_filter`` anti-joins completed buckets so a restarted
    job re-reads only missing work.  Idempotency comes from bucket-keyed
    DYNAMIC PARTITION OVERWRITE on the output: a rerun of a bucket whose
    data committed but whose lineage row did not (crash between the two)
    REPLACES that bucket's partition instead of appending a second copy.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

#: html size (bytes) above which a document is "giant" and gets its own
#: salt stripe so a handful of huge pages can't straggle one task
GIANT_HTML_BYTES = 4 << 20

#: salt stripes per url hash in :func:`salted_repartition`
SALT_BUCKETS = 16


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Repartition pages (url, html) by salted url-hash.

    partition key = xxhash64(url) spread over ``SALT_BUCKETS`` stripes,
    with giant documents additionally striped by their size bucket so
    co-located heavy rows split apart.  Deterministic (no rand()) —
    replays produce identical placement, which resume relies on."""
    salt = (
        F.pmod(F.xxhash64(F.col("url")), F.lit(SALT_BUCKETS))
        + F.when(F.length(F.col("html")) > GIANT_HTML_BYTES,
                 F.pmod(F.length(F.col("html")), F.lit(SALT_BUCKETS)))
        .otherwise(F.lit(0))
    )
    return df.repartition(num_partitions, F.xxhash64(F.col("url")), salt)


def bucket_of(buckets: int = 1024):
    """Stable work-bucket id of ``url`` for lineage/resume (url-range
    analog)."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(buckets)).cast("int")


def extract_with_lineage(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    lineage_path: str,
    extract_fn: Callable[[DataFrame], DataFrame],
    buckets: int = 64,
    batch_buckets: int = 16,
) -> dict:
    """Checkpointed extraction: process work buckets in batches with
    write-audit-publish per batch.

    1. WRITE the batch's rows partitioned by ``_bucket`` with dynamic
       partition overwrite — only the written buckets' partitions are
       replaced, everything else is untouched.  A bucket that committed
       data but crashed before its lineage row simply gets re-extracted
       and OVERWRITTEN on rerun — zero duplicate rows, so the resume is
       idempotent at every crash point.
    2. AUDIT by reading back only this batch's committed partitions
       (partition pruning — never the cumulative table) and counting
       per bucket.
    3. PUBLISH lineage rows (bucket, status, n_rows, wall_s, ts) only
       after the audit.

    ``extract_fn`` output must retain the ``url`` column (the bucket
    key is recomputed on the output side so data and lineage agree).

    Returns run metrics {processed_buckets, skipped_buckets, n_urls}
    where n_urls counts rows committed by THIS run.
    """
    pages = pages.withColumn("_bucket", bucket_of(buckets=buckets))
    done = completed_buckets(spark, lineage_path)
    todo = sorted(set(range(buckets)) - done)
    processed = n_urls_total = n_err_total = 0
    for i in range(0, len(todo), batch_buckets):
        chunk = todo[i:i + batch_buckets]
        t0 = time.time()
        batch = pages.filter(F.col("_bucket").isin(chunk))
        out = extract_fn(batch.drop("_bucket")).withColumn(
            "_bucket", bucket_of(buckets=buckets))
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(output_path)
        )
        # audit: committed files of THIS batch only; when the extractor
        # emits the containment column, fold per-bucket error counts
        # into the lineage rows so a 10^12-doc run's bad pages are
        # visible per url-range, not just in logs
        committed = spark.read.parquet(output_path).filter(
            F.col("_bucket").isin(chunk))
        err_agg = (F.count(F.col("err")) if "err" in committed.columns
                   else F.lit(0)).alias("n_err")
        audit = {
            int(r["_bucket"]): (int(r["n"]), int(r["n_err"])) for r in
            committed.groupBy("_bucket")
            .agg(F.count("*").alias("n"), err_agg).collect()
        }
        wall = time.time() - t0
        rows = [(int(b), "done", audit.get(int(b), (0, 0))[0],
                 audit.get(int(b), (0, 0))[1],
                 float(round(wall, 3)), float(time.time())) for b in chunk]
        spark.createDataFrame(
            rows, "bucket int, status string, n_rows bigint, n_err bigint, "
                  "wall_s double, ts double"
        ).write.mode("append").parquet(lineage_path)
        processed += len(chunk)
        n_urls_total += sum(n for n, _ in audit.values())
        n_err_total += sum(e for _, e in audit.values())
    return {
        "processed_buckets": processed,
        "skipped_buckets": len(done),
        "n_urls": n_urls_total,
        "n_err": n_err_total,
    }


def completed_buckets(spark: SparkSession, lineage_path: str) -> set[int]:
    try:
        lin = spark.read.parquet(lineage_path)
    except Exception:
        return set()
    return {
        r.bucket for r in
        lin.filter(F.col("status") == "done").select("bucket").distinct().collect()
    }


def resume_filter(spark: SparkSession, pages: DataFrame,
                  lineage_path: str, buckets: int = 64) -> DataFrame:
    """Anti-join pages against completed lineage buckets (the scale form:
    a broadcast anti-join on the tiny lineage side)."""
    done = completed_buckets(spark, lineage_path)
    if not done:
        return pages
    done_df = spark.createDataFrame([(b,) for b in sorted(done)], "_bucket int")
    return (
        pages.withColumn("_bucket", bucket_of(buckets=buckets))
        .join(F.broadcast(done_df), "_bucket", "left_anti")
        .drop("_bucket")
    )
