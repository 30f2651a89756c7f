"""Bucketed storage for co-located url-keyed joins.

Most of this pipeline's expensive relational work keys on ``url``
(snapshot diff, structural node joins, lineage audits, dedup-by-url).
Writing the extracted corpus BUCKETED by url hash means every
downstream equi-join on url reads both sides pre-partitioned: Spark
plans a sort-merge join with NO Exchange on either side — at 100 TB
that deletes the single largest shuffle in the pipeline, and it is the
parquet/Hive analog of what the Iceberg table's bucket partition
transform gives the production deployment.

``bucketBy`` is only valid with ``saveAsTable`` (the bucketing
metadata lives in the catalog, not the files), so these helpers speak
table names; set ``spark.sql.warehouse.dir`` to place the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(df: DataFrame, table: str, buckets: int = 64) -> None:
    """Persist ``df`` as a parquet table bucketed (and sort-ordered)
    by ``url``, replacing any previous table — sorted buckets also skip
    the SMJ sort."""
    (df.write.mode("overwrite")
     .bucketBy(buckets, "url")
     .sortBy("url")
     .format("parquet")
     .saveAsTable(table))


def bucketed_join_is_shuffle_free(a: DataFrame, b: DataFrame) -> bool:
    """True when the equi-join of two (bucketed) frames on ``url``
    plans with no Exchange — the verification hook used by tests and
    plan audits."""
    plan = (a.join(b, ["url"])._jdf.queryExecution()
            .executedPlan().toString())
    return "Exchange" not in plan
