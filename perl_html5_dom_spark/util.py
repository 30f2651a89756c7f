"""Shared Spark plumbing: the per-document kernel runner and
SparkSession hygiene helpers.

:func:`map_docs` is the one Arrow batch loop of the engine: every
per-document kernel (extraction, node table, CSS matching, PDF text,
quality counts) runs through it, and so does the batch-local memo that
computes each distinct document once per Arrow batch.
:func:`materialize`, :func:`spread_partitions` and
:func:`checkpoint_parquet` are the shared plan-shaping helpers of the
operators.

Several operators lower dialect-portable SQL (the same text a DuckDB
oracle runs) onto Spark via temp views.  A fixed view name is fine for
a single job but collides when two jobs interleave on one shared
SparkSession — :func:`sql_over` gives every call its own name and
drops it immediately (``spark.sql`` analyzes eagerly, so the returned
DataFrame no longer needs the view).
"""

from __future__ import annotations

import contextlib
import itertools
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

_counter = itertools.count()


def map_docs(df: DataFrame, keys, body: str, fn: Callable, schema: str,
             explode: bool = False) -> DataFrame:
    """Run the per-document kernel ``fn(body value)`` in one
    ``mapInPandas`` pass over ``df``.

    The ``keys`` columns pass through to the output unchanged; the
    other columns of ``schema``, in schema order, come from ``fn``:

    * ``explode=False`` — ``fn`` returns one tuple, one value per
      column: one output row per input row;
    * ``explode=True`` — ``fn`` returns ``(n, cols)``, where ``cols``
      maps each column name to a list of ``n`` values: ``n`` output
      rows per input row, its key values repeated on each.  Columns are
      extended whole, so pandas never pivots a row list.

    Batch-local duplicate memo: ``fn`` must be a pure function of the
    body, because it runs once per DISTINCT body value (null included)
    in an Arrow batch and replicas reuse the result.  Web corpora carry
    30-50% byte-identical pages (mirrors, re-crawls, session urls); on
    an all-distinct batch the memo costs one dict probe per row.  It
    dies with the batch, so its memory is bounded by one batch."""
    keys = list(keys)
    struct = StructType.fromDDL(schema)
    vcols = [c for c in struct.names if c not in keys]

    def run(batches: Iterable) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            memo: dict = {}
            get = memo.get
            miss = object()
            hits = []
            for b in pdf[body]:
                r = get(b, miss)
                if r is miss:
                    r = memo[b] = fn(b)
                hits.append(r)
            if explode:
                counts = [n for n, _ in hits]
                out = {k: np.repeat(pdf[k].values, counts) for k in keys}
                for c in vcols:
                    out[c] = col = []
                    for _, cols in hits:
                        col.extend(cols[c])
            else:
                out = {k: pdf[k].values for k in keys}
                vals = zip(*hits) if hits else [()] * len(vcols)
                out.update(zip(vcols, map(list, vals)))
            yield pd.DataFrame(out, columns=struct.names)

    return df.select(*dict.fromkeys(keys + [body])).mapInPandas(
        run, schema=struct)


@contextlib.contextmanager
def temp_view(df: DataFrame) -> Iterator[str]:
    """Register ``df`` under a collision-free unique temp-view name for
    the duration of the block; yields the name.

    The multi-statement sibling of :func:`sql_over` — for query
    builders that reference the same frame from several SQL strings
    (e.g. robots rules + url list).  The view is dropped on exit;
    ``spark.sql`` analyzes eagerly, so DataFrames built inside the
    block stay valid after it."""
    name = f"__v_{next(_counter)}"
    df.createOrReplaceTempView(name)
    try:
        yield name
    finally:
        df.sparkSession.catalog.dropTempView(name)


def sql_over(builder: Callable[..., str], *dfs: DataFrame) -> DataFrame:
    """Run ``builder(name1, name2, ...)`` SQL over the given DataFrames.

    Each DataFrame is registered under a collision-free unique temp-view
    name; the views are dropped before returning (analysis is eager in
    ``spark.sql``), so concurrent jobs sharing one SparkSession never
    observe each other's views.
    """
    spark = dfs[0].sparkSession
    names = []
    for df in dfs:
        name = f"__v_{next(_counter)}"
        df.createOrReplaceTempView(name)
        names.append(name)
    try:
        return spark.sql(builder(*names))
    finally:
        for n in names:
            spark.catalog.dropTempView(n)


def materialize(df: DataFrame) -> DataFrame:
    """persist + eager count: a DataFrame reused on both sides of a
    self-join must be materialized BEFORE the join, or both sides race
    to fill the cache and the upstream tree runs twice."""
    df = df.persist()
    df.count()
    return df


def spread_partitions(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism when it
    arrives with fewer partitions; otherwise return it untouched.

    For operators whose heavy work runs map-side in the scan tasks.
    Small inputs here are single-row-group parquet files, which scan
    as ONE task and would serialize that work on one core; real-scale
    inputs arrive split at or above core count and pass through, so no
    shuffle is added at scale."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        df = df.repartition(want)
    return df


def checkpoint_parquet(df: DataFrame, prefix: str = "ckpt") -> DataFrame:
    """Materialize ``df`` to a fresh session-temp parquet dir and read
    it back — the intra-query intermediate for frames that several
    later stages SCAN repeatedly.

    Rationale (round 6, measured): a ``persist()`` stores deserialized
    InMemoryRelation batches whose repeated scans cost ~3x a
    vectorized parquet read on this engine (the bench.py corpus
    checkpoint documents the same); swapping the webtext pipeline's
    two persists for parquet round-trips took the capstone from
    12.4 s to 7.4 s at sf1.  A fresh ``mkdtemp`` per call means
    nothing is ever reused across invocations — every run recomputes
    from its own inputs (this is plan truncation, not result caching).
    At 100 TB the analog is a reliable checkpoint/staging table."""
    import tempfile

    path = tempfile.mkdtemp(prefix=f"spark_graft_{prefix}_") + "/data"
    df.write.parquet(path)
    return df.sparkSession.read.parquet(path)
