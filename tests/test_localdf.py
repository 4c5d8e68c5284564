"""``localdf.map_docs``: the harness behind the per-document decode
queries. The contract cases need no oracle: each pins what Spark collects
for the rows a generator yields. The last test runs one registered query
of each generator shape against its DuckDB oracle at sf0.001."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.localdf import map_docs

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("byte", T.IntegerType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("label", T.StringType()),
    ]
)


def _docs(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def test_no_docs_and_no_rows_keep_the_schema(spark):
    def none(d):
        return iter(())

    for ids in ([], [1, 2, 3]):
        out = map_docs(_docs(spark, ids), none, SCHEMA)
        assert out.schema == SCHEMA
        assert out.collect() == []


def test_a_doc_yields_zero_one_or_several_rows(spark):
    def rows(d):
        for k in range(d % 3):
            yield d, k, k, True, f"{d}-{k}"

    out = map_docs(_docs(spark, range(6)), rows, SCHEMA)
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (1, 0, 0, True, "1-0"),
        (2, 0, 0, True, "2-0"), (2, 1, 1, True, "2-1"),
        (4, 0, 0, True, "4-0"),
        (5, 0, 0, True, "5-0"), (5, 1, 1, True, "5-1"),
    ]


def test_python_and_numpy_values_land_in_the_declared_types(spark):
    def rows(d):
        yield (
            np.int64(d),
            None if d % 2 else d * 7,
            np.uint8(250 + d),
            np.bool_(d % 2 == 0),
            None if d == 3 else str(d),
        )

    out = map_docs(_docs(spark, range(4)), rows, SCHEMA)
    assert out.schema == SCHEMA
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (0, 0, 250, True, "0"),
        (1, None, 251, False, "1"),
        (2, 14, 252, True, "2"),
        (3, None, 253, False, None),
    ]
    for row in got:
        assert all(v is None or type(v) in (int, bool, str) for v in row)


def test_int_above_int32_raises_instead_of_wrapping(spark):
    def rows(d):
        yield d, 2**31, 0, True, "x"

    with pytest.raises(PythonException, match="Integer value 2147483648 not in range"):
        map_docs(_docs(spark, [1]), rows, SCHEMA).collect()


# one registered query per shape of row generator: column-dict origin
# (png), max_width=8 (gif), per-query constants hoisted out of the
# generator (floor0), several rows per document (ogg_packets,
# scan_archive_entries), and a crawl text extractor (pdf)
@pytest.mark.parametrize(
    "name",
    [
        "multimodal_png_decode",
        "multimodal_gif_decode",
        "multimodal_ogg_floor0",
        "multimodal_ogg_packets",
        "text_pdf_extract",
        "scan_archive_entries",
    ],
)
def test_map_docs_query_matches_its_oracle(spark, sf_dir, name):
    import verify_local

    passed, failed, rows_only = verify_local.run(sf_dir, [name], quiet=True)
    assert (passed, failed, rows_only) == ([name], [], [])
