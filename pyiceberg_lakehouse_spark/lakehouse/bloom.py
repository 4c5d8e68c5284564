"""Per-file bloom filters for point-lookup file skipping.

Min/max bounds (stats.py) prune range predicates, but an equality probe on a
high-cardinality key (``o_orderkey = 4242``) defeats them: every file's
[min, max] spans the key space, so nothing skips. A bloom filter per file
and column proves a key absent; the filters of a commit's files are built
in ONE distributed pass over the freshly written files.

Layout: a data file's bitmaps live beside it, not in the snapshot log. One
hidden sidecar, ``<dir>/.<file name>.bloom``, holds the raw bitmaps of the
file's bloom columns concatenated in sorted-column order. The file's log
entry keeps only the descriptors, ``bloom: {col: {m, k, type, off}}``,
``off`` being the bitmap's byte offset in the sidecar (its length is m/8
rounded up). The sidecar path derives from the data path, so the log names
no sidecar: an entry copied verbatim (shallow clone) or a table directory
moved whole (rename) still finds it. A table log holds file metadata and
leaves bulky per-file payloads outside it, as Delta Lake's does (Armbrust
et al., VLDB 2020); Iceberg's Parquet bloom filters likewise live in the
data files, not in its manifests. Logs written before sidecars hold each
bitmap inline as base64 ``bits``, and those descriptors probe unchanged.

Lifetime: ``add_table_blooms`` writes the sidecar before the commit naming
its file publishes, and the sidecar leaves with its file: maintenance
unlinks every table file through ``remove_table_file``, which also drops
its sidecars, this one and Hadoop's ``.<name>.crc`` checksum (the leading
dot is Hadoop's convention, so Spark's file listing skips both). A sidecar
whose file is gone (a writer that died before its commit) is swept by
``remove_orphan_files``. A bitmap that cannot be read keeps its file:
skipping stays conservative.

Hashing is Spark's ``xxhash64`` (JVM-side, whole-stage codegen) with the
Kirsch-Mitzenmacher double-hashing scheme: position_i = (h1 + i*h2) mod m,
h1 = xxhash64(col), h2 = xxhash64(col, 'bloom2'). The probe hashes its
value through a 1-row Spark job and reduces the two hashes mod each
file's m on the driver, so build and probe can never disagree on the hash
function, and one job serves every filter size.

Sizing: each file's filter is sized to its own row count (``bloom_bits``):
m is the smallest power of two at or above 8 bits per row, at least 64
bits and at most ``write.bloom-bits`` (default 8192 = 1 KiB/file/column).
A file holds at most as many distinct keys as rows, so at k=4 the
false-positive rate stays at or below 2.4% while the ceiling is not
reached, and a 4-row file carries 8 bytes of bitmap instead of 1 KiB.
Past ceiling/8 rows the filter fills up: at the 8192 default FP is ~1% up
to ~800 distinct keys per file and saturates (FP -> 1, no pruning) past a
few thousand, so raise ``write.bloom-bits`` to ~10x the distinct keys of a
full-size file (and optionally ``write.bloom-hashes``). At 100 TB with
512 MB files of ~500k distinct keys that's m ~ 5M bits = 640 KiB/file/
column, ~120 GB of bitmaps per column across 200k files: sidecars hold
them and a probe reads only those of the files it is asked about, while
the log carries a few dozen bytes of descriptor per file and column.
Every descriptor records its own m, so filters written under another size
rule probe unchanged.
"""
from __future__ import annotations

import base64
import contextlib
import os
from functools import reduce
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession

from pyiceberg_lakehouse_spark.localdf import local_rows_df
from pyspark.sql import functions as F

DEFAULT_M = 8192
DEFAULT_K = 4
MIN_M = 64

# the hidden sidecars a table file may have: its bloom bitmaps, and the
# checksum Hadoop's local filesystem writes beside every file Spark writes
SIDECARS = (".bloom", ".crc")


def sidecar_path(path: str, suffix: str = ".bloom") -> str:
    """The hidden file ``<dir>/.<name><suffix>`` beside ``path``."""
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}{suffix}")


def remove_table_file(path: str) -> None:
    """Unlink a table file and its sidecars, each if present."""
    for p in (path, *(sidecar_path(path, s) for s in SIDECARS)):
        with contextlib.suppress(FileNotFoundError):
            os.unlink(p)


def bloom_bits(rows: int, max_m: int = DEFAULT_M) -> int:
    """Filter size for a file of ``rows`` rows: the smallest power of two
    at or above ``8 * rows``, clamped to [MIN_M, max_m]."""
    return min(max_m, max(MIN_M, 1 << (8 * rows - 1).bit_length()))


def _positions(col: Column, m: Column, k: int) -> Column:
    """Array of k bit positions for each value (double hashing), for the
    filter size in column ``m``.

    The combination runs entirely mod m — (h1 mod m) + i*(h2 mod m) stays
    below k*m, so ANSI mode never sees a long overflow.
    """
    h1 = F.pmod(F.xxhash64(col), m)
    h2 = F.pmod(F.xxhash64(col, F.lit("bloom2")), m)
    return F.array(*[F.pmod(h1 + F.lit(i) * h2, m) for i in range(k)])


def build_file_blooms(
    spark: SparkSession,
    files: list[dict[str, Any]],
    columns: list[str],
    max_m: int = DEFAULT_M,
    k: int = DEFAULT_K,
) -> dict[str, dict[str, dict[str, Any]]]:
    """path -> {col -> bloom descriptor with its raw bitmap as ``bits``}
    in one distributed pass.

    ``files`` are log entries (``path`` and footer-exact ``rows``); each
    file's m is ``bloom_bits(rows, max_m)``. Files of one size are read by
    one scan that carries their m as a literal column, and the scans are
    unioned, so every file is read once in one job however many sizes
    occur. The pass projects only the bloom columns, explodes map-side to
    (file, col, position) and takes a distinct — at most ``files * cols *
    m`` rows survive to the driver (positions are deduplicated
    executor-side), so driver memory is bounded by the bitmap size, not
    the row count.
    """
    if not files or not columns:
        return {}
    by_m: dict[int, list[str]] = {}
    for f in files:
        by_m.setdefault(bloom_bits(f["rows"], max_m), []).append(f["path"])
    # infer the schema once (a Spark job per read otherwise)
    schema = spark.read.parquet(*[f["path"] for f in files]).select(*columns).schema
    df = reduce(
        DataFrame.unionByName,
        [
            spark.read.schema(schema).parquet(*paths).select(
                F.input_file_name().alias("_file"), F.lit(m).alias("_m"), *columns
            )
            for m, paths in sorted(by_m.items())
        ],
    )
    # xxhash64 hashes int and bigint (and float/double) DIFFERENTLY for the
    # same numeric value, so the probe must cast its literal to the column's
    # exact type — record it in the descriptor.
    col_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    pos_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                _positions(F.col(c), F.col("_m"), k).alias("pos_arr"),
            )
            for c in columns
        ]
    )
    exploded = (
        df.select("_file", "_m", F.explode(pos_structs).alias("s"))
        .select(
            "_file", "_m", F.col("s.col").alias("col"),
            F.explode("s.pos_arr").alias("pos"),
        )
        .distinct()
        .groupBy("_file", "_m", "col")
        .agg(F.collect_list("pos").alias("positions"))
    )
    out: dict[str, dict[str, dict[str, Any]]] = {}
    for row in exploded.collect():
        # input_file_name returns a URI (file:///abs/path, percent-encoded);
        # log entries store plain filesystem paths
        parsed = urlparse(row["_file"])
        path = unquote(parsed.path) if parsed.scheme else row["_file"]
        m = row["_m"]
        bits = bytearray((m + 7) // 8)
        for p in row["positions"]:
            bits[p // 8] |= 1 << (p % 8)
        out.setdefault(path, {})[row["col"]] = {
            "m": m,
            "k": k,
            "type": col_types[row["col"]],
            "bits": bytes(bits),
        }
    return out


def add_table_blooms(table: Any, entries: list[dict[str, Any]]) -> None:
    """Build the table's configured blooms for freshly written file
    entries: ``write.bloom-columns`` names the columns (those that are data
    columns), ``write.bloom-bits`` caps m and ``write.bloom-hashes`` sets
    k. Each file's bitmaps go to its sidecar, and its entry gets their
    descriptors, in place."""
    props = table.log.properties
    data_cols = {f.name for f in table._data_schema().fields}
    columns = [
        c.strip()
        for c in props.get("write.bloom-columns", "").split(",")
        if c.strip() in data_cols
    ]
    blooms = build_file_blooms(
        table.spark,
        entries,
        columns,
        max_m=int(props.get("write.bloom-bits", DEFAULT_M)),
        k=int(props.get("write.bloom-hashes", DEFAULT_K)),
    )
    for e in entries:
        if e["path"] not in blooms:
            continue
        descs, off = {}, 0
        with open(sidecar_path(e["path"]), "wb") as fh:
            for col, d in sorted(blooms[e["path"]].items()):
                bits = d.pop("bits")
                fh.write(bits)
                descs[col] = {**d, "off": off}
                off += len(bits)
        e["bloom"] = descs


def _bitmap(path: str, bloom: dict[str, Any]) -> bytes | None:
    """The bitmap ``bloom`` describes for data file ``path``: its slice of
    the file's sidecar, or the inline base64 ``bits`` of a log written
    before sidecars; None when the sidecar is gone."""
    if "bits" in bloom:
        return base64.b64decode(bloom["bits"])
    try:
        with open(sidecar_path(path), "rb") as fh:
            fh.seek(bloom["off"])
            return fh.read((bloom["m"] + 7) // 8)
    except FileNotFoundError:
        return None


def _probe_positions(h1: int, h2: int, m: int, k: int) -> list[int]:
    """``_positions`` on the driver, from a value's two raw xxhash64s.
    Python's ``%`` is Spark's ``pmod`` for m > 0 and the sums stay exact,
    so each position equals the build's bit for bit."""
    a, b = h1 % m, h2 % m
    return [(a + i * b) % m for i in range(k)]


def _raw_hashes(col: Column) -> list[Column]:
    return [F.xxhash64(col).alias("h1"), F.xxhash64(col, F.lit("bloom2")).alias("h2")]


def probe_positions(
    spark: SparkSession,
    value: Any,
    shapes: list[tuple[int, int]],
    dtype: str | None = None,
) -> dict[tuple[int, int], list[int]]:
    """(m, k) -> bit positions of one probe value for every filter shape
    in ``shapes``, from ONE 1-row Spark job that hashes the value (Spark's
    xxhash64, the build's hash function); the modular arithmetic is done
    on the driver, so the job is the same whatever the filter sizes."""
    lit = F.lit(value)
    if dtype is not None:
        lit = lit.cast(dtype)
    h1, h2 = spark.range(1).select(*_raw_hashes(lit)).collect()[0]
    return {(m, k): _probe_positions(h1, h2, m, k) for m, k in shapes}


def might_contain(bits: bytes | None, positions: list[int]) -> bool:
    """True unless some probed bit is unset (definite absence); a bitmap
    that could not be read proves nothing."""
    return bits is None or all(bits[p // 8] & (1 << (p % 8)) for p in positions)


def _shapes_by_type(
    blooms: list[dict[str, Any]],
) -> dict[str | None, list[tuple[int, int]]]:
    """Probe type -> the distinct (m, k) of the descriptors of that type."""
    shapes: dict[str | None, set[tuple[int, int]]] = {}
    for b in blooms:
        shapes.setdefault(b.get("type"), set()).add((b["m"], b["k"]))
    return {dtype: sorted(s) for dtype, s in shapes.items()}


def prune_files_bloom(
    spark: SparkSession,
    files: list[dict[str, Any]],
    probes: dict[str, Any],
) -> list[dict[str, Any]]:
    """Drop files whose bloom filter proves a probed key is absent.

    ``probes`` maps column -> equality value. Files without a bloom for a
    probed column are kept (skipping must stay conservative). The probe
    value is hashed in one Spark job per (column, type), whatever the
    filter sizes, never per file.
    """
    positions: dict[tuple, list[int]] = {}
    for col, value in probes.items():
        blooms = [f["bloom"][col] for f in files if col in (f.get("bloom") or {})]
        for dtype, shapes in _shapes_by_type(blooms).items():
            for (m, k), pos in probe_positions(spark, value, shapes, dtype).items():
                positions[(col, m, k, dtype)] = pos
    out = []
    for f in files:
        blooms = f.get("bloom") or {}
        if all(
            might_contain(
                _bitmap(f["path"], b), positions[(col, b["m"], b["k"], b.get("type"))]
            )
            for col, b in blooms.items()
            if col in probes
        ):
            out.append(f)
    return out


def probe_positions_many(
    spark: SparkSession,
    values: list[Any],
    shapes: list[tuple[int, int]],
    dtype: str | None = None,
) -> dict[tuple[int, int], dict[Any, list[int]]]:
    """(m, k) -> value -> bit positions for a SET of probe values and
    every filter shape in ``shapes``, in ONE Spark job.

    The join-driven probe (`prune_files_bloom_any`) hashes every dim key;
    doing that one key at a time would cost a Spark job per key. The values
    ride a single local DataFrame instead — same xxhash64 as the build, so
    hashes can never diverge."""
    if not values:
        return {shape: {} for shape in shapes}
    df = local_rows_df(
        spark, [(v,) for v in values], f"value {dtype or 'bigint'}"
    )
    rows = df.select("value", *_raw_hashes(F.col("value"))).collect()
    return {
        (m, k): {r["value"]: _probe_positions(r["h1"], r["h2"], m, k) for r in rows}
        for m, k in shapes
    }


def prune_files_bloom_any(
    spark: SparkSession,
    files: list[dict[str, Any]],
    col: str,
    values: list[Any],
) -> list[dict[str, Any]]:
    """Drop files whose bloom proves EVERY probed key absent (IN-list /
    join-key semantics: a file survives if ANY key might be present).

    This is the file-granular half of a bloom-reduced join: the dim side's
    (bounded) key set probes each fact file's bloom, so files holding none
    of the keys are never planned, let alone read. Files without a bloom
    for ``col`` are kept — skipping stays conservative and the join owns
    correctness. The keys are hashed in one Spark job per descriptor type,
    whatever the filter sizes, never per file."""
    blooms = [f["bloom"][col] for f in files if col in (f.get("bloom") or {})]
    positions: dict[tuple, dict[Any, list[int]]] = {}
    for dtype, shapes in _shapes_by_type(blooms).items():
        for (m, k), pos in probe_positions_many(spark, values, shapes, dtype).items():
            positions[(m, k, dtype)] = pos
    out = []
    for f in files:
        b = (f.get("bloom") or {}).get(col)
        if b is None:
            out.append(f)
            continue
        bits = _bitmap(f["path"], b)
        if any(
            might_contain(bits, pos)
            for pos in positions[(b["m"], b["k"], b.get("type"))].values()
        ):
            out.append(f)
    return out
