"""Merge-on-read delete application, shared by the lakehouse scan
(``LakehouseTable._read_files_with_deletes``) and ``read_iceberg_table``.

Data rows carry their file's normalised path (``PATH``), their ordinal
in it (``POS``) and their file's sequence number (``SEQ``); delete rows
carry their delete file's ``SEQ``. Each delete kind (each key-column set
for equality deletes) is then one anti-join over the whole scan, by the
Iceberg v2 spec's rules: a position delete removes rows of files whose
``SEQ`` is at most its own, an equality delete (NULL-safe key equality)
rows of files whose ``SEQ`` is strictly below its own.

The lakehouse log numbers a data file by its ``added_in`` and a delete by
its ``snapshot_id``, and applies a delete only to files added strictly
before it. The ``<=`` for positions gives the same answer: only
``delete_where_positions`` writes position deletes, its commit adds no
data file and names only files already live, and rollback, expiry and
shallow clone keep both numbers.
"""

from __future__ import annotations

import base64
import contextlib
import os
from functools import reduce
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse.bloom import sidecar_path

PATH, POS, SEQ, SCOPE = "__mor_path", "__mor_pos", "__mor_seq", "__mor_scope"

# A delete set of at most this many rows broadcasts (hash anti-join, the
# data side never shuffles); a larger one takes Spark's shuffle strategy —
# the path a 100 TB table with years of accumulated deletes takes.
BROADCAST_DELETE_ROWS = 4_000_000


def norm_path(name: str = "_metadata.file_path", decode: bool = True) -> Column:
    """Column ``name`` with file:///x, file:/x and /x all normalised to
    /x. ``decode`` also percent-decodes Spark's URI form of a path (%20
    for a space, %25 for '%'; a '+' stays a '+') to the raw string
    metadata records; a raw string must not be decoded."""
    out = f"regexp_replace({name}, '^file:/+', '/')"
    return F.expr(f"url_decode(replace({out}, '+', '%2B'))" if decode else out)


def plain_path(p: str) -> str:
    """A data-file path as the log records it. A ``file:`` URI (what
    ``_metadata.file_path`` and ``input_file_name`` report, and what
    position-delete files written before they stored log paths hold)
    loses its scheme and is percent-decoded; any other string is
    already plain and must not be decoded."""
    return unquote(urlparse(p).path) if p.startswith("file:") else p


def stored_path(name: str) -> Column:
    """``plain_path`` over column ``name``: a position-delete file's
    ``file_path`` normalised like the scan's ``PATH``."""
    return F.when(F.col(name).startswith("file:"), norm_path(name)).otherwise(F.col(name))


def rewrite_position_paths(src: str, dst: str, repoint: Callable[[str], str]) -> bool:
    """Write position-delete file ``src`` to ``dst`` with ``repoint``
    applied to each ``file_path``, driver-side with pyarrow (delete files
    are metadata-sized); write nothing and return False when no path
    changes. The write is atomic (a temp file, then ``os.replace``) and
    drops the Hadoop checksum beside ``dst``: it hashes the old bytes and
    would fail every later read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(src)
    old = tbl.column("file_path").to_pylist()
    new = [repoint(p) for p in old]
    if new == old:
        return False
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    tmp = f"{dst}.tmp-repoint"
    i = tbl.schema.get_field_index("file_path")
    pq.write_table(tbl.set_column(i, "file_path", pa.array(new, pa.string())), tmp)
    os.replace(tmp, dst)
    with contextlib.suppress(FileNotFoundError):
        os.unlink(sidecar_path(dst, ".crc"))
    return True


def _quoted(s: str) -> str:
    return f"cast(unbase64('{base64.b64encode(s.encode()).decode()}') as string)"


def with_sequence(
    df: DataFrame,
    seqs: dict[str, int],
    path: str = PATH,
    scopes: dict[str, str] | None = None,
) -> DataFrame:
    """``df`` plus ``SEQ``, the number ``seqs`` (keyed by paths as metadata
    records them) gives the file named by ``df``'s normalised ``path``
    column, joined by broadcast; with ``scopes`` (same keys) also
    ``SCOPE``, the file's partition scope. A path missing from ``seqs``
    fails the query: a NULL sequence number would silently bring deleted
    rows back. The map is an inline table (strings base64-quoted), built
    in one call whatever its size."""
    rows = ", ".join(
        f"({_quoted(os.path.abspath(p))}, {int(s)}L"
        + (f", {_quoted(scopes[p])})" if scopes else ")")
        for p, s in seqs.items()
    )
    names = f"{path}, {SEQ}" + (f", {SCOPE}" if scopes else "")
    seq_df = df.sparkSession.sql(f"VALUES {rows} AS m({names})")
    return df.join(F.broadcast(seq_df), path, "left").withColumn(
        SEQ,
        F.expr(
            f"coalesce({SEQ}, cast(raise_error(concat("
            f"'merge-on-read: file not in the sequence map: ', {path})) as bigint))"
        ),
    )


def read_sequenced(
    reader, seqs: dict[str, int], cols: list[Column], scopes: dict[str, str] | None = None
) -> DataFrame:
    """``cols`` of every row of the delete files ``seqs`` names, read in
    one parquet scan by ``reader``, plus each row's file's ``SEQ`` (and
    ``SCOPE``, with ``scopes``)."""
    return with_sequence(
        reader.parquet(*seqs).select(*cols, norm_path().alias("__mor_file")),
        seqs,
        "__mor_file",
        scopes,
    ).drop("__mor_file")


def small(df: DataFrame, rows: int, limit: int = BROADCAST_DELETE_ROWS) -> DataFrame:
    """A delete set ``df`` of ``rows`` rows, marked for broadcast when
    ``rows`` is at most ``limit``."""
    return F.broadcast(df) if rows <= limit else df


def anti_join_keys(
    df: DataFrame, keys: DataFrame, key_cols: list[str], seq: str | None = None
) -> DataFrame:
    """Rows of ``df`` whose ``key_cols`` match no row of ``keys``, with
    NULL-safe key equality: a NULL key matches a NULL key, as the Iceberg
    spec applies equality deletes. With ``seq`` (a column both sides
    carry), a key removes only rows whose ``seq`` is strictly below its
    own. A small ``keys`` side broadcasts, so ``df`` is never shuffled."""
    cols = [*key_cols, seq] if seq else key_cols
    tagged = keys.select(*[F.col(k).alias(f"_ak_{k}") for k in cols])
    conds = [F.col(k).eqNullSafe(F.col(f"_ak_{k}")) for k in key_cols]
    if seq:
        conds.append(F.col(seq) < F.col(f"_ak_{seq}"))
    return df.join(tagged, on=reduce(lambda a, b: a & b, conds), how="left_anti")


def apply_deletes(
    data: DataFrame,
    positions: DataFrame | None = None,
    equality: list[tuple[list[str], DataFrame]] = (),
) -> DataFrame:
    """``data`` (carrying ``PATH``, ``POS``, ``SEQ``) less the rows the
    deletes remove, without the helper columns. ``positions`` carries
    ``PATH`` (the referenced data file, normalised like ``data``'s),
    ``POS`` and ``SEQ``; each ``equality`` entry is a key-column list and
    a frame of those columns plus ``SEQ``. One anti-join per kind and
    key-column set, by the rules in the module docstring. A key-column
    list may include ``SCOPE``, which ``data`` then carries too: such a
    delete removes only rows of files in its own partition."""
    if positions is not None:
        dpos = positions.select(*[F.col(c).alias(f"_d{c}") for c in (PATH, POS, SEQ)])
        data = data.join(
            dpos,
            (F.col(PATH) == F.col(f"_d{PATH}"))
            & (F.col(POS) == F.col(f"_d{POS}"))
            & (F.col(SEQ) <= F.col(f"_d{SEQ}")),
            "left_anti",
        )
    for key_cols, keys in equality:
        data = anti_join_keys(data, keys, key_cols, seq=SEQ)
    return data.drop(PATH, POS, SEQ, SCOPE)
