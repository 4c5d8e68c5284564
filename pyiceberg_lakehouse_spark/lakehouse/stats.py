"""Per-file column statistics for scan-time data skipping.

Iceberg manifests carry per-file column bounds so planners skip files whose
[min, max] can't satisfy a predicate; at 100 TB this is the difference
between listing a few files and scanning a few thousand. Our snapshot log
stores the same bounds per file entry (``stats: {col: [min, max]}``), read
from the parquet FOOTER at commit time (row-group statistics — no data pages
touched), and ``prune_files`` evaluates simple predicates against them
before Spark ever sees the file list.

``footer_stats`` is the one footer walker: the log's entries
(``data_file_entry``) and the Iceberg export's manifests both project from
it, so both follow one rule. Bounds must cover every non-null value of the
file, so a column gets bounds only when every row group holding a non-null
value reports min and max — one row group without them (parquet-mr writes
none for a row group holding a >4 KB string; Spark's INT96 timestamps have
none at all) leaves the column unbounded and never pruned on. An all-null
row group has no values to bound and adds nothing. Bounds already in a log
stay as written until ``compact()`` rewrites the file.

Stats collection is driver-side footer reads — O(files), not O(rows) — the
same cost class as the reference's schema probe (main-daft.py:45).
"""

from __future__ import annotations

import datetime
from typing import Any

import pyarrow.parquet as pq

# stat-typed columns only: orderable primitives with a JSON-safe encoding
_STATABLE = (int, float, str)


def file_row_count(path: str) -> int:
    """Exact row count from the parquet footer — no data pages touched."""
    return pq.ParquetFile(path).metadata.num_rows


def footer_stats(path: str) -> tuple[int, dict[str, dict[str, Any]]]:
    """One footer read -> (row count, {column: {"bounds": (min, max) or
    None, "values": rows, "nulls": null count or None}}).

    Bounds are the footer's typed values, present only when every row
    group holding a non-null value reports min and max; ``nulls`` only
    when every row group reports a null count. ``values`` counts nulls
    too, as Iceberg's value_counts do."""
    meta = pq.ParquetFile(path).metadata
    groups = [meta.row_group(i) for i in range(meta.num_row_groups)]
    cols: dict[str, dict[str, Any]] = {}
    for ci in range(meta.num_columns):
        bounds: list[tuple | None] = []
        nulls: int | None = 0
        for rg in groups:
            n, min_max = _chunk_stats(rg.column(ci))
            nulls = None if n is None or nulls is None else nulls + n
            if n != rg.num_rows:  # holds a non-null value, or may
                bounds.append(min_max)
        bounded = bounds and all(b is not None for b in bounds)
        cols[meta.schema.column(ci).path] = {
            "bounds": (
                (min(b[0] for b in bounds), max(b[1] for b in bounds))
                if bounded else None
            ),
            "values": meta.num_rows,
            "nulls": nulls,
        }
    return meta.num_rows, cols


def _chunk_stats(chunk) -> tuple[int | None, tuple | None]:
    """(null count, (min, max)) of one column chunk, None where the
    footer doesn't say."""
    try:
        st = chunk.statistics
        if st is None:
            return None, None
        return (
            st.null_count if st.has_null_count else None,
            (st.min, st.max) if st.has_min_max else None,
        )
    except NotImplementedError:
        # pyarrow can't surface stats for some physical types; such a
        # column just can't be pruned on — it must never fail the COMMIT
        return None, None


def collect_file_stats(path: str) -> dict[str, list]:
    """Column -> [min, max] for the log, JSON-safe (see ``footer_stats``)."""
    return _log_stats(footer_stats(path)[1])


def data_file_entry(path: str, partition: dict[str, str]) -> dict[str, Any]:
    """A data file's log entry — footer-exact row count (metadata-only
    COUNT(*)) and column bounds (file-level skipping) — from one footer
    read."""
    rows, cols = footer_stats(path)
    return {"path": path, "partition": partition, "rows": rows, "stats": _log_stats(cols)}


def _log_stats(cols: dict[str, dict[str, Any]]) -> dict[str, list]:
    out = {}
    for name, c in cols.items():
        lo, hi = (_jsonable(v) for v in c["bounds"] or (None, None))
        if lo is not None and hi is not None:
            out[name] = [lo, hi]
    return out


def _jsonable(v: Any):
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v if isinstance(v, _STATABLE) else None


def prune_files(
    files: list[dict[str, Any]], predicates: dict[str, Any]
) -> list[dict[str, Any]]:
    """Keep files whose stats MIGHT satisfy every predicate.

    ``predicates`` maps column -> (op, value) or a LIST of (op, value)
    conjuncts (e.g. a range is ``[(">=", lo), ("<", hi)]``), op in {"=",
    "<", "<=", ">", ">=", "in"}. ``("in", [v1, v2, ...])`` keeps a file if
    ANY listed value falls inside its [min, max] — the probe shape for
    IN-list point lookups (e.g. IVF cell probes). A file with no stats for
    a column is kept (skipping must be conservative). Values compare after
    the same normalization used at collection time.
    """
    out = []
    for f in files:
        stats = f.get("stats") or {}
        keep = True
        for col, preds in predicates.items():
            if col not in stats:
                # a partition VALUE is an exact stat (min == max == value):
                # identity-partitioned files carry no in-file stats for the
                # column, but equality/IN predicates on it prune exactly.
                # Compare through canon_part_str (hive stores booleans
                # lowercase; str(True) is 'True') and only for types with
                # ONE canonical string form — floats may format differently
                # than the writer's path segment, so they keep the file.
                # Range ops stay conservative too (lexicographic order
                # would lie for numerics).
                pv = (f.get("partition") or {}).get(col)
                if pv is not None:
                    from pyiceberg_lakehouse_spark.lakehouse.transforms import (
                        canon_part_str,
                    )

                    exact = (str, int, bool)
                    pv_s = str(pv)
                    for op, value in (
                        [preds] if isinstance(preds, tuple) else preds
                    ):
                        if (
                            op == "="
                            and isinstance(value, exact)
                            and canon_part_str(value) != pv_s
                        ):
                            keep = False
                        elif (
                            op == "in"
                            and value
                            and all(isinstance(v, exact) for v in value)
                            and all(canon_part_str(v) != pv_s for v in value)
                        ):
                            keep = False
                        if not keep:
                            break
                if not keep:
                    break
                continue
            lo, hi = stats[col]
            if isinstance(preds, tuple):
                preds = [preds]
            for op, value in preds:
                if op == "in":
                    vs = [x for x in (_jsonable(v) for v in value) if x is not None]
                    try:
                        if vs and not any(lo <= v <= hi for v in vs):
                            keep = False
                    except TypeError:
                        continue
                    if not keep:
                        break
                    continue
                v = _jsonable(value)
                if v is None:
                    continue
                # incomparable types (int probe vs string stats recorded
                # under an older schema) must keep the file, not fail the
                # scan — skipping is always conservative
                try:
                    if op == "=" and not (lo <= v <= hi):
                        keep = False
                    elif op in ("<", "<=") and not (lo <= v if op == "<=" else lo < v):
                        keep = False
                    elif op in (">", ">=") and not (v <= hi if op == ">=" else v < hi):
                        keep = False
                except TypeError:
                    continue
                if not keep:
                    break
            if not keep:
                break
        if keep:
            out.append(f)
    return out
