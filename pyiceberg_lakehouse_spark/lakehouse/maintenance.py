"""Table maintenance: small-file compaction and snapshot expiry.

The "maintenance" half of the lakehouse contract. Compaction mirrors the
reference's 512 MB target-file-size property (main-daft.py:106) — many small
commit files are rewritten into target-size files per partition and swapped
in via a ``replace`` snapshot, so readers never see a partial state.
"""

from __future__ import annotations

import contextlib
import glob
import math
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import mor
from pyiceberg_lakehouse_spark.lakehouse.bloom import (
    SIDECARS,
    add_table_blooms,
    remove_table_file,
)
from pyiceberg_lakehouse_spark.lakehouse.stats import data_file_entry, file_row_count
from pyiceberg_lakehouse_spark.lakehouse.table import LakehouseTable, files_in_partitions


def compact(
    table: LakehouseTable,
    target_file_bytes: int | None = None,
    partition_filter: dict[str, str] | None = None,
):
    """Rewrite the live file set at target file size (one replace snapshot).

    File count is sized from the actual on-disk bytes; the rewrite is
    repartitioned by the partition columns so each output file stays within
    one partition (no partition-crossing files, same as the write path).

    ``partition_filter`` scopes the rewrite to matching partitions — the
    OPTIMIZE ... WHERE shape: at 100 TB you compact yesterday's hot
    partition after its small-file ingest, never the whole table. Only
    matching partitions' files are read, rewritten and swapped; the commit
    records them as touched so concurrent writers to OTHER partitions
    never conflict (the same scoping replace_partitions uses). Files
    written under an older spec that lack a filter key are conservatively
    INCLUDED in the rewrite (they may hold matching rows).
    """
    if target_file_bytes is None:
        target_file_bytes = table.log.target_file_bytes()
    files = table.log.live_files()
    if partition_filter:
        files = files_in_partitions(files, [partition_filter])
    if not files:
        return None
    total = sum(os.path.getsize(f["path"]) for f in files if os.path.exists(f["path"]))
    n_files = max(1, math.ceil(total / target_file_bytes))
    # repartition on the partition SOURCE columns (spec strings may be
    # transforms like day(ts); the write path derives the actual values)
    part_cols = [pf.source for pf in table.partition_fields]
    # read THROUGH merge-on-read deletes (compaction materializes them away
    # for the rewritten partitions; _read_files_with_deletes applies the
    # sequence-aware anti-joins the plain file read would miss)
    src = table._read_files_with_deletes(files)
    df = src.repartition(n_files, *part_cols) if part_cols else (
        src.repartition(n_files)
    )
    removed = [f["path"] for f in files]
    new_files = table._write_data(df)
    summary = {
        "op": "compact",
        "files_before": len(files),
        "files_after": len(new_files),
        # data-change=false: the row multiset is untouched, so incremental
        # readers and the change feed skip this commit entirely (Delta's
        # dataChange=false) — compaction is invisible to consumers
        "data-change": False,
    }
    if partition_filter:
        summary["partitions"] = [partition_filter]
    return table.log.commit(
        "replace",
        new_files,
        removed_paths=removed,
        summary=summary,
        retry_conflicts=3 if partition_filter else 0,
        touched_partitions=[partition_filter] if partition_filter else None,
    )


def zorder_value(df: DataFrame, cols: list[str], bits: int = 16) -> F.Column:
    """Morton (Z-order) key over ``cols``: each column is scaled to a
    ``bits``-bit bucket over its observed [min, max], then the buckets'
    bits are interleaved.

    Sorting files by this key makes BOTH columns' per-file [min, max]
    ranges tight simultaneously — a linear sort only tightens its leading
    column. The min/max normalization constants come from one tiny agg on
    the input (at 100 TB: a metadata-cheap pass compared to the rewrite
    itself, and reusable from the snapshot log's file stats).

    The interleave is a linear chain of shift/mask terms (2 * bits adds) —
    entirely whole-stage-codegen arithmetic, no UDF.
    """
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"max_{c}") for c in cols],
    ).collect()[0]
    max_bucket = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo = float(bounds[f"min_{c}"])
        hi = float(bounds[f"max_{c}"])
        span = (hi - lo) or 1.0
        bucket = F.least(
            F.lit(max_bucket),
            F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * max_bucket),
        ).cast("long")
        for b in range(bits):
            z = z + (
                F.shiftright(bucket, b).bitwiseAND(F.lit(1))
                * F.lit(1 << (b * len(cols) + ci))
            )
    return z


def cluster_zorder(
    table: LakehouseTable,
    cols: list[str],
    bits: int = 16,
    target_file_bytes: int | None = None,
):
    """Rewrite the live file set clustered on a Z-order key (one replace
    snapshot) so multi-column point/range predicates skip files.

    Range-repartition on the Z key gives files disjoint Z ranges; the
    within-partition sort tightens each file's per-column bounds, which the
    existing min/max ``stat_filter`` pruning then exploits — no new read
    path needed. Same commit protocol as ``compact``.
    """
    if target_file_bytes is None:
        target_file_bytes = table.log.target_file_bytes()
    files = table.log.live_files()
    if not files:
        return None
    total = sum(os.path.getsize(f["path"]) for f in files if os.path.exists(f["path"]))
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = table.scan()
    # records-per-file enforces the file count even when AQE coalesces the
    # range partitions: each partition's zval-sorted run splits sequentially,
    # so every output file still covers a tight, disjoint Z range.
    # Footer-exact metadata count when available — the count() job here
    # was a full extra pass over the table being rewritten.
    rows = table.metadata_count()
    if rows is None:
        rows = df.count()
    z = zorder_value(df, cols, bits)
    clustered = (
        df.withColumn("_zval", z)
        .repartitionByRange(n_files, "_zval")
        .sortWithinPartitions("_zval")
        .drop("_zval")
    )
    removed = [f["path"] for f in files]
    new_files = table._write_data(
        clustered, records_per_file=max(1, math.ceil(rows / n_files))
    )
    return table.log.commit(
        "replace",
        new_files,
        removed_paths=removed,
        summary={
            "op": "zorder",
            "cols": cols,
            "files_after": len(new_files),
            "data-change": False,
        },
    )


def build_ivf_index(
    table: LakehouseTable,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    iters: int = 2,
    sample_cap: int | None = None,
):
    """Persist an IVF index INTO the table: an ``ivf_cell`` column (nearest
    centroid per row), files clustered by cell, and the centroids stored in
    table properties — one replace snapshot, same pattern as z-order/bloom.

    ``k=None`` sizes the cell count as ``~0.2 * sqrt(rows)`` (FAISS
    practice; see ``similarity.default_n_cells`` for why sqrt-N sizing is
    what keeps both the build O(N^1.5) and the recall-governed probe cost
    ~sqrt(N) as the corpus grows — a linear cell count makes assignment
    quadratic in N). ``sample_cap=None`` scales the k-means sample with k
    (8 rows per centroid, floored at 2048).

    This moves ANN index construction out of the read path: queries
    (``similarity.ivf_index_topk``) read centroids from metadata, compute
    their probe cells, and scan ONLY the files whose ``ivf_cell`` bounds
    intersect — never re-assigning the corpus. Centroid fitting is bounded
    (k-means on a deterministic xxhash64 sample, never the full corpus);
    the single full pass is the clustered rewrite itself, which is the same
    cost class as compact()/cluster_zorder() and runs at maintenance time.
    Rebuilding on a table that already has the index reuses the column.

    Build-cost model (measured at 10M x 64-dim, local[32]): centroid
    sampling ~3 s + sampled k-means refine ~1 s (both bounded, O(cap x
    cells x dim) driver numpy) + corpus assignment ~14 s (O(N x cells x
    dim) FLOPs at Arrow-batched BLAS speed — N^1.5 total under sqrt-N
    cells, so per-10x growth of this term is ~31x but it stays minor until
    ~1e9 rows) + the clustered rewrite, which DOMINATES (~30-55 s;
    repartitionByRange(cells) shuffle + one zstd parquet file per cell).
    The rewrite is O(N) bytes, but at bench scale its wall is FILE-COUNT
    bound (cells ~ sqrt(N) files of only ~5*sqrt(N) rows each; interleaved
    A/B: 61 -> 200 cells alone was 1.8x wall at 1M, while the poison-row
    masking kernel and the 8k-vs-2k k-means sample measured free) — an
    overhead regime that amortizes away as rows-per-file grow toward the
    512 MB target at production scale. Measured per-10x growth: ivf_build
    2.7x, pq_build 4.3x (N^0.43/N^0.64), asserted sublinear by the
    ``ann_build_growth_ok`` claim in BENCH_SCALE.json; write-phase wall
    swings up to ~3x between same-code runs on this sandbox (page-cache/
    writeback state — see BENCH_ADJUDICATION.md), which is why the claim
    gates the growth RATIO, not absolute seconds.
    """
    import json as _json

    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import similarity

    df = table.scan()
    if "ivf_cell" in df.columns:
        df = df.drop("ivf_cell")
    if k is None:
        rows = table.metadata_count()
        k = similarity.default_n_cells(rows if rows is not None else df.count())
    if sample_cap is None:
        sample_cap = max(2048, 8 * k)
    cents = similarity.kmeans_refine_local(
        df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(4)) == 0),
        similarity.sample_centroids(df, k=k, id_col=id_col, vec_col=vec_col),
        iters=iters,
        vec_col=vec_col,
        cap=sample_cap,
    )
    if not cents:
        return None  # empty table: nothing to index (same contract as compact)
    if "ivf_cell" not in table.schema().fieldNames():
        table.add_column("ivf_cell", T.IntegerType())
    assigned = similarity.ivf_assign(df, cents, id_col=id_col, vec_col=vec_col)
    # one range partition per cell: each output file covers one cell (or a
    # tight boundary range), so the footer's ivf_cell [min, max] makes the
    # ("in", probed_cells) stat filter prune to O(n_probe) files
    clustered = assigned.repartitionByRange(k, "ivf_cell").sortWithinPartitions(
        "ivf_cell"
    )
    files = table.log.live_files()
    new_files = table._write_data(clustered)
    table.log.properties["ivf.centroids"] = _json.dumps(cents)
    table.log.properties["ivf.vec-col"] = vec_col
    return table.log.commit(
        "replace",
        new_files,
        removed_paths=[f["path"] for f in files],
        summary={"op": "ivf_index", "k": k, "files_after": len(new_files)},
    )


def build_pq_index(
    table: LakehouseTable,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 16,
    n_codes: int = 256,
    sample_cap: int = 8192,
):
    """Persist product-quantization codes INTO the table: a ``pq_codes``
    array<int> column (Arrow-vectorized encode) + the codebooks in table
    properties — one replace snapshot, composing with ``build_ivf_index``:
    run both and an ANN query prunes files by IVF cell, then scores
    candidates from the 8-int codes without ever reading the embeddings
    (``similarity.ivf_pq_topk``).

    Codebook training is bounded (numpy k-means on a deterministic sample);
    the single full pass is the encode rewrite, the same cost class as the
    other maintenance rewrites. If the table already carries ``ivf_cell``,
    the rewrite preserves the cell clustering so IVF file pruning keeps
    working.

    Defaults (16 subspaces x 8-bit codes = 16 bytes/vector at dim 64, 16x
    smaller than float32 vectors) are the FAISS-typical operating point.
    The compression/recall dial, measured on the scale harness's
    worst-case isotropic-noise corpus (top-10, n_probe=4, rerank 16):
    n_subspaces=16 -> 0.81 recall at 16x; n_subspaces=32 -> 0.99 at 8x.
    Real embedding distributions are anisotropic and fare better.
    """
    import json as _json

    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.operators import similarity

    df = table.scan()
    if "pq_codes" in df.columns:
        df = df.drop("pq_codes")
    # FAISS-IVFADC composition: when the table already carries the IVF index,
    # train/encode on RESIDUALS (x/|x| - centroid[cell]) — raw-vector codes
    # cannot resolve neighbors WITHIN a cell on clustered data (measured
    # top-10 recall 0.05 vs 0.9+ residual; see pq_train_local docstring)
    cents = None
    if "ivf_cell" in df.columns:
        cents = _json.loads(table.log.properties.get("ivf.centroids", "[]")) or None
    books = similarity.pq_train_local(
        df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(4)) == 0),
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        vec_col=vec_col,
        cap=sample_cap,
        centroids=cents,
    )
    if not books:
        return None  # empty table: nothing to index
    if "pq_codes" not in table.schema().fieldNames():
        table.add_column("pq_codes", T.ArrayType(T.IntegerType()))
    encoded = similarity.pq_encode(
        df, books, id_col=id_col, vec_col=vec_col, centroids=cents
    )
    if "ivf_cell" in df.columns:
        k = len(_json.loads(table.log.properties.get("ivf.centroids", "[]"))) or 16
        encoded = encoded.repartitionByRange(k, "ivf_cell").sortWithinPartitions(
            "ivf_cell"
        )
    files = table.log.live_files()
    new_files = table._write_data(encoded)
    table.log.properties["pq.codebooks"] = _json.dumps(books)
    table.log.properties["pq.vec-col"] = vec_col
    table.log.properties["pq.residual"] = "true" if cents is not None else "false"
    return table.log.commit(
        "replace",
        new_files,
        removed_paths=[f["path"] for f in files],
        summary={
            "op": "pq_index",
            "n_subspaces": n_subspaces,
            "n_codes": n_codes,
            "files_after": len(new_files),
        },
    )


# summary ops that mark the table's files as index-consistent: every live
# file committed at-or-before one of these carries ivf_cell (and pq_codes
# when built) values matching the stored centroids/codebooks
_INDEX_OPS = ("ivf_index", "pq_index", "ann_refresh")


def ann_index_epoch(table: LakehouseTable) -> int | None:
    """Snapshot id of the last index-consistent commit, or None if no ANN
    index was ever built. Ids are monotonic and survive expiry (the squash
    base carries ``ann_index_epoch`` for dropped index commits)."""
    ids = [
        s.snapshot_id
        for s in table.log.snapshots
        if s.summary.get("op") in _INDEX_OPS
    ]
    ids += [
        s.summary["ann_index_epoch"]
        for s in table.log.snapshots
        if "ann_index_epoch" in s.summary
    ]
    return max(ids) if ids else None


def ann_index_stale_files(table: LakehouseTable) -> list[dict]:
    """Live files whose rows are INVISIBLE to index probes: added after the
    last index commit, or — when an IVF index exists — lacking ivf_cell
    values entirely (e.g. restored by a rollback past the index build).
    Metadata-only — no data reads.

    A PQ-ONLY table has no cell column to lack — the footer stats can't
    attest an array column like pq_codes, and treating its absence from
    stats as staleness marked every file of a fresh PQ-only index stale
    (ADVICE r7). Staleness there is purely commit-sequenced: added after
    the LAST index commit, or added before the FIRST one (rollback
    preserves ``added_in``, so a file restored from a pre-index snapshot
    predates every index commit and cannot carry codes; every file between
    the first and last index commits was encoded by the build/refresh that
    defines the last epoch).
    """
    epoch = ann_index_epoch(table)
    if epoch is None:
        raise ValueError(
            "no persisted ANN index on this table; run build_ivf_index "
            "(and optionally build_pq_index) first"
        )
    has_ivf = bool(table.log.properties.get("ivf.centroids"))
    first_epoch = min(
        (
            s.snapshot_id
            for s in table.log.snapshots
            if s.summary.get("op") in _INDEX_OPS
        ),
        default=epoch,
    )

    def invisible(f: dict) -> bool:
        if has_ivf:
            stats = f.get("stats") or {}
            lohi = stats.get("ivf_cell")
            return lohi is None or lohi[0] is None
        return f["added_in"] < first_epoch

    return [
        f
        for f in table.log.live_files()
        if f["added_in"] > epoch or invisible(f)
    ]


def ann_index_health(
    table: LakehouseTable,
    stale_rebuild_fraction: float = 0.25,
    balance_rebuild_factor: float = 4.0,
    cells_rebuild_factor: float = 2.0,
) -> dict:
    """Metadata-only ANN index health report: when to ``refresh`` (encode
    the appended tail against existing quantizers) vs ``rebuild`` (retrain
    centroids/codebooks) — the FAISS add()-vs-train() trade made
    inspectable from the snapshot log alone, zero data reads.

    Signals (all from per-file stats the write path already records):

    - ``stale_fraction``: rows invisible to probes / total rows. Small ->
      refresh; above ``stale_rebuild_fraction`` the un-retrained quantizer
      has absorbed so much new data that cell balance degrades -> rebuild.
    - ``cell_balance``: hottest cell's estimated rows vs the per-cell mean
      over INDEXED files (files are cell-clustered, so each file's row
      count spreads over its tight [min, max] cell span). k-means keeps
      this near 1-2 on stationary data; sustained growth means the data
      distribution drifted away from the trained centroids.
    - ``cells_due_factor``: ``default_n_cells(total_rows) / built_cells``.
      The sqrt-N sizing policy says a corpus that grew ~4x deserves ~2x
      the cells; beyond ``cells_rebuild_factor`` a refresh keeps paying
      probe cost on oversized cells -> rebuild.

    Returns a dict with the raw signals and a ``recommendation`` of
    ``"ok"`` / ``"refresh"`` / ``"rebuild"``. Raises if no index exists
    (same contract as ``ann_index_stale_files``).
    """
    import json as _json
    from collections import defaultdict

    from pyiceberg_lakehouse_spark.operators.similarity import default_n_cells

    stale = {f["path"] for f in ann_index_stale_files(table)}
    files = table.log.live_files()
    total_rows = sum(f.get("rows") or 0 for f in files)
    stale_rows = sum(f.get("rows") or 0 for f in files if f["path"] in stale)
    k = len(_json.loads(table.log.properties.get("ivf.centroids", "[]")))
    per_cell: dict[int, float] = defaultdict(float)
    for f in files:
        if f["path"] in stale:
            continue
        lohi = (f.get("stats") or {}).get("ivf_cell")
        if lohi is None or lohi[0] is None:
            continue
        lo, hi = int(lohi[0]), int(lohi[1])
        span = max(1, hi - lo + 1)
        for c in range(lo, hi + 1):
            per_cell[c] += (f.get("rows") or 0) / span
    indexed_rows = total_rows - stale_rows
    mean_cell = indexed_rows / k if k else 0.0
    balance = (max(per_cell.values()) / mean_cell) if per_cell and mean_cell else 1.0
    stale_fraction = stale_rows / total_rows if total_rows else 0.0
    # cell sizing only applies when an IVF index exists: a PQ-only table
    # (codebooks, no centroids) has no cells to be due, so its health is
    # governed by stale_fraction alone — k=0 previously made this factor
    # infinity and the recommendation unconditionally "rebuild" even on a
    # perfectly fresh index (ADVICE r7)
    cells_due = default_n_cells(total_rows) / k if k else 1.0
    if stale_fraction == 0.0 and balance <= balance_rebuild_factor and (
        cells_due < cells_rebuild_factor
    ):
        rec = "ok"
    elif (
        stale_fraction > stale_rebuild_fraction
        or balance > balance_rebuild_factor
        or cells_due >= cells_rebuild_factor
    ):
        rec = "rebuild"
    else:
        rec = "refresh"
    return {
        "total_rows": total_rows,
        "stale_rows": stale_rows,
        "stale_fraction": round(stale_fraction, 4),
        "built_cells": k,
        "cell_balance": round(balance, 2),
        "cells_due_factor": round(cells_due, 2),
        "recommendation": rec,
    }


def refresh_ann_indexes(
    table: LakehouseTable,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_file_bytes: int | None = None,
):
    """Incrementally extend the persisted ANN index(es) to rows appended
    since the last index commit: encode ONLY the new files against the
    EXISTING centroids (and codebooks, when PQ is built), rewrite just
    those files clustered by cell, and leave every already-indexed file
    untouched — one replace snapshot removing only the stale paths.

    This is W10's metadata-only philosophy (reference main-ray.py:109-121,
    register-without-rewrite) applied to index state: at 100 TB a full
    ``build_ivf_index``/``build_pq_index`` rebuild re-clusters the entire
    corpus on every append batch; refresh cost is proportional to the
    APPENDED rows instead (measured in BENCH_SCALE.json, ``ivf_refresh_*``
    vs ``ivf_build_*``). Quantizers are NOT retrained — run a full build
    when the data distribution has drifted enough that cell balance or PQ
    distortion degrades (same trade as FAISS's add() vs train()).

    Returns the refresh snapshot, or None when every live file is already
    index-consistent. Raises if no index has ever been built.
    """
    import json as _json
    import math as _math

    from pyiceberg_lakehouse_spark.operators import similarity

    stale = ann_index_stale_files(table)
    if not stale:
        return None
    cents = _json.loads(table.log.properties["ivf.centroids"])
    books = _json.loads(table.log.properties.get("pq.codebooks", "null"))
    residual = table.log.properties.get("pq.residual") == "true"
    # read WITH applicable equality deletes: the rewritten files' added_in
    # postdates every delete snapshot, so rows deleted from a stale file
    # would resurrect if read via the raw file list (_read_files)
    df = table._read_files_with_deletes(stale)
    for col in ("ivf_cell", "pq_codes"):
        if col in df.columns:
            df = df.drop(col)
    assigned = similarity.ivf_assign(df, cents, id_col=id_col, vec_col=vec_col)
    if books:
        assigned = similarity.pq_encode(
            assigned,
            books,
            id_col=id_col,
            vec_col=vec_col,
            centroids=cents if residual else None,
        )
    # cluster ONLY the new rows by cell, file count sized from the stale
    # bytes (same sizing rule as compact) so a small append yields a few
    # tight-cell-range files, not k near-empty ones
    if target_file_bytes is None:
        target_file_bytes = table.log.target_file_bytes()
    total = sum(
        os.path.getsize(f["path"]) for f in stale if os.path.exists(f["path"])
    )
    n_files = max(1, _math.ceil(total / target_file_bytes))
    clustered = assigned.repartitionByRange(n_files, "ivf_cell").sortWithinPartitions(
        "ivf_cell"
    )
    new_files = table._write_data(clustered)
    return table.log.commit(
        "replace",
        new_files,
        removed_paths=[f["path"] for f in stale],
        summary={
            "op": "ann_refresh",
            "files_refreshed": len(stale),
            "files_after": len(new_files),
        },
    )


def _referenced_paths(snapshots) -> set[str]:
    """Every data, delete and change-data file ``snapshots`` name."""
    return {
        f["path"]
        for s in snapshots
        for f in [
            *s.added_files,
            *s.added_deletes,
            *(s.summary.get("change-data-files") or []),
        ]
    }


def remove_orphan_files(table: LakehouseTable, older_than_s: float = 3600.0) -> list[str]:
    """Delete data, delete and change-data files under the table dir that
    no snapshot references, each with its sidecars (``bloom.SIDECARS``);
    sidecars whose file is gone; and the snapshot log's temp files
    (``.snaplog.*``, beside a base or in an entry directory) a writer that
    died before publishing left behind.

    Orphans come from crashed writers (files written, commit never issued)
    and failed tasks. The age guard keeps in-flight writes safe: a writer
    that has produced files but not yet committed is younger than
    ``older_than_s``. Returns the deleted paths (a deleted file's own
    sidecars are not listed). O(files-on-disk) driver work, no data
    reads — same maintenance posture as Iceberg's remove_orphan_files
    action.
    """
    import time as _time

    table.log.load()
    referenced = _referenced_paths(table.log.snapshots)
    cutoff = _time.time() - older_than_s
    deleted = []
    # deletes/ holds merge-on-read delete files and _change_data/ the
    # change feed's files — they orphan the same way data files do
    # (crashed delete_keys or CDF commit, dropped by overwrite)
    dirs = [os.path.join(table.table_dir, d) for d in ("data", "deletes", "_change_data")]

    def _old(path: str) -> bool:
        try:
            return os.path.getmtime(path) <= cutoff
        except FileNotFoundError:
            return False

    candidates = [
        p for d in dirs for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    ] + glob.glob(
        os.path.join(table.table_dir, ".snaplog.*")
    ) + glob.glob(
        os.path.join(table.table_dir, "_snaplog*.d", ".snaplog.*")
    )
    for path in candidates:
        if path not in referenced and _old(path):
            remove_table_file(path)
            deleted.append(path)
    # a sidecar ``.<name>.parquet<suffix>`` belongs to ``<name>.parquet``
    sidecars = [
        p
        for d in dirs
        for suffix in SIDECARS
        for p in glob.glob(os.path.join(d, "**", f".*.parquet{suffix}"), recursive=True)
    ]
    for path in sidecars:
        head, name = os.path.split(path)
        owner = os.path.join(head, name[1:].rsplit(".", 1)[0])
        if not os.path.exists(owner) and _old(path):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)
                deleted.append(path)
    return sorted(deleted)


def expire_snapshots(table: LakehouseTable, keep_last: int = 1) -> list[str]:
    """Drop history older than the last ``keep_last`` snapshots and delete
    data and delete files no longer reachable from any retained snapshot
    state, and the change-data files only dropped snapshots name.

    Tags are RETENTION ROOTS: ``read_tag`` promises the same rows forever,
    so every snapshot from the oldest tagged one forward is kept (and its
    files stay reachable) no matter how small ``keep_last`` is — dropping
    the tag is what releases that history. Returns the deleted paths.
    Time travel to expired snapshots stops working (that is the point);
    the current state is never touched.
    """
    if table.branches():
        # branches share data files with main; expiry reachability is
        # computed against ONE log, so deleting files here could orphan a
        # branch's state. Land or drop branches first.
        raise RuntimeError(
            f"table has branches {table.branches()}; expire after landing/"
            "dropping them"
        )
    log = table.log
    # the cut point: everything before it squashes into the base snapshot.
    # Tagged snapshots pull the cut back so they (and everything after
    # them, which their replay does not need but monotone history keeps
    # the squash simple) survive.
    keep_from = len(log.snapshots) - keep_last
    id_pos = {s.snapshot_id: i for i, s in enumerate(log.snapshots)}
    for sid in log.refs.values():
        if sid in id_pos:
            keep_from = min(keep_from, id_pos[sid])
    if keep_from <= 0:
        return []
    # files reachable from any retained snapshot's replayed state, plus
    # every file a retained snapshot names (its change-data files too)
    retained_ids = [s.snapshot_id for s in log.snapshots[keep_from:]]
    reachable = _referenced_paths(log.snapshots[keep_from:])
    for sid in retained_ids:
        reachable.update(f["path"] for f in log.live_files(sid))
        reachable.update(d["path"] for d in log.live_deletes(sid))
    # every file ever added — including delete and change-data files,
    # which otherwise accumulate forever once overwrite/expiry drops them
    orphaned = sorted(_referenced_paths(log.snapshots) - reachable)
    # squash: keep a synthetic base snapshot carrying the oldest retained
    # state — including the merge-on-read deletes in effect there, so
    # deleted keys cannot resurrect after history is dropped
    base_files = log.live_files(retained_ids[0])
    base_deletes = log.live_deletes(retained_ids[0])
    base = log.snapshots[keep_from]
    # retained files keep their original added_in, so reading them still
    # depends on schema events in the snapshots being dropped
    log.stash_schema_history(keep_from)
    # ANN-index epoch must survive expiry too: refresh_ann_indexes keys off
    # the last index commit's id, and the squash may drop that snapshot
    dropped_epochs = [
        s.snapshot_id
        for s in log.snapshots[:keep_from]
        if s.summary.get("op") in _INDEX_OPS
    ] + [
        s.summary["ann_index_epoch"]
        for s in log.snapshots[:keep_from]
        if "ann_index_epoch" in s.summary
    ]
    if dropped_epochs:
        base.summary["ann_index_epoch"] = max(
            [*dropped_epochs, base.summary.get("ann_index_epoch", 0)]
        )
    base.added_files = base_files
    base.removed_paths = []
    existing = {d["path"] for d in base.added_deletes}
    base.added_deletes = base.added_deletes + [
        d for d in base_deletes if d["path"] not in existing
    ]
    base.operation = "overwrite" if base.operation != "create" else "create"
    log.snapshots = log.snapshots[keep_from:]
    log._write()
    for p in orphaned:
        remove_table_file(p)
    return orphaned


def ensure_ann_fresh(
    table: LakehouseTable,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **health_kwargs,
) -> dict:
    """Execute ``ann_index_health``'s recommendation and return the report
    (with an ``action`` key recording what ran) — the FAISS add-vs-train
    decision closed into one idempotent maintenance call, suitable for a
    scheduler tick or a streaming sink's commit hook.

    - ``ok``      -> no-op (zero data reads — the health report is
                     metadata-only).
    - ``refresh`` -> ``refresh_ann_indexes``: encode only the appended tail
                     against the existing quantizers, cost ~ appended rows.
    - ``rebuild`` -> retrain from current data: ``build_ivf_index`` with
                     ``k=None`` so the cell count re-derives from the GROWN
                     row count (``similarity.default_n_cells`` — the reason
                     a rebuild was recommended may be exactly that the
                     corpus outgrew its cells), then ``build_pq_index``
                     re-using the stored subspace count when PQ was built.

    Thresholds pass through to ``ann_index_health`` via ``health_kwargs``.
    """
    import json as _json

    report = ann_index_health(table, **health_kwargs)
    rec = report["recommendation"]
    if rec == "refresh":
        refresh_ann_indexes(table, id_col=id_col, vec_col=vec_col)
    elif rec == "rebuild":
        has_ivf = bool(table.log.properties.get("ivf.centroids"))
        books = _json.loads(table.log.properties.get("pq.codebooks", "[]"))
        if has_ivf:
            build_ivf_index(table, id_col=id_col, vec_col=vec_col)
        if books:
            build_pq_index(
                table,
                id_col=id_col,
                vec_col=vec_col,
                n_subspaces=len(books),
                n_codes=len(books[0]),
            )
    return {**report, "action": rec}


def _nonempty_parquet(out_dir: str) -> list[str]:
    """The parquet files a write left in ``out_dir`` that hold rows."""
    return [
        p
        for p in sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if file_row_count(p) > 0
    ]


def _purge_dir(table: LakehouseTable, kind: str) -> str:
    """A fresh ``purge-*`` directory under the table's ``kind`` dir."""
    return os.path.join(table.table_dir, kind, f"purge-{uuid.uuid4().hex[:8]}")


def _write_purged(
    table: LakehouseTable, df: DataFrame, kind: str, codec: str | None = None
) -> list[str]:
    """Write ``df`` as one file into a fresh ``purge-*`` dir under the
    table's ``kind`` dir (``_change_data`` or ``deletes``), compressed with
    ``codec`` (Spark's default when None); return the files holding rows."""
    out_dir = _purge_dir(table, kind)
    writer = df.coalesce(1).write.mode("error")
    (writer.option("compression", codec) if codec else writer).parquet(out_dir)
    return _nonempty_parquet(out_dir)


def _check_purge_cap(counts: list[int], cap: int) -> None:
    """Refuse a purge matching more than ``cap`` rows in one position-
    referenced file: its purged ordinals are driver-collected, and a
    predicate matching millions of rows per file is a bulk delete, not an
    erasure request."""
    if any(n > cap for n in counts):
        raise NotImplementedError(
            f"purge matches more than {cap} rows in one position-"
            "referenced file — materialize deletes with compact() and "
            "expire_snapshots first"
        )


def _ordered_purge_rewrite(
    table: LakehouseTable, entries: list[dict], hit: F.Column, cap: int
) -> dict[str, tuple[list[dict], tuple]]:
    """Rewrite the data files ``entries`` without the rows ``hit`` matches,
    PRESERVING each file's survivor row order, so the position-delete
    ordinals pointing into it stay remappable:
    new_pos = old_pos - |{purged p < old_pos}|.

    One scan reads every file and one write rewrites them all. The write
    bypasses ``_write_data`` deliberately: its distribution mode may
    reorder rows, and ordinals are row IDENTITY here. Rows repartition by
    source file, sort on (source, ordinal) within each partition, and the
    writer ``partitionBy``s the source index, so each source file yields
    exactly one replacement. Partition values carry over from the entry
    (purge never moves rows between partitions); stats and blooms rebuild
    like any rewrite.

    Returns {entry path: (replacement entries, (sorted purged ordinals,
    replacement's path or None when no row survives))}. Each file's match
    count is checked against ``cap`` before anything is written, and at
    most ``cap`` ordinals per file reach the driver."""
    # Three-valued logic: a NULL-valued predicate must mean KEEP, not
    # vanish — filter(hit) and filter(~hit) would both drop such rows,
    # silently losing data AND shifting every downstream ordinal.
    hit = F.coalesce(hit, F.lit(False))
    src = table._read_files(entries, with_pos=True).withColumn(
        mor.PATH, mor.norm_path("__lh_fp")
    )
    rows = (
        src.filter(hit)
        .groupBy(mor.PATH)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.slice(F.sort_array(F.collect_list("__lh_pos")), 1, cap).alias("ords"),
        )
        .collect()
    )
    _check_purge_cap([r["n"] for r in rows], cap)
    ords = {r[mor.PATH]: [int(o) for o in r["ords"]] for r in rows}
    unknown = set(ords) - {e["path"] for e in entries}
    if unknown:
        raise ValueError(
            f"purge scan surfaced files outside the entry list:"
            f" {sorted(unknown)[:3]}"
        )
    # each surviving row's source index (its entry's position), by the
    # broadcast file-path join reads use for sequence numbers
    out_dir = _purge_dir(table, "data")
    (
        mor.with_sequence(
            src.filter(~hit), {e["path"]: i for i, e in enumerate(entries)}
        )
        .repartition(len(entries), mor.SEQ)
        .sortWithinPartitions(mor.SEQ, "__lh_pos")
        .drop(mor.PATH, "__lh_fp", "__lh_pos")
        .write.mode("error")
        .option("compression", "zstd")
        .partitionBy(mor.SEQ)
        .parquet(out_dir)
    )
    out: dict[str, tuple[list[dict], tuple]] = {}
    for i, entry in enumerate(entries):
        reps = [
            data_file_entry(p, dict(entry.get("partition") or {}))
            for p in sorted(glob.glob(os.path.join(out_dir, f"{mor.SEQ}={i}", "*.parquet")))
        ]
        reps = [r for r in reps if r["rows"] > 0]
        assert len(reps) <= 1, (entry["path"], reps)
        out[entry["path"]] = (
            reps, (ords.get(entry["path"], []), reps[0]["path"] if reps else None)
        )
    # one bloom pass over every replacement
    add_table_blooms(table, [r for reps, _ in out.values() for r in reps])
    return out


def purge_rows(table: LakehouseTable, predicate: F.Column) -> dict:
    """Right-to-be-forgotten purge: physically remove matching rows from
    the CURRENT state and from EVERY retained snapshot, so neither a scan
    nor time travel nor the change feed can resurrect them.

    DELETE removes rows going forward; history still serves them — exactly
    what a GDPR/CCPA erasure request forbids. This rewrites history
    instead: every parquet file referenced by ANY snapshot that contains a
    matching row is rewritten without those rows (stats and blooms rebuilt
    — bloom bitmaps derived from purged keys go with them), every
    snapshot's file list is remapped old->new in place, commit-time
    change-data files are rewritten the same way, and the old files are
    unlinked. Snapshot ids, history shape, refs and non-matching rows are
    untouched.

    A final empty ``replace`` audit snapshot (summary op=purge_rows)
    makes the purge visible to incremental consumers: ``read_incremental``
    and rollup refreshes refuse to merge across a replace, so every
    downstream summary falls back to a full recompute and the purged
    contribution leaves derived tables too.

    Scale: one distributed match-count scan over the historical file set
    plans the rewrite (only files PROVEN to hold matches rewrite); the
    rewrites themselves cost one file-scoped write job each, overlapped in
    one thread pool. Merge-on-read
    delete files (which store deleted rows' KEY VALUES — PII for a keyed
    subject) are scrubbed too when the predicate is evaluable on their key
    columns; dropping a matching key is safe because every data row it
    could un-delete is purged in the same operation. POSITION-delete
    history is handled by identity
    remapping: the data files that position deletes point at rewrite
    ORDER-PRESERVING in one job (ordinals are row identity), and every
    referencing delete row moves to the new path with its ordinal
    shifted by the purged rows before it — entries whose target row
    was purged retire, an entirely-purged data file retires all its
    position entries, and time travel keeps showing the historical
    delete state minus the subject. Honest gates: a predicate NOT
    evaluable on the key-delete files' columns, >2M matches inside one
    position-referenced file (a bulk delete, not an erasure request),
    or schema-evolution history cannot be untangled by a row rewrite —
    compact + expire_snapshots first (each raises below). Files living
    OUTSIDE the table directory (add_files registrations, shallow-clone
    views of a source) are remapped in this table's log but their bytes
    are never unlinked — they may be shared; the commit summary records
    ``shared_files_kept``, and a nonzero value means the OWNING table must
    be purged too before the bytes are truly gone.
    """
    from concurrent.futures import ThreadPoolExecutor

    log = table.log
    if table.branches():
        raise RuntimeError(
            f"table has branches {table.branches()}; purge after landing/"
            "dropping them"
        )
    # merge-on-read delete files split by kind:
    # - KEY (equality) delete files hold the deleted rows' KEY VALUES —
    #   for a keyed subject those values are exactly the PII being
    #   erased, so they are scrubbed by the predicate below. That is
    #   only decidable when the predicate is evaluable on the delete
    #   file's key columns; a predicate over non-key columns cannot
    #   identify which delete keys belong to the subject and keeps the
    #   honest gate.
    # - POSITION delete files hold (file_path, ordinal) — no subject
    #   values, so no predicate scrub; instead, when a data file they
    #   reference is rewritten, the rewrite is ORDER-PRESERVING
    #   (``_ordered_purge_rewrite``) and every referencing delete row is
    #   remapped old-ordinal -> new-ordinal (entries whose target row
    #   was itself purged retire with it).
    delete_refs: dict[str, list[dict]] = {}
    pos_refs: set[str] = set()
    for s in log.snapshots:
        for d in s.added_deletes:
            delete_refs.setdefault(d["path"], []).append(d)
            if d.get("kind") == "position":
                pos_refs.add(d["path"])
    for path in delete_refs:
        if path in pos_refs:
            continue
        try:
            table.spark.read.parquet(path).filter(predicate).schema
        except Exception:
            raise NotImplementedError(
                "purge over merge-on-read delete history needs a predicate "
                "evaluable on the delete files' key columns (the stored "
                "key VALUES are what must be erased); otherwise compact + "
                "expire_snapshots first"
            ) from None
    if log.schema_events():
        raise NotImplementedError(
            "purge across schema-evolution history: expire_snapshots past "
            "the evolution point first"
        )
    hit = F.coalesce(predicate, F.lit(False))

    # one entry per unique path referenced ANYWHERE in history
    by_path: dict[str, dict] = {}
    for s in log.snapshots:
        for f in s.added_files:
            by_path.setdefault(f["path"], f)
    # change-data files carry full inline rows — scanned like key deletes
    cdf_refs: dict[str, list] = {}
    for s in log.snapshots:
        for f in s.summary.get("change-data-files") or []:
            cdf_refs.setdefault(f["path"], []).append(f)

    # plan: the four planning scans (data-file match counts, change-data
    # matches, key-delete matches, position-referenced census) touch
    # disjoint file sets and feed independent decisions — run them
    # concurrently (guide §2.6) instead of four sequential job launches
    def _scan_matched() -> dict[str, int]:
        """One distributed scan proves which files hold matching rows."""
        if not by_path:
            return {}
        counts = (
            table._read_files(list(by_path.values()))
            .withColumn("_pf", F.input_file_name())
            .filter(hit)
            .groupBy("_pf")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return {mor.plain_path(r["_pf"]): int(r["n"]) for r in counts}

    def _scan_hits(paths: list[str]) -> set[str]:
        """The files of ``paths`` (parquet the predicate can evaluate on)
        that hold a matching row."""
        existing = [p for p in paths if os.path.exists(p)]
        if not existing:
            return set()
        rows = (
            table.spark.read.parquet(*existing)
            .withColumn("_pf", F.input_file_name())
            .filter(hit)
            .select("_pf")
            .distinct()
            .collect()
        )
        return {mor.plain_path(r["_pf"]) for r in rows}

    def _scan_pos_referenced() -> set[str]:
        """Data files any position-delete file points at (metadata-scale:
        one distinct over the delete files' file_path column)."""
        existing = [p for p in sorted(pos_refs) if os.path.exists(p)]
        if not existing:
            return set()
        return {
            mor.plain_path(r["file_path"])
            for r in table.spark.read.parquet(*existing)
            .select("file_path").distinct().collect()
        }

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_matched = pool.submit(_scan_matched)
        f_cdf = pool.submit(_scan_hits, list(cdf_refs))
        f_del = pool.submit(_scan_hits, [p for p in delete_refs if p not in pos_refs])
        f_pos = pool.submit(_scan_pos_referenced)
        matched = f_matched.result()
        cdf_matched = f_cdf.result()
        del_matched = f_del.result()
        pos_referenced = f_pos.result()
    if not matched and not cdf_matched and not del_matched:
        return {"files_rewritten": 0, "files_dropped": 0, "rows_purged": 0}

    # Files that position-delete entries point at rewrite ORDER-PRESERVING
    # (``_ordered_purge_rewrite``), which records the purged-ordinal sets
    # that remap the delete rows below; every other matching data file
    # rewrites through _write_data, which re-derives partition values,
    # stats and blooms for the replacements. The cap is checked on the
    # planning counts, before any rewrite writes a file.
    _POS_CAP = 2_000_000  # purged ordinals per file, driver-collected
    pos_paths = [p for p in sorted(matched) if p in pos_referenced]
    _check_purge_cap([matched[p] for p in pos_paths], _POS_CAP)

    def _plain_rewrite(path: str) -> list[dict]:
        return table._write_data(table._read_files([by_path[path]]).filter(~hit))

    def _cdf_rewrite(path: str) -> list[dict]:
        return [
            {"path": p, "rows": file_row_count(p)}
            for p in _write_purged(
                table, table.spark.read.parquet(path).filter(~hit),
                "_change_data", "zstd",
            )
        ]

    # rewrite matching delete files without the subject's keys. Dropping a
    # key K is safe ONLY because every data row matching the predicate is
    # being purged in the same operation: a key-column predicate matching
    # K's delete row matches ALL data rows with key K, so nothing remains
    # for the dropped delete entry to un-delete. Replacement PATHS only:
    # each snapshot's entry keeps its own key_cols/snapshot_id metadata.
    def _del_rewrite(path: str) -> list[str]:
        return _write_purged(
            table, table.spark.read.parquet(path).filter(~hit), "deletes"
        )

    # position-delete remap: every delete row pointing at a rewritten
    # data file moves to the replacement's log path with its ordinal
    # shifted by the purged rows before it; rows whose TARGET row was
    # purged retire with it (nothing remains for them to un-delete).
    # Arrow-batched mapInPandas — numpy searchsorted per file, no
    # row-at-a-time Python.
    def _remap_batches(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            canon = pdf["file_path"].map(mor.plain_path)
            keep_mask = _np.ones(len(pdf), dtype=bool)
            pos = pdf["pos"].to_numpy().copy()
            fp = pdf["file_path"].to_numpy(dtype=object)
            for old, (purged, new_path) in ordinal_maps.items():
                sel = (canon == old).to_numpy()
                if not sel.any():
                    continue
                if new_path is None:
                    keep_mask &= ~sel  # whole data file purged away
                    continue
                parr = _np.asarray(purged, dtype=_np.int64)
                p_sel = pos[sel]
                hit_purged = (
                    _np.searchsorted(parr, p_sel, side="right")
                    - _np.searchsorted(parr, p_sel, side="left")
                ) > 0
                shift = _np.searchsorted(parr, p_sel, side="left")
                pos[sel] = p_sel - shift
                drop = sel.copy()
                drop[sel] = hit_purged
                keep_mask &= ~drop
                fp[sel & ~drop] = new_path
            yield _pd.DataFrame({"file_path": fp[keep_mask], "pos": pos[keep_mask]})

    def _remap_one(path: str) -> list[str] | None:
        """Remap one position-delete file; None when it points at no
        rewritten data file."""
        src = table.spark.read.parquet(path)
        touched = {
            mor.plain_path(r["file_path"])
            for r in src.select("file_path").distinct().collect()
        }
        if not touched & ordinal_maps.keys():
            return None
        return _write_purged(
            table,
            src.select("file_path", F.col("pos").cast("long"))
            .mapInPandas(_remap_batches, "file_path string, pos long"),
            "deletes",
        )

    # every per-file rewrite is an independent Spark job: overlap them in
    # one pool instead of one job launch after another. The ordered
    # rewrite runs on this thread meanwhile; the remaps need its result.
    with ThreadPoolExecutor(max_workers=8) as pool:
        plain = {
            p: pool.submit(_plain_rewrite, p)
            for p in sorted(matched) if p not in pos_referenced
        }
        cdf = {p: pool.submit(_cdf_rewrite, p) for p in sorted(cdf_matched)}
        dels = {p: pool.submit(_del_rewrite, p) for p in sorted(del_matched)}
        ordered = _ordered_purge_rewrite(
            table, [by_path[p] for p in pos_paths], hit, _POS_CAP
        ) if pos_paths else {}
        replacements = {p: reps for p, (reps, _) in ordered.items()}
        ordinal_maps = {p: m for p, (_, m) in ordered.items()}  # (ords, new path)
        remaps = {
            p: pool.submit(_remap_one, p)
            for p in sorted(pos_refs) if ordinal_maps and os.path.exists(p)
        }
    replacements.update((p, f.result()) for p, f in plain.items())
    cdf_replacements = {p: f.result() for p, f in cdf.items()}
    del_replacements = {p: f.result() for p, f in dels.items()}
    for p, f in remaps.items():
        if f.result() is not None:
            del_replacements[p] = f.result()
            del_matched.add(p)

    # remap every snapshot in place, preserving ids and sequencing
    dropped = 0
    for s in log.snapshots:
        new_files: list[dict] = []
        for f in s.added_files:
            if f["path"] not in replacements:
                new_files.append(f)
                continue
            reps = replacements[f["path"]]
            if not reps:
                dropped += 1
            for r in reps:
                new_files.append({**r, "added_in": f.get("added_in", s.snapshot_id)})
        s.added_files = new_files
        s.removed_paths = [
            np
            for p in s.removed_paths
            for np in (
                [r["path"] for r in replacements[p]]
                if p in replacements
                else [p]
            )
        ]
        if s.summary.get("change-data-files"):
            s.summary["change-data-files"] = [
                nf
                for f in s.summary["change-data-files"]
                for nf in (
                    cdf_replacements[f["path"]]
                    if f["path"] in cdf_matched
                    else [f]
                )
            ]
        if s.added_deletes:
            s.added_deletes = [
                {**d, "path": np}
                for d in s.added_deletes
                for np in (
                    del_replacements[d["path"]]
                    if d["path"] in del_matched
                    else [d["path"]]
                )
            ]
    log._write()
    # unlink ONLY bytes this table owns: files outside table_dir may be
    # shared — registered via add_files, or referenced by a shallow clone
    # (or BE a clone's view of its source). The rewritten replacements
    # fully cover THIS table's log either way; foreign owners keep their
    # bytes, and orphan cleanup on the owning table reclaims them.
    own = os.path.abspath(table.table_dir) + os.sep
    skipped_shared = 0
    for p in list(matched) + sorted(cdf_matched) + sorted(del_matched):
        if not os.path.abspath(p).startswith(own):
            skipped_shared += 1
            continue
        remove_table_file(p)
    rows_purged = sum(matched.values())
    table.log.commit(
        "replace",
        [],
        summary={
            "op": "purge_rows",
            "files_rewritten": len(matched),
            "change_files_rewritten": len(cdf_matched),
            "rows_purged": rows_purged,
            "shared_files_kept": skipped_shared,
        },
    )
    return {
        "files_rewritten": len(matched),
        "files_dropped": dropped,
        "change_files_rewritten": len(cdf_matched),
        "rows_purged": rows_purged,
    }


def shallow_clone(lh, source: LakehouseTable, identifier: str) -> LakehouseTable:
    """Zero-copy SHALLOW CLONE (Delta's CLONE semantics): a new table whose
    first snapshot REFERENCES the source's live data files — no bytes are
    read or copied, the clone commit is pure metadata whatever the table
    size. Writes to either table diverge from the clone point; the clone
    starts its own snapshot history.

    File entries are copied verbatim (partition values, stats, blooms), so
    the clone prunes and point-looks-up exactly like the source. Live
    merge-on-read deletes carry over with their original sequence numbers
    (``preserve_sequencing`` — the rollback machinery), so deleted keys
    stay deleted in the clone.

    Operational hazard, same as Delta's: the source's ``remove_orphan_
    files``/``expire_snapshots``/``purge_rows`` compute reachability
    against the SOURCE log only — running them on the source can delete
    files a shallow clone still references. The reverse is safe:
    ``purge_rows`` on a clone rewrites its own view but never unlinks
    bytes outside its table directory. Clones are for experiments and short-lived branches-
    across-tables; materialize (compact the clone) before expiring the
    source.
    """
    clone = lh.create_table(
        identifier,
        source.schema(),
        partition_by=list(source.log.partition_by or []) or None,
        properties=dict(source.log.properties),
    )
    files = [dict(f) for f in source.log.live_files()]
    deletes = [dict(d) for d in source.log.live_deletes()]
    snap = clone.log.commit(
        "add_files",
        files,
        added_deletes=deletes,
        summary={
            "op": "shallow_clone",
            "source": source.table_dir,
            "source_snapshot": source.log.current_snapshot_id(),
        },
        preserve_sequencing=True,
    )
    # preserved sequence numbers come from the SOURCE's id space, which can
    # run far past this young log's counter; bump the clone commit's own id
    # above them so every FUTURE clone commit (ids are current+1) sequences
    # after every cloned entry — otherwise a new MoR delete in the clone
    # would wrongly exempt the cloned files as "added later"
    max_seq = max(
        [snap.snapshot_id]
        + [f.get("added_in", 0) for f in files]
        + [d.get("snapshot_id", 0) for d in deletes]
    )
    if max_seq > snap.snapshot_id:
        snap.snapshot_id = max_seq
        clone.log._write()
    return clone
