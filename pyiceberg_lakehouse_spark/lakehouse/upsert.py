"""Keyed upsert (last-wins MERGE) — the reference's flagship composite (Q2).

Semantics of upsert.py:58-86 / upsert_parquet-lazy-polars.py:58-98:
``MERGE INTO t USING new ON keys WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED
THEN INSERT *``. The reference's "last wins" depends on pandas concat file
order (upsert.py:53); we make it deterministic with an explicit source
priority column ordered in a row_number window (SURVEY.md §7 hard-part 1).

Three strategies:

- ``upsert``: full-table merge + overwrite. The table side reaches the
  merge through a broadcast anti-join on the batch keys
  (``merge_keep_last``), so it is never shuffled, but every file is
  rewritten. Fine for small tables; at 100 TB it rewrites everything.
- ``upsert_partitioned``: merge-on-read. The batch reduces to one
  last-wins row per key and lands as ONE ``delete`` snapshot: those rows
  as data files plus an equality-delete file of their keys. No table
  file is read, removed or rewritten, so the write cost tracks the
  batch, not the partitions it touches, and a key may move partition
  (the delete hides its older row wherever it lives).
- ``apply_changes`` (op-tagged CDC batches): the same merge-on-read
  commit, with deletes among the batch keys.

Reads anti-join the keys of merge-on-read commits until ``compact()``
folds the deletes into rewritten files.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse.mor import anti_join_keys
from pyiceberg_lakehouse_spark.lakehouse.table import LakehouseTable


def keep_last(
    rows: DataFrame, key_cols: list[str], order_col: str | None, *tiebreak: F.Column
) -> DataFrame:
    """One row per key of ``rows``: the highest ``order_col``, then the
    first under ``tiebreak`` (an arbitrary one among what still ties).
    The NULL-key rows are one key."""
    order = ([F.desc(order_col)] if order_col else []) + list(tiebreak)
    w = Window.partitionBy(*key_cols).orderBy(*(order or [F.lit(1)]))
    return (
        rows.withColumn("_keep_rn", F.row_number().over(w))
        .filter(F.col("_keep_rn") == 1)
        .drop("_keep_rn")
    )


def merge_keep_last(
    current: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """Deterministic last-wins merge of two frames on ``key_cols``.

    ``new`` rows outrank ``current`` rows; within the new side,
    ``order_col`` (descending) breaks ties if given. Output has
    ``current``'s column set.

    r19 (guide §2.3/§3): the old implementation shuffled current ∪ new
    through ONE row_number window, so the exchange carried the FULL
    table side — at 100 TB that hash-repartitions the table to apply a
    batch orders of magnitude smaller. The merge's decisions only need
    the NEW side's keys: reduce new to one row per key (the same window
    ordering, now over the small side only), anti-join current against
    those keys (broadcast-able — the table side is never shuffled), and
    union. Null-safe key equality keeps the old window's NULL-key
    grouping (a new NULL-key row still replaces current NULL-key rows).
    One observable change, documented: a current side holding DUPLICATE
    keys keeps them when their key is not in the batch — the old
    window's pick among untouched equals was an undocumented,
    nondeterministic dedup side effect (no order separated them), and
    every caller's table invariant is one row per key.
    When the batch keys outgrow ``spark.sql.autoBroadcastJoinThreshold``
    (64 MiB in session.py) the anti-join falls back to a sort-merge join,
    which shuffles and sorts the whole table side on the keys: the
    exchange the broadcast exists to avoid. The merged rows of a
    partitioned table still cross one exchange when they are written (the
    write path's rebalance by partition columns); that one is sized by the
    touched partitions, and it is what keeps the rewrite to a few files
    per partition.
    """
    cols = current.columns
    new_one = keep_last(new, key_cols, order_col).select(*cols)
    # the reduced batch feeds BOTH the anti-join keys and the union;
    # cut the lineage so its source is scanned once, not per branch
    # (checkpointing the small side only — never the table side)
    new_one = new_one.localCheckpoint(eager=False)
    survivors = anti_join_keys(current.select(*cols), new_one, key_cols)
    return survivors.unionByName(new_one)


def upsert(
    table: LakehouseTable,
    new: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
):
    """Full merge-overwrite (matches upsert.py:58-86 exactly)."""
    merged = merge_keep_last(table.scan(), new, key_cols, order_col)
    return table.overwrite(merged, summary={"op": "upsert", "keys": key_cols})


def upsert_partitioned(
    table: LakehouseTable,
    new: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
):
    """Merge-on-read keyed upsert into a partitioned table: ``new``
    reduces to one row per key (``keep_last``) and lands as ONE
    ``delete`` snapshot, the rows plus an equality-delete file of their
    keys. The delete hides each key's older rows wherever they live, so
    a key may move partition. No table file is read, removed or
    rewritten; reads anti-join the keys until ``compact()`` folds them
    away. The commit reads no table state, so after a concurrent commit
    it rebases onto the winner and its rows win (``SnapshotLog.commit``).
    An empty batch commits nothing and returns None. Refuses an
    unpartitioned table and live files of an older partition spec."""
    pfs = table.partition_fields
    if not pfs:
        raise ValueError("table is not partitioned; use upsert()")
    _guard_single_spec(table, [pf.name for pf in pfs])
    rows = keep_last(new, key_cols, order_col).cache()
    try:
        if rows.isEmpty():
            return None
        return table._commit_key_deletes(
            rows.select(*key_cols).coalesce(1),
            key_cols,
            {"op": "upsert", "key_cols": key_cols},
            rows=rows,
        )
    finally:
        rows.unpersist()


def apply_changes(
    table: LakehouseTable,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "_op",
    order_col: str | None = None,
):
    """CDC apply: merge a change stream ('upsert'/'delete' ops) into the
    table — the consumer side of ``read_incremental``.

    The batch first reduces to one final action per key: ``order_col``
    descending picks it (e.g. a change-log sequence number), and at a tie
    — or with no ``order_col`` — a delete outranks an upsert. The whole
    batch then lands as ONE merge-on-read ``delete`` snapshot: the
    surviving upsert rows as data files, and every key of the batch,
    upserts and deletes alike, as one equality-delete file. The delete
    hides each key's older rows wherever they live (a key that moved
    partition included); the commit's own rows are exempt from it by
    sequencing. Nothing already in the table is rewritten, so the write
    cost tracks the batch, not the partitions it touches; reads anti-join
    the keys until ``compact()`` folds them away. Returns the committed
    snapshots: one, or none for a batch with no upserts or deletes.
    """
    latest = (
        keep_last(changes, key_cols, order_col, F.desc(F.col(op_col) == "delete"))
        .filter(F.col(op_col).isin("upsert", "delete"))
        .cache()
    )
    try:
        # one job over the cached batch decides what the commit holds
        counts = latest.agg(
            F.count(F.when(F.col(op_col) == "upsert", 1)).alias("ups"),
            F.count(F.when(F.col(op_col) == "delete", 1)).alias("dels"),
        ).collect()[0]
        if not (counts["ups"] or counts["dels"]):
            return []
        ups = None
        if counts["ups"]:
            ups = latest.filter(F.col(op_col) == "upsert").drop(op_col)
        return [
            table._commit_key_deletes(
                latest.select(*key_cols).coalesce(1),
                key_cols,
                {
                    "op": "apply_changes",
                    "key_cols": key_cols,
                    "upserts": counts["ups"],
                    "deletes": counts["dels"],
                },
                rows=ups,
            )
        ]
    finally:
        latest.unpersist()


def merge_into(
    table: LakehouseTable,
    source: DataFrame,
    on: list[str],
    *,
    matched_update: F.Column | bool = True,
    matched_delete: F.Column | bool = False,
    not_matched_insert: F.Column | bool = True,
):
    """Conditional MERGE (Delta/Iceberg ``MERGE INTO`` surface)::

        MERGE INTO table USING source ON <on>
        WHEN MATCHED AND <matched_delete>      THEN DELETE
        WHEN MATCHED AND <matched_update>      THEN UPDATE SET *
        WHEN NOT MATCHED AND <not_matched_insert> THEN INSERT *

    Clause order follows the SQL standard: DELETE is evaluated before
    UPDATE, so a matched row satisfying both conditions is deleted.
    Conditions are boolean Columns over the joined row — target columns by
    name, source columns as ``_src_<name>`` — or plain True/False to
    enable/disable a clause unconditionally. A condition that evaluates to
    NULL is not-satisfied (SQL MERGE semantics) and falls through to the
    next clause. ``source`` must carry the target's column set; one row per
    key (pre-reduce with ``merge_keep_last`` when batches can contain key
    duplicates).

    One full-outer shuffle join on the key + overwrite — fine for small
    and unpartitioned tables. On a partitioned table use
    ``merge_into_partitioned`` (same clause semantics, cost proportional
    to the touched partitions); for op-tagged change batches prefer
    ``apply_changes`` (merge-on-read: no table rewrite).
    """
    cols = table.schema().fieldNames()
    merged, changes = _merge_clauses(
        table.scan(), source, cols, on,
        matched_update, matched_delete, not_matched_insert,
        with_changes=table.cdf_enabled,
    )
    return table.overwrite(
        merged, summary={"op": "merge_into", "keys": list(on)},
        change_rows=changes,
    )


def merge_into_partitioned(
    table: LakehouseTable,
    source: DataFrame,
    on: list[str],
    *,
    matched_update: F.Column | bool = True,
    matched_delete: F.Column | bool = False,
    not_matched_insert: F.Column | bool = True,
):
    """Partition-scoped conditional MERGE: identical clause semantics to
    ``merge_into`` but only partitions touched by the source batch are
    read, merged, and replaced — everything else is untouched metadata, so
    the cost is proportional to the touched data, not the table (the
    difference between a partition swap and rewriting 100 TB).

    The touched-partition list comes from the source batch's (derived)
    partition values. Contract: a key's partition value must be stable (the
    MATCHED target row lives in the same partition as its source row), the
    usual property of identity/time-bucket partitioning where the
    partition column is immutable per key. Keys outside the touched
    partitions are untouched BY CONSTRUCTION, which is also what makes the
    NOT-MATCHED test exact: a source row's key can only match inside its
    own partition.
    """
    pfs = table.partition_fields
    if not pfs:
        raise ValueError("table is not partitioned; use merge_into()")
    _guard_single_spec(table, [pf.name for pf in pfs])
    cols = table.schema().fieldNames()
    touched = _touched_partitions(table, source.select(*cols))
    cur = (
        table.scan(partition_filter_any=touched)
        if touched
        else table.scan().limit(0)
    )
    merged, changes = _merge_clauses(
        cur, source, cols, on,
        matched_update, matched_delete, not_matched_insert,
        with_changes=table.cdf_enabled,
    )
    return table.replace_partitions(merged, touched, change_rows=changes)


def _guard_single_spec(table: LakehouseTable, names: list[str]) -> None:
    """Partition-scoped rewrites remove files by exact partition match;
    files written under an older spec don't carry the current keys and
    would merge without being replaced -> duplicates. Refuse loudly."""
    if any(
        any(n not in (f.get("partition") or {}) for n in names)
        for f in table.log.live_files()
    ):
        raise ValueError(
            "live files span partition specs (after evolution); "
            "compact() to the current spec first or use the full-table op"
        )


def _touched_partitions(
    table: LakehouseTable, batch: DataFrame
) -> list[dict[str, str]]:
    """Distinct (derived) partition values of ``batch`` — low cardinality
    by construction (identity/transform partition columns), collected
    driver-side to drive both the pruned scan and the replace commit."""
    from pyiceberg_lakehouse_spark.lakehouse.transforms import derived_column_typed

    pfs = table.partition_fields
    schema = table.schema()
    tagged = batch
    for pf in pfs:
        if not pf.is_identity:
            tagged = tagged.withColumn(
                pf.name,
                derived_column_typed(pf, schema[pf.source].dataType.simpleString()),
            )
    names = [pf.name for pf in pfs]
    return [
        {p: str(r[p]) for p in names}
        for r in tagged.select(*names).distinct().collect()
    ]


def _merge_clauses(
    cur: DataFrame,
    source: DataFrame,
    cols: list[str],
    on: list[str],
    matched_update: F.Column | bool,
    matched_delete: F.Column | bool,
    not_matched_insert: F.Column | bool,
    with_changes: bool = False,
):
    """The MERGE INTO row-disposition frame shared by the full-table and
    partition-scoped variants: full-outer join target vs source on the
    key, then apply DELETE > UPDATE > INSERT clause precedence. Returns
    (merged, changes): ``changes`` is the merge's row-level delta
    (``_change_type``-tagged) for change-data-feed commits when
    ``with_changes``, else None."""
    src = source.select(*cols)
    src_named = src.select(
        *[F.col(c).alias(f"_src_{c}") for c in cols]
    ).withColumn("_src_present", F.lit(True))
    joined = cur.withColumn("_tgt_present", F.lit(True)).join(
        src_named,
        on=[F.col(k).eqNullSafe(F.col(f"_src_{k}")) for k in on],
        how="full_outer",
    )

    def _cond(c: F.Column | bool) -> F.Column:
        # SQL MERGE treats a NULL clause condition as not-satisfied (falls
        # through to the next clause); without the coalesce, a NULL column in
        # the condition would NULL delete_hit/update_hit/keep_target and the
        # row-disposition filter would silently DROP the row — data loss.
        return F.lit(c) if isinstance(c, bool) else F.coalesce(c, F.lit(False))

    matched = F.col("_tgt_present").isNotNull() & F.col("_src_present").isNotNull()
    delete_hit = matched & _cond(matched_delete)
    update_hit = matched & ~_cond(matched_delete) & _cond(matched_update)
    insert_hit = (
        F.col("_tgt_present").isNull()
        & F.col("_src_present").isNotNull()
        & _cond(not_matched_insert)
    )
    keep_target = F.col("_tgt_present").isNotNull() & ~delete_hit & ~update_hit
    out_cols = [
        F.when(update_hit | insert_hit, F.col(f"_src_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in cols
    ]
    out = joined.filter(keep_target | update_hit | insert_hit).select(*out_cols)
    if not with_changes:
        return out, None
    # Row-level delta of the merge for the change-data feed: DELETEd rows
    # and changed-UPDATE pre-images tag 'delete'; INSERTs and changed-UPDATE
    # post-images tag 'insert'. An UPDATE that assigns identical values
    # emits nothing, so the feed equals the state diff exactly. Both
    # branches re-filter the same join; each is scoped to the frame the
    # caller already pruned (touched partitions for the partitioned merge).
    same = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"_src_{c}")) for c in cols],
    )
    eff_update = update_hit & ~same
    pre = (
        joined.filter(delete_hit | eff_update)
        .select(*cols)
        .withColumn("_change_type", F.lit("delete"))
    )
    post = (
        joined.filter(insert_hit | eff_update)
        .select(*[F.col(f"_src_{c}").alias(c) for c in cols])
        .withColumn("_change_type", F.lit("insert"))
    )
    return out, pre.unionByName(post)
