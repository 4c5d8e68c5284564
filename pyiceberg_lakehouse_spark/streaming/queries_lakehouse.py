"""Lakehouse streaming integration queries: table as sink, table as source.

Batch-equivalence is the oracle story, as with the other streaming queries:
the streamed pipeline's end state must equal the batch SQL over the same
events parquet.
"""

from __future__ import annotations

from pyiceberg_lakehouse_spark.tmpdirs import session_tmpdir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse.table import Lakehouse
from pyiceberg_lakehouse_spark.registry import register
from pyiceberg_lakehouse_spark.sources.testdata import load_table
from pyiceberg_lakehouse_spark.streaming import windows as W
from pyiceberg_lakehouse_spark.streaming.lakehouse_io import (
    read_table_stream,
    stream_table_to_memory,
    write_stream_to_table,
)


EVENTS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@register(
    "stream_lh_sink_hourly",
    """
    select date_trunc('hour', ts) as hour_start,
           count(*) as n,
           cast(sum(cast(value as decimal(18,4))) as double) as sum_value
    from events group by 1
    """,
)
def stream_lh_sink_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events file-stream -> lakehouse sink (one idempotent snapshot per
    micro-batch) -> batch scan of the table == batch GROUP BY over the
    source. Exercises the full exactly-once write path."""
    lh = Lakehouse(spark, session_tmpdir(prefix="lh_stream_q_"))
    t = lh.create_table("ns.events_sink", EVENTS_TABLE_SCHEMA)
    ev = W.events_stream(spark, sf_dir)
    q = write_stream_to_table(
        ev, t, checkpoint_dir=session_tmpdir(prefix="ckpt_"), available_now=True
    )
    q.awaitTermination()
    return (
        t.scan()
        .groupBy(F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_start"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


@register(
    "stream_lh_source_by_type",
    """
    select event_type, count(*) as n,
           cast(sum(cast(value as decimal(18,4))) as double) as sum_value
    from events group by event_type
    """,
)
def stream_lh_source_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse table as a STREAM source: batch-append events to a table,
    file-stream the table's data files into memory, then aggregate — equal
    to the batch GROUP BY over the source parquet."""
    from pyiceberg_lakehouse_spark.sources.testdata import load_table

    lh = Lakehouse(spark, session_tmpdir(prefix="lh_stream_src_"))
    t = lh.create_table("ns.events_src", EVENTS_TABLE_SCHEMA)
    ev = load_table(spark, sf_dir, "events")
    # two appends -> two commit dirs: the stream must discover both
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    stream = read_table_stream(spark, t)
    drained = stream_table_to_memory(stream.select("event_type", "value"))
    return drained.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


@register(
    "stream_stream_join",
    """
    select a.event_id as click_id, b.event_id as purchase_id,
           a.user_id as user_id
    from events a
    join events b
      on a.user_id = b.user_id
     and a.event_type = 'click' and b.event_type = 'purchase'
     and b.ts >= a.ts and b.ts <= a.ts + interval 12 hour
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-interval condition: clicks
    joined to purchases by the same user within 12 hours.

    Both sides carry watermarks so the join state is bounded — Spark evicts
    click state once the purchase-side watermark passes click.ts + 12h,
    which is what makes this viable on an unbounded 100 TB stream. The
    batch self-join SQL is the oracle."""
    clicks = (
        W.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        W.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "13 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 12 hours")),
        "inner",
    ).select("click_id", "purchase_id", "user_id")
    return W.run_to_memory(joined, output_mode="append")


@register(
    "stream_stream_left_join",
    """
    select a.event_id as click_id, b.event_id as purchase_id,
           a.user_id as user_id
    from (select * from events where event_type = 'click') a
    left join (select * from events where event_type = 'purchase') b
      on a.user_id = b.user_id
     and b.ts >= a.ts and b.ts <= a.ts + interval 12 hour
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with a time-interval condition:
    every click emits, with NULL purchase columns when no same-user
    purchase follows within 12 hours — the abandonment/attribution shape.

    Outer-ness is what makes this harder than the inner twin: a null-
    extended row may only be emitted once the purchase-side watermark
    PROVES no match can still arrive (click_ts + 12h + delay), so a
    finite replay needs the watermark pushed past the last real event —
    ``events_stream_with_horizon`` stages sentinel batches shaped to
    survive Catalyst's filter pushdown below the EventTimeWatermark node
    (see its docstring for the trap), and sentinel artifacts are dropped
    from the SINK's batch output, never inside the streaming plan. The
    batch left-join SQL is the oracle; the driver hash covers the
    null-extended rows too."""
    stream = W.events_stream_with_horizon(spark, sf_dir)
    clicks = (
        stream.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            "event_type",
        )
        .withWatermark("click_ts", "1 hour")
        .filter(F.col("event_type") == "click")
        .drop("event_type")
    )
    purchases = (
        stream.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            "event_type",
        )
        .withWatermark("purchase_ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 12 hours")),
        "left_outer",
    ).select("click_id", "purchase_id", "user_id")
    drained = W.run_to_memory(joined, output_mode="append")
    # batch-side sentinel exclusion (post-sink on purpose; see docstring)
    return drained.filter(F.col("user_id") != W.SENTINEL_USER)


@register(
    "stream_stream_full_join",
    """
    select a.event_id as click_id, b.event_id as purchase_id,
           coalesce(a.user_id, b.user_id) as user_id
    from (select * from events where event_type = 'click') a
    full join (select * from events where event_type = 'purchase') b
      on a.user_id = b.user_id
     and b.ts >= a.ts and b.ts <= a.ts + interval 12 hour
    """,
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: unmatched clicks AND
    unmatched purchases both emit null-extended rows once the opposing
    side's watermark proves no match can arrive — same sentinel-horizon
    finalization as the left-outer twin (see stream_stream_left_join),
    with sentinel artifacts from EITHER side dropped post-sink."""
    stream = W.events_stream_with_horizon(spark, sf_dir)
    clicks = (
        stream.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            "event_type",
        )
        .withWatermark("click_ts", "1 hour")
        .filter(F.col("event_type") == "click")
        .drop("event_type")
    )
    purchases = (
        stream.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            "event_type",
        )
        .withWatermark("purchase_ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 12 hours")),
        "full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
    )
    drained = W.run_to_memory(joined, output_mode="append")
    return drained.filter(F.col("user_id") != W.SENTINEL_USER)


@register(
    "stream_stream_semi_join",
    """
    select a.event_id as click_id, a.user_id as user_id
    from (select * from events where event_type = 'click') a
    where exists (
      select 1 from events b
      where b.event_type = 'purchase' and b.user_id = a.user_id
        and b.ts >= a.ts and b.ts <= a.ts + interval 12 hour
    )
    """,
)
def stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join: a click emits exactly once,
    when its FIRST qualifying purchase arrives — converted-click
    detection without duplicating per purchase. Unlike the outer twins,
    matched rows need no watermark finalization (they emit on match), so
    the plain stream suffices; the watermark still bounds the join
    state. The EXISTS batch query is the oracle."""
    stream = W.events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "13 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 12 hours")),
        "left_semi",
    ).select("click_id", "user_id")
    return W.run_to_memory(joined, output_mode="append")


@register(
    "stream_stream_anti_join",
    """
    select a.event_id as click_id, a.user_id as user_id
    from (select * from events where event_type = 'click') a
    where not exists (
      select 1 from events b
      where b.event_type = 'purchase' and b.user_id = a.user_id
        and b.ts >= a.ts and b.ts <= a.ts + interval 12 hour
    )
    """,
)
def stream_stream_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT ANTI interval join: a click emits exactly once,
    and only when the purchase-side watermark PROVES no same-user purchase
    followed within 12 hours — unconverted-click detection, the retention/
    remarketing feed shape.

    Structured Streaming has no native left_anti stream-stream join
    (supported modes stop at leftSemi), but the semantics compose exactly:
    the watermark-complete LEFT OUTER join already emits a null-extended
    row precisely when a click is finally PROVEN unmatched, so anti ==
    left_outer + ``purchase_id IS NULL``. The filter runs on the SINK's
    batch output (never inside the streaming plan, where it would race
    finalization); same sentinel-horizon machinery as the outer twins.
    The NOT EXISTS batch query is the oracle."""
    stream = W.events_stream_with_horizon(spark, sf_dir)
    clicks = (
        stream.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            "event_type",
        )
        .withWatermark("click_ts", "1 hour")
        .filter(F.col("event_type") == "click")
        .drop("event_type")
    )
    purchases = (
        stream.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            "event_type",
        )
        .withWatermark("purchase_ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 12 hours")),
        "left_outer",
    ).select("click_id", "purchase_id", "user_id")
    drained = W.run_to_memory(joined, output_mode="append")
    return drained.filter(
        (F.col("user_id") != W.SENTINEL_USER) & F.col("purchase_id").isNull()
    ).select("click_id", "user_id")


@register(
    "stream_stream_right_join",
    """
    select a.event_id as click_id, b.event_id as purchase_id,
           b.user_id as user_id
    from (select * from events where event_type = 'click') a
    right join (select * from events where event_type = 'purchase') b
      on a.user_id = b.user_id
     and b.ts >= a.ts and b.ts <= a.ts + interval 12 hour
    """,
)
def stream_stream_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join: every purchase emits, with
    NULL click columns when no same-user click preceded it within 12
    hours — organic-purchase attribution. The null-extended purchase may
    only emit once the click-side watermark proves no qualifying click
    can still arrive; same sentinel-horizon finalization as the other
    outer twins, sentinel artifacts dropped post-sink."""
    stream = W.events_stream_with_horizon(spark, sf_dir)
    clicks = (
        stream.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
            "event_type",
        )
        .withWatermark("click_ts", "1 hour")
        .filter(F.col("event_type") == "click")
        .drop("event_type")
    )
    purchases = (
        stream.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
            "event_type",
        )
        .withWatermark("purchase_ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 12 hours")),
        "right_outer",
    ).select("click_id", "purchase_id", "user_id")
    drained = W.run_to_memory(joined, output_mode="append")
    return drained.filter(F.col("user_id") != W.SENTINEL_USER)


@register(
    "stream_static_enrich",
    """
    select e.event_id, e.user_id, c.c_mktsegment as segment
    from events e
    left join customer c on c.c_custkey = e.user_id
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC left join: enrich every event in the stream with a
    dimension attribute from a static table — the most common production
    streaming shape (fact stream x slowly-changing dim).

    Stateless by construction: each micro-batch hash-joins against the
    static side with no watermark and no join state, so at 100 TB/day the
    cost is the batch-join cost of each micro-batch and the dim side
    broadcasts when small (Catalyst plans it exactly like a batch
    broadcast join inside every micro-batch). Left-ness keeps events whose
    key has no dim row — NULL-extended, never dropped. The batch left-join
    SQL is the oracle over the same inputs."""
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("_dim_key"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    ev = W.events_stream(spark, sf_dir).select("event_id", "user_id")
    joined = ev.join(
        dim, F.col("user_id") == F.col("_dim_key"), "left"
    ).select("event_id", "user_id", "segment")
    return W.run_to_memory(joined, output_mode="append")


@register(
    "stream_lh_change_feed",
    """
    select 'insert' as _change_type, count(*) as n,
           cast(sum(event_id) as bigint) as sum_id
    from events
    union all
    select 'delete' as _change_type, count(*) as n,
           cast(sum(event_id) as bigint) as sum_id
    from events where event_id % 10 = 0
    """,
)
def stream_lh_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CHANGE FEED over a mutating lakehouse table: append even
    event_ids, copy-on-write DELETE every 10th id (its commit persists
    change-data files — table property ``change-data-feed=true``), append
    the odds, then stream the feed. The per-commit feed semantics: both
    appends' rows arrive as inserts, the purged rows as deletes — the
    oracle states both sets closed-form (ids %10==0 are all even, so the
    delete hits exactly them). Planning is metadata-only per commit; no
    state diff ever runs."""
    from pyiceberg_lakehouse_spark.streaming.lakehouse_io import (
        read_changes_stream,
    )

    lh = Lakehouse(spark, session_tmpdir(prefix="lh_cdf_stream_"))
    t = lh.create_table(
        "ns.events_cdf_feed",
        EVENTS_TABLE_SCHEMA,
        properties={"change-data-feed": "true"},
    )
    ev = load_table(spark, sf_dir, "events")
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    t.delete_where(F.col("event_id") % 10 == 0)
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    feed = read_changes_stream(spark, t)
    drained = stream_table_to_memory(feed.select("_change_type", "event_id"))
    return drained.groupBy("_change_type").agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sum_id"),
    )


@register(
    "stream_lh_datasource_partitioned",
    """
    select event_type, count(*) as n,
           cast(sum(cast(value as decimal(18,4))) as double) as sum_value
    from events group by event_type
    """,
)
def stream_lh_datasource_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED lakehouse table as a stream source via
    ``readStream.format("lakehouse")`` (sources/datasource.py): offsets are
    snapshot ids, and partition values re-attach from log metadata — the
    hive-path-discovery restriction of the file-stream source
    (lakehouse_io.py) does not apply. Two appends -> two snapshots; the
    availableNow drain must see both, equal to the batch GROUP BY."""
    from pyiceberg_lakehouse_spark.sources.datasource import register_lakehouse_source
    from pyiceberg_lakehouse_spark.sources.testdata import load_table

    lh = Lakehouse(spark, session_tmpdir(prefix="lh_ds_src_"))
    t = lh.create_table(
        "ns.events_ds_src", EVENTS_TABLE_SCHEMA, partition_by=["event_type"]
    )
    ev = load_table(spark, sf_dir, "events")
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    register_lakehouse_source(spark)
    stream = spark.readStream.format("lakehouse").load(t.table_dir)
    drained = stream_table_to_memory(stream.select("event_type", "value"))
    return drained.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


@register(
    "stream_lh_cdc_apply",
    """
    with base as (
      select o_orderkey, o_custkey, o_orderstatus, o_totalprice
      from orders where o_orderkey % 3 != 0
    ),
    ups as (
      select o_orderkey, o_custkey, o_orderstatus,
             o_totalprice + 100000.0 as o_totalprice
      from orders where o_orderkey % 5 = 0
    ),
    merged as (
      select * from ups
      union all
      select * from base
      where o_orderkey not in (select o_orderkey from ups)
    )
    select o_orderkey, o_custkey, o_orderstatus, o_totalprice
    from merged where o_orderkey % 7 != 0
    """,
)
def stream_lh_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC consumption end to end: a change stream (upsert +
    delete ops) applied to a lakehouse table via foreachBatch ->
    ``apply_changes`` (one merge-on-read commit per micro-batch: the
    upsert rows plus an equality-delete file of the batch's keys; a key
    both upserted and deleted in one batch ends deleted). The oracle
    states the expected final table directly over the source."""
    import os

    from pyspark.sql import functions as SF

    from pyiceberg_lakehouse_spark.lakehouse.upsert import apply_changes
    from pyiceberg_lakehouse_spark.sources.testdata import load_table

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    cols = [f.name for f in schema.fields]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    lh = Lakehouse(spark, session_tmpdir(prefix="lh_cdc_s_"))
    t = lh.create_table("ns.orders_cdc_s", schema)
    t.append(orders.filter(SF.col("o_orderkey") % 3 != 0))

    # change feed on disk: upserts (+100000 price) then deletes, one file
    changes_dir = session_tmpdir(prefix="cdc_feed_")
    ups = (
        orders.filter(SF.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", SF.col("o_totalprice") + SF.lit(100000.0))
        .withColumn("_op", SF.lit("upsert"))
    )
    dels = (
        orders.filter(SF.col("o_orderkey") % 7 == 0)
        .select("o_orderkey")
        .withColumn("o_custkey", SF.lit(None).cast("long"))
        .withColumn("o_orderstatus", SF.lit(None).cast("string"))
        .withColumn("o_totalprice", SF.lit(None).cast("double"))
        .withColumn("_op", SF.lit("delete"))
    )
    ups.unionByName(dels).coalesce(1).write.mode("overwrite").parquet(changes_dir)

    change_schema = schema.add("_op", T.StringType())
    stream = spark.readStream.schema(change_schema).parquet(changes_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t.log.load()
        apply_changes(t, batch_df, key_cols=["o_orderkey"], op_col="_op")

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", session_tmpdir(prefix="cdc_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return t.scan().select(*cols)


@register(
    "stream_lh_wap_publish",
    """
    select event_type, count(*) as n,
           cast(sum(cast(value as decimal(18,4))) as double) as sum_value
    from events
    group by event_type
    """,
)
def stream_lh_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming write-audit-publish: micro-batches stage on a branch ref,
    an audit validates the FULL staged state, then one atomic fast-forward
    publishes to main — a live pipeline never exposes unaudited data. The
    oracle states the published table contents directly over the source."""
    from pyiceberg_lakehouse_spark.streaming.lakehouse_io import (
        stream_write_audit_publish,
    )

    lh = Lakehouse(spark, session_tmpdir(prefix="lh_stream_q_"))
    t = lh.create_table("ns.events_wap", EVENTS_TABLE_SCHEMA)
    stream_write_audit_publish(
        W.events_stream(spark, sf_dir),
        t,
        checkpoint_dir=session_tmpdir(prefix="ckpt_"),
        audits=[lambda df: df.count() > 0],
    )
    return (
        t.scan()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


@register(
    "stream_lh_ann_ingest",
    """
    select vec_id as qid, cast(3 as integer) as n_results,
           true as matches_unindexed
    from embeddings where vec_id < 8
    """,
)
def stream_lh_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ANN ingestion, driver-hashable: build the IVF index on
    60% of the corpus, stream the rest in multiple micro-batches through
    ``write_stream_to_indexed_table`` (incremental refresh every 2
    batches), then the index probe over the final table must equal the
    unindexed ``ivf_topk`` twin over the FULL corpus — streamed vectors
    findable, indexed files untouched by the refreshes. Composes the
    exactly-once sink (lakehouse_io.py) with refresh_ann_indexes
    (maintenance.py); the reference has no streaming story at all, so this
    is beyond-reference surface for a training-data pipeline that ingests
    embeddings continuously."""
    import json
    import os

    from pyiceberg_lakehouse_spark.lakehouse.maintenance import (
        build_ivf_index,
        refresh_ann_indexes,
    )
    from pyiceberg_lakehouse_spark.operators import similarity
    from pyiceberg_lakehouse_spark.sources.testdata import load_table
    from pyiceberg_lakehouse_spark.streaming.lakehouse_io import (
        write_stream_to_indexed_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 < 3)
    rest = emb.filter(F.col("vec_id") % 5 >= 3)
    work = session_tmpdir(prefix="ann_stream_")
    lh = Lakehouse(spark, os.path.join(work, "wh"))
    t = lh.create_table("ns.emb_stream", emb.schema)
    t.append(base)
    build_ivf_index(t, k=8, iters=1)

    # 4 on-disk feed files -> 4 micro-batches via maxFilesPerTrigger=1
    feed = os.path.join(work, "feed")
    rest.repartition(4).write.mode("overwrite").parquet(feed)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(feed)
    )
    q = write_stream_to_indexed_table(
        stream, t, os.path.join(work, "ckpt"), refresh_every=2
    )
    q.awaitTermination()
    refresh_ann_indexes(t)  # cover a sub-cadence tail batch; no-op if clean

    cents = json.loads(t.log.properties["ivf.centroids"])
    queries = emb.filter(F.col("vec_id") < 8)
    got = similarity.ivf_index_topk(t, queries, k=3, n_probe=4)
    twin = similarity.ivf_topk(emb, queries, cents, k=3, n_probe=4)
    a = got.groupBy("qid").agg(
        F.sort_array(F.collect_list(F.struct("rank", "vid"))).alias("res"),
        F.count("*").cast("int").alias("n_results"),
    )
    b = twin.groupBy("qid").agg(
        F.sort_array(F.collect_list(F.struct("rank", "vid"))).alias("res_twin")
    )
    return a.join(b, "qid").select(
        "qid",
        "n_results",
        (F.col("res") == F.col("res_twin")).alias("matches_unindexed"),
    )


@register(
    "stream_lh_rollup_maintain",
    """
    select event_type,
           cast(sum(cast(value as decimal(18,4))) as double) as sum_value,
           count(*) as cnt_rows,
           min(value) as min_value,
           max(value) as max_value
    from events
    group by event_type
    """,
)
def stream_lh_rollup_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate maintenance, driver-hashable: seed a fact table
    with 40% of the events, build its rollup, then stream the remaining
    60% in micro-batches through ``write_stream_with_rollup`` — each batch
    advances the summary from that batch's snapshot diff alone. The final
    summary must hash-equal DuckDB's from-scratch GROUP BY over ALL
    events. The streamed sum stays bit-exact across the per-batch partial
    merges because it accumulates in decimal(18,4) (order-independent;
    functions/exact.py) and only casts to double at the read edge.
    """
    import os

    from pyiceberg_lakehouse_spark.lakehouse.rollup import create_rollup
    from pyiceberg_lakehouse_spark.sources.testdata import load_table
    from pyiceberg_lakehouse_spark.streaming.lakehouse_io import (
        write_stream_with_rollup,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,4)")
    )
    base = events.filter(F.col("event_id") % 5 < 2)
    rest = events.filter(F.col("event_id") % 5 >= 2)
    work = session_tmpdir(prefix="rollup_stream_")
    lh = Lakehouse(spark, os.path.join(work, "wh"))
    t = lh.create_table("ns.events_fact", events.schema)
    t.append(base)
    r = create_rollup(
        lh,
        t,
        "ns.events_rollup",
        ["event_type"],
        [
            ("value_dec", "sum"),
            ("*", "count"),
            ("value", "min"),
            ("value", "max"),
        ],
    )

    feed = os.path.join(work, "feed")
    rest.repartition(3).write.mode("overwrite").parquet(feed)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(feed)
    )
    q = write_stream_with_rollup(stream, t, r, os.path.join(work, "ckpt"))
    q.awaitTermination()

    return r.scan().select(
        "event_type",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
        "cnt_rows",
        "min_value",
        "max_value",
    )


@register(
    "stream_lh_text_search",
    r"""
    with toks as (
      select doc_id, unnest(string_split_regex(lower(text), '\s+')) as token
      from documents
    ),
    f as (
      select distinct doc_id, token from toks
      where token in ('scan', 'merge')
    )
    select doc_id from f group by doc_id having count(*) = 2
    """,
)
def stream_lh_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous lexical-search maintenance, driver-hashable: seed a
    corpus table with 40% of the documents, build its inverted index, then
    stream the remaining 60% in micro-batches through
    ``write_stream_with_text_index`` — each batch tokenizes only its own
    files. The final AND-search must hash-equal DuckDB's from-scratch
    answer over ALL documents."""
    import os

    from pyiceberg_lakehouse_spark.lakehouse.text_index import (
        create_text_index,
        search_all_terms,
    )
    from pyiceberg_lakehouse_spark.sources.testdata import load_table
    from pyiceberg_lakehouse_spark.streaming.lakehouse_io import (
        write_stream_with_text_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 < 2)
    rest = docs.filter(F.col("doc_id") % 5 >= 2)
    work = session_tmpdir(prefix="ti_stream_")
    lh = Lakehouse(spark, os.path.join(work, "wh"))
    t = lh.create_table("ns.docs_fact", docs.schema)
    t.append(base)
    idx = create_text_index(lh, t, "ns.docs_ti")

    feed = os.path.join(work, "feed")
    rest.repartition(3).write.mode("overwrite").parquet(feed)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(feed)
    )
    q = write_stream_with_text_index(stream, t, idx, os.path.join(work, "ckpt"))
    q.awaitTermination()
    return search_all_terms(idx, ["scan", "merge"])


@register(
    "stream_lh_neardup",
    """
    select doc_id as id_a, doc_id + 1000000 as id_b, true as exact_dup
    from documents
    where doc_id % 4 = 1
      and len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                               'g')), ' ')) >= 3
    """,
)
def stream_lh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous near-dup maintenance, driver-hashable: seed a corpus
    table with 40% of the documents and build its banded MinHash
    signature index (lakehouse/neardup.py), then stream the remaining
    60% PLUS planted duplicates (of every doc_id % 4 == 1 — perturbed
    raw bytes, identical normalized text) in micro-batches through
    ``write_stream_with_neardup_index`` — each batch re-signatures only
    its own files. Identical normalized text gives an identical
    signature deterministically, so the final exact-verified candidate
    set must equal the planted pair set the oracle states closed-form;
    pairs whose original sat in the SEED corpus prove streamed band rows
    join pre-stream ones."""
    import os

    from pyiceberg_lakehouse_spark.lakehouse.neardup import (
        create_neardup_index,
        neardup_candidates,
    )
    from pyiceberg_lakehouse_spark.operators.dedup import (
        plant_exact_duplicates,
        verify_exact_pairs,
    )
    from pyiceberg_lakehouse_spark.streaming.lakehouse_io import (
        write_stream_with_neardup_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 < 2)
    planted = plant_exact_duplicates(docs, modulus=4, residue=1)
    rest = docs.filter(F.col("doc_id") % 5 >= 2).unionByName(planted)
    work = session_tmpdir(prefix="nd_stream_")
    lh = Lakehouse(spark, os.path.join(work, "wh"))
    t = lh.create_table("ns.nd_stream_fact", docs.schema)
    t.append(base)
    idx = create_neardup_index(lh, t, "ns.nd_stream_idx")

    feed = os.path.join(work, "feed")
    rest.repartition(3).write.mode("overwrite").parquet(feed)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(feed)
    )
    q = write_stream_with_neardup_index(stream, t, idx, os.path.join(work, "ckpt"))
    q.awaitTermination()

    return verify_exact_pairs(neardup_candidates(idx), t.scan())


def _mp4_multitrack_oracle(filt: str) -> str:
    from pyiceberg_lakehouse_spark.operators.queries_media import (
        MP4_MULTITRACK_ORACLE,
    )

    return MP4_MULTITRACK_ORACLE.format(filt=filt)


@register(
    "stream_lh_media_demux",
    _mp4_multitrack_oracle("doc_id % 7 = 2"),
)
def stream_lh_media_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous media-demux maintenance, driver-hashable: seed a
    media-document table with 40% of the docs and build its per-sample
    table (lakehouse/media.py — the multi-track demux as a DERIVED
    table: trak routing, dts/pts, byte extents, key-frame flags), then
    stream the remaining 60% in micro-batches through
    ``write_stream_with_media_samples`` — each batch demuxes only its
    own files (the cursor advances along the snapshot log; the corpus
    is never re-demuxed). The final sample table must hash-equal the
    closed-form statement of the demux output over ALL docs — the SAME
    oracle template as the ad-hoc multimodal_mp4_multitrack query, so
    the maintained table and the one-shot operator provably agree."""
    import os

    from pyiceberg_lakehouse_spark.lakehouse.media import (
        create_media_sample_table,
    )
    from pyiceberg_lakehouse_spark.streaming.lakehouse_io import (
        write_stream_with_media_samples,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 2
    ).select("doc_id")
    base = docs.filter(F.col("doc_id") % 5 < 2)
    rest = docs.filter(F.col("doc_id") % 5 >= 2)
    work = session_tmpdir(prefix="media_stream_")
    lh = Lakehouse(spark, os.path.join(work, "wh"))
    t = lh.create_table("ns.media_docs", docs.schema)
    t.append(base)
    idx = create_media_sample_table(lh, t, "ns.media_samples")

    feed = os.path.join(work, "feed")
    rest.repartition(3).write.mode("overwrite").parquet(feed)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(feed)
    )
    q = write_stream_with_media_samples(stream, t, idx, os.path.join(work, "ckpt"))
    q.awaitTermination()
    return idx.scan()
