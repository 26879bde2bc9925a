"""Relational contract queries: the TPC-H-ish checklist (scan, filter,
aggregate, broadcast/anti/semi join) and the event-log shapes (windows,
sessions, as-of and range joins, funnel, retention, Z-order, top-k).

DuckDB sum() over integer arguments returns HUGEINT (int128), which
pandas renders as float64/object and breaks the value hash against
Spark's int64, so every integer sum in these oracles carries an outer
::bigint cast.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from palladian_spark.operators.layout import zorder_events_sql, zorder_index
from palladian_spark.operators.temporal import (
    asof_join, cohort_retention, cohort_retention_sql, events_asof_sql,
    events_range_sql, funnel_steps, funnel_steps_sql, range_join,
)

from contract import query
from contract.common import _read


# ---- relational checklist over TPC-H-ish tables (SURVEY §2.8) ----
@query(headline=True, oracle=lambda: """
            select l_returnflag, l_linestatus,
                   sum(l_quantity)::bigint as sum_qty,
                   sum(round(l_extendedprice * 100)::bigint)::bigint
                       as sum_base_price_cents,
                   sum(round(l_extendedprice * (1.0 - l_discount) * 100)::bigint)::bigint
                       as sum_disc_price_cents,
                   count(*) as count_order
            from lineitem
            where l_shipdate <= timestamp '2000-09-02'
            group by l_returnflag, l_linestatus
        """)
def tpch_pricing(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_base_price_cents"
            ),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("sum_disc_price_cents"),
            F.count("*").alias("count_order"),
        )
    )


@query(headline=True, oracle=lambda: """
            select c_mktsegment, count(*) as n_orders,
                   sum(round(o_totalprice * 100)::bigint)::bigint as sum_total_cents
            from orders join customer on o_custkey = c_custkey
            group by c_mktsegment
        """)
def join_customer_orders(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    c = F.broadcast(_read(spark, sf_dir, "customer"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_total_cents"
            ),
        )
    )


@query(oracle=lambda: """
            select c_custkey, c_name from customer
            where c_custkey not in
              (select o_custkey from orders where o_totalprice > 450000)
        """)
def anti_join_customers(spark, sf_dir):
    # customers with no large order — the T2 blacklist anti-join shape
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


@query(oracle=lambda: """
            select p_brand, count(*) as n_parts
            from part
            where p_partkey in (select l_partkey from lineitem)
            group by p_brand
        """)
def semi_join_parts(spark, sf_dir):
    p = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem")
    return (
        p.join(
            li.select(F.col("l_partkey").alias("p_partkey")), "p_partkey", "left_semi"
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


@query(oracle=lambda: """
            select event_type, event_id, rn
            from (select event_type, event_id,
                         row_number() over (partition by event_type
                                            order by ts, event_id) as rn
                  from events)
            where rn <= 5
        """)
def events_seed_sample(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("event_type", "event_id", "rn")
    )


@query(headline=True, oracle=lambda: """
            with e as (select event_type, epoch_us(ts) as us from events),
            mn as (select min(us) as m from e)
            select event_type, (us - m) // 3600000000 as window_id,
                   count(*) as n_events
            from e cross join mn
            group by 1, 2
        """)
def events_windowed_counts(spark, sf_dir):
    # tumbling 1-hour windows keyed off the corpus min timestamp
    # (bucket = (us - min_us) div 3600e6): offset-invariant under the
    # NTZ epoch-cast difference, so both engines bucket identically -
    # the batch twin of the streaming pipeline's windowed aggregation
    ev = _read(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    mn = F.broadcast(ev.agg(F.min("us").alias("_mn")))
    return (
        ev.crossJoin(mn)
        .select(
            "event_type",
            F.expr("(us - _mn) div 3600000000").alias("window_id"),
        )
        .groupBy("event_type", "window_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(headline=True, oracle=cohort_retention_sql)
def events_retention(spark, sf_dir):
    # daily cohort-retention triangle: (cohort, offset, n_keys) over
    # integer bucket differences - no global sort/window anywhere
    ev = _read(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    return cohort_retention(ev)


@query(headline=True, oracle=lambda: funnel_steps_sql(["view", "click", "purchase"]))
def events_funnel(spark, sf_dir):
    # ordered funnel view -> click -> purchase per user: earliest
    # strictly-increasing chain, inter-step gaps in microseconds
    # (offset-invariant under the NTZ epoch cast)
    ev = _read(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    return funnel_steps(ev, ["view", "click", "purchase"])


# Morton layout key: identical quantize + unrolled bit-interleave
# expression on both engines (offset-invariant under the NTZ epoch
# cast - only differences enter the quantizer)
@query(headline=True, oracle=zorder_events_sql)
def events_zorder(spark, sf_dir):
    # Z-order (Morton) layout key over (user_id, ts): the write-side
    # clustering column for two-dimensional file pruning (Delta
    # OPTIMIZE ZORDER semantics). Pure codegen projection + one 1-row
    # broadcast stats agg; envelope-tightness vs random layout is
    # pytest-gated (tests/test_layout.py).
    ev = _read(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    res = zorder_index(
        ev.select("event_id", "user_id", "ts_us"), "user_id", "ts_us"
    )
    return res.select("event_id", "qx", "qy", "zval", "zbucket")


@query(headline=True, oracle=lambda: """
            with e as (select user_id, event_id, epoch_us(ts) as us from events),
            lagged as (
              select user_id,
                     us - lag(us) over (partition by user_id
                                        order by us, event_id) as gap
              from e)
            select user_id,
                   sum(case when gap is null or gap > 1800000000 then 1 else 0 end)::bigint
                       as n_sessions,
                   count(*) as n_events
            from lagged group by user_id
        """)
def events_sessionize(spark, sf_dir):
    # ts is TIMESTAMP_NTZ in the parquet; the tz-cast offset is constant,
    # so gaps (differences) match DuckDB's naive epoch_us exactly.
    ev = _read(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    sess = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800 * 1000 * 1000), 1).otherwise(0),
    )
    return sess.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events")
    )


@query(headline=True, oracle=lambda: events_asof_sql("purchase", "view", 3_600_000_000))
def events_asof(spark, sf_dir):
    # scalable as-of join (union-scan + one window, zero joins): each
    # purchase matched to the user's latest view at-or-before it,
    # within a 1-hour tolerance. Emits the tz-free gap instead of
    # absolute epochs (ts is TIMESTAMP_NTZ; the cast offset is
    # session-tz-dependent but constant, so differences are exact).
    ev = _read(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    cols = ["user_id", "ts_us", "event_id", "value"]
    out = asof_join(
        ev.where(F.col("event_type") == "purchase").select(*cols),
        ev.where(F.col("event_type") == "view").select(*cols),
        key="user_id",
        ts="ts_us",
        tiebreak="event_id",
        right_cols=["value"],
        tolerance=3_600_000_000,
    )
    return out.select(
        "event_id",
        "user_id",
        "asof_event_id",
        "asof_value",
        (F.col("ts_us") - F.col("asof_ts_us")).alias("gap_us"),
    )


@query(headline=True, oracle=lambda: events_range_sql("purchase", "view", 900_000_000))
def events_range_join(spark, sf_dir):
    # banded range join (bucket = ts div radius, right side replicated
    # to +/-1 buckets -> pure equi join + residual filter): per
    # purchase, how many views by the same user within +/-15 min.
    # max() not sum() over the double column — float-order-independent,
    # so the cross-engine hash compare is exact.
    ev = _read(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    pairs = range_join(
        ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts_us"
        ),
        ev.where(F.col("event_type") == "view").select(
            "user_id", "ts_us", "event_id", "value"
        ),
        key="user_id",
        ts="ts_us",
        radius=900_000_000,
        right_cols=["event_id", "value"],
        how="left_outer",
    )
    return pairs.groupBy("event_id", "user_id").agg(
        F.count("r_event_id").alias("n_matches"),
        F.max("r_value").alias("max_match_value"),
    )


@query(headline=True, oracle=lambda: """
            select event_type, n, rnk
            from (select event_type, count(*) as n,
                         row_number() over (order by count(*) desc, event_type) as rnk
                  from events group by event_type)
            where rnk <= 5
        """)
def events_topk(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("event_type", "n", "rnk")
    )
