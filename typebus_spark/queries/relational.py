"""Relational query inventory over the TPC-H-ish star schema.

The reference has NO relational operators (SURVEY.md §2.2 — proof by
exhaustion); this surface is delivered by unmodified Spark built-ins so
Catalyst/AQE pick physical strategies (broadcast joins for the small
dims, partial aggregation, sort-merge only where both sides are large).

Scale notes (100 TB design stance):
- Dimension tables (region/nation/supplier/part/customer) are broadcast;
  only `lineitem`⨝`orders` is ever a shuffle join, and AQE handles skew.
- Aggregations are expressed groupBy().agg() → Catalyst plans partial
  (map-side) aggregation automatically; no driver-side collects anywhere.
- All filters are simple column predicates → pushed to the parquet scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from typebus_spark.suite import query, t


@query(
    "q1_pricing_summary",
    oracle="""
WITH c AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100, 0) AS BIGINT)      AS qc,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS epc,
         CAST(round(l_discount * 100, 0) AS BIGINT)      AS dc,
         CAST(round(l_tax * 100, 0) AS BIGINT)           AS tc
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2000-09-02')
SELECT l_returnflag, l_linestatus,
       CAST(sum(qc) AS DOUBLE) / 100.0                       AS sum_qty,
       CAST(sum(epc) AS DOUBLE) / 100.0                      AS sum_base_price,
       CAST(sum(epc * (100 - dc)) AS DOUBLE) / 10000.0       AS sum_disc_price,
       CAST(sum(epc * (100 - dc) * (100 + tc)) AS DOUBLE) / 1000000.0
                                                             AS sum_charge,
       CAST(sum(qc) AS DOUBLE) / (count(*) * 100.0)          AS avg_qty,
       CAST(sum(epc) AS DOUBLE) / (count(*) * 100.0)         AS avg_price,
       CAST(sum(dc) AS DOUBLE) / (count(*) * 100.0)          AS avg_disc,
       count(*)                                              AS count_order
FROM c
GROUP BY l_returnflag, l_linestatus
""",
    doc=(
        "TPC-H Q1 style pricing summary: scan+filter+hash agg, map-side "
        "partials. Money aggregated in exact integer cents "
        "(functions.money) so results are bit-identical across engines "
        "and partitionings."
    ),
)
def q1_pricing_summary(spark, sf_dir):
    from typebus_spark.functions.money import cents, money

    l = t(spark, sf_dir, "lineitem")
    qc, epc = cents("l_quantity"), cents("l_extendedprice")
    dc, tc = cents("l_discount"), cents("l_tax")
    rev_e4 = epc * (100 - dc)
    charge_e6 = rev_e4 * (100 + tc)
    n = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum(qc), 100).alias("sum_qty"),
            money(F.sum(epc), 100).alias("sum_base_price"),
            money(F.sum(rev_e4), 10000).alias("sum_disc_price"),
            money(F.sum(charge_e6), 1000000).alias("sum_charge"),
            (F.sum(qc).cast("double") / (n * F.lit(100.0))).alias("avg_qty"),
            (F.sum(epc).cast("double") / (n * F.lit(100.0))).alias("avg_price"),
            (F.sum(dc).cast("double") / (n * F.lit(100.0))).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
WITH li AS (
  SELECT l_orderkey,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS epc,
         CAST(round(l_discount * 100, 0) AS BIGINT)      AS dc
  FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-03-15')
SELECT o_orderkey,
       CAST(sum(epc * (100 - dc)) AS DOUBLE) / 10000.0 AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN li     ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, o_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 style: broadcast dim join + shuffle join + top-k with total tiebreak order.",
)
def q3_shipping_priority(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    from typebus_spark.functions.money import cents, money

    rev_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money(F.sum(rev_e4), 10000).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "o_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS epc,
         CAST(round(l_discount * 100, 0) AS BIGINT)      AS dc
  FROM lineitem)
SELECT n_name,
       CAST(sum(epc * (100 - dc)) AS DOUBLE) / 10000.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN li       ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    doc="TPC-H Q5 style 6-way join; all dims broadcast, one fact shuffle.",
)
def q5_local_supplier_volume(spark, sf_dir):
    from typebus_spark.functions.money import cents, money

    rev_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(money(F.sum(rev_e4), 10000).alias("revenue"))
    )


@query(
    "q_top_parts_by_revenue",
    oracle="""
WITH li AS (
  SELECT l_partkey,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS epc,
         CAST(round(l_discount * 100, 0) AS BIGINT)      AS dc,
         CAST(round(l_quantity * 100, 0) AS BIGINT)      AS qc
  FROM lineitem)
SELECT p_partkey, p_name, p_brand,
       CAST(sum(epc * (100 - dc)) AS DOUBLE) / 10000.0 AS revenue,
       CAST(sum(qc) AS DOUBLE) / 100.0                 AS qty
FROM li
JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey, p_name, p_brand
ORDER BY revenue DESC, p_partkey
LIMIT 20
""",
    doc="Broadcast dim join + agg + deterministic top-k.",
)
def q_top_parts_by_revenue(spark, sf_dir):
    from typebus_spark.functions.money import cents, money

    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    rev_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
    # pre-reduce lineitem by l_partkey BEFORE the dim join (r14, guide
    # §2.3 aggregate-before-shuffle): p_partkey is part's key, so
    # grouping the joined rows by (p_partkey, p_name, p_brand) equals
    # grouping lineitem by l_partkey and attaching the two dim columns
    # after. The aggregate's shuffle now carries one narrow long key
    # instead of key+two strings, the broadcast probe runs once per
    # DISTINCT part instead of once per lineitem row, and the inner
    # join drops partkey-less groups exactly as it dropped their rows.
    la = l.groupBy("l_partkey").agg(
        money(F.sum(rev_e4), 10000).alias("revenue"),
        money(F.sum(cents("l_quantity")), 100).alias("qty"),
    )
    return (
        la.join(F.broadcast(p), la.l_partkey == p.p_partkey)
        .select("p_partkey", "p_name", "p_brand", "revenue", "qty")
        .orderBy(F.desc("revenue"), "p_partkey")
        .limit(20)
    )


@query(
    "q_events_by_type",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
         / (count(*) * 100.0) AS avg_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
""",
    doc="Event-stream aggregate (topic≈event_type routing stats; R1 analog in batch).",
)
def q_events_by_type(spark, sf_dir):
    from typebus_spark.functions.money import cents, money

    e = t(spark, sf_dir, "events")
    vc = cents("value")
    n = F.count(F.lit(1))
    return e.groupBy("event_type").agg(
        n.alias("n_events"),
        money(F.sum(vc), 100).alias("total_value"),
        (F.sum(vc).cast("double") / (n * F.lit(100.0))).alias("avg_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "q_last_event_per_user",
    oracle="""
SELECT user_id, event_id AS last_event_id, ts AS last_ts,
       event_type AS last_event_type, value AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
    doc="Latest state per key by fold_last_value — batch analog of the keyed entity state (SURVEY §2.1 E1).",
)
def q_last_event_per_user(spark, sf_dir):
    from typebus_spark.streaming.entity import fold_last_value

    e = t(spark, sf_dir, "events")
    last = fold_last_value(e, "user_id", "ts", ["event_id", "event_type", "value"])
    return last.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )
