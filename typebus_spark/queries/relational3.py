"""Relational inventory, part 3 — the remaining TPC-H query shapes the
star schema supports directly (no ``partsupp``/``l_commitdate``/
``l_shipmode`` columns exist in the driver tables, so Q4/Q8/Q14/Q17/
Q21/Q22 are adapted to the available columns here, and Q2/Q9/Q11/Q12/
Q16/Q20 — which need a partsupp stand-in — live in
``relational4.py``; adaptations are noted per query).

Like ``relational.py``, every query is unmodified Spark built-ins —
broadcast dims, one fact shuffle, map-side partials, exact integer-cents
money — with the physical-plan discipline pinned by
``tests/test_plans.py``. Exact-arithmetic rewrites keep every oracled
comparison integer-only until a final deterministic division:
``x < 0.2 * avg(y)`` becomes ``5 * x * n < sum(y)`` (Q17),
``bal > avg(bal)`` becomes ``bal_cents * n > sum_cents`` (Q22) — no
float threshold ever crosses an engine boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from typebus_spark.functions.money import cents, money
from typebus_spark.suite import query, t


@query(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(round(l_discount * 100, 0) AS BIGINT)) AS DOUBLE)
       / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND CAST(round(l_discount * 100, 0) AS BIGINT) BETWEEN 5 AND 7
  AND l_quantity < 24
""",
    doc=(
        "TPC-H Q6: pure scan+filter+agg — every predicate pushes to the "
        "parquet scan, zero joins, one partial-agg reduce. The discount "
        "band compares exact cents, not floats."
    ),
)
def q6_forecast_revenue(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    dc = cents("l_discount")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & dc.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(money(F.sum(cents("l_extendedprice") * dc), 10000).alias("revenue"))
    )


@query(
    "q4_priority_exists",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
    doc=(
        "TPC-H Q4 adapted (no l_commitdate in the fixture: 'late' = "
        "shipped after the order date): correlated EXISTS as a LEFT SEMI "
        "join with a non-equi term, then hash agg."
    ),
)
def q4_priority_exists(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # EXISTS as inner join + per-order dedup, not LEFT SEMI (r13):
    # with orders on the left, BroadcastHashJoin LeftSemi can only
    # build the RIGHT side — so the r12 plan broadcast the LINEITEM
    # projection (BuildRight over the fact table). That only works at
    # toy scale; at 100 TB the fact side never fits a broadcast and the
    # semi degrades to a two-sided sort-merge shuffle. With the order
    # slice on the probe side's right, the planner broadcasts it from
    # its own size estimate at bench scale (orders scan ≈ 2.7 MB <
    # every session's threshold) so lineitem shuffles nothing; the distinct
    # (orderkey, priority) then collapses multiple late items per order
    # (priority is functionally dependent on orderkey, so this equals
    # the semi-join's order set) with map-side partials bounded by the
    # matched-order count. NO F.broadcast hint (r14, verdict item 2):
    # a hard hint on a data-dependent frame is a scale assumption — a
    # 3-month order slice of a 100 TB fact table is hundreds of GB and
    # the hint would try anyway and OOM the driver; hint-free, the
    # planner picks broadcast exactly while the slice estimate fits and
    # degrades to SMJ (+ the runtime Bloom prefilter, SPARK-32268,
    # guide §3.2) beyond it. The JOIN SHAPE (inner + distinct, fact
    # never pre-shuffled while the slice fits) is the optimization.
    return (
        l.join(
            o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
""",
    doc=(
        "TPC-H Q13: left-outer join keeping order-less customers (count "
        "0 bucket), double aggregation — orders-per-customer then "
        "customers-per-count."
    ),
)
def q13_customer_distribution(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q14_promo_revenue",
    oracle="""
WITH li AS (
  SELECT l_partkey,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
    AND l_shipdate <  TIMESTAMP '1997-10-01')
SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4
                                   ELSE 0 END) AS DOUBLE)
             / CAST(sum(rev_e4) AS DOUBLE), 6) AS promo_revenue_pct
FROM li JOIN part ON l_partkey = p_partkey
""",
    doc=(
        "TPC-H Q14 adapted (fixture p_type is single-word): promo revenue "
        "share — broadcast part join, conditional aggregation, one exact-"
        "integer ratio divided once at the end."
    ),
)
def q14_promo_revenue(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(F.lit(0))
    )
    return joined.agg(
        F.round(
            F.lit(100.0) * promo.cast("double") / F.sum(rev_e4).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
WITH li AS (
  SELECT l_partkey,
         CAST(round(l_quantity * 100, 0) AS BIGINT)      AS qc,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS epc
  FROM lineitem),
parts AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
stats AS (
  SELECT l_partkey, sum(qc) AS sum_qc, count(*) AS n
  FROM li JOIN parts ON l_partkey = p_partkey
  GROUP BY l_partkey)
SELECT CAST(sum(epc) AS DOUBLE) / 700.0 AS avg_yearly
FROM li
JOIN stats USING (l_partkey)
WHERE 5 * qc * n < sum_qc
""",
    doc=(
        "TPC-H Q17 adapted (no p_container): small-quantity orders below "
        "20%% of the part's average quantity. The correlated average is "
        "an exact integer rewrite (5*q*n < sum) — no float threshold — "
        "computed as a broadcast self-aggregation, not a per-row "
        "subquery."
    ),
)
def q17_small_quantity_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        cents("l_quantity").alias("qc"),
        cents("l_extendedprice").alias("epc"),
    )
    parts = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    filtered = li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
    stats = filtered.groupBy("l_partkey").agg(
        F.sum("qc").alias("sum_qc"), F.count(F.lit(1)).alias("n")
    )
    return (
        filtered.join(F.broadcast(stats), "l_partkey")
        .filter(F.lit(5) * F.col("qc") * F.col("n") < F.col("sum_qc"))
        .agg((F.sum("epc").cast("double") / F.lit(700.0)).alias("avg_yearly"))
    )


@query(
    "q18_large_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) > 30000)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
       / 100.0 AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
""",
    doc=(
        "TPC-H Q18: large-volume orders — HAVING-filtered aggregate as a "
        "semi-join against the fact table, then the 3-way join re-"
        "aggregates. The big-order key set is tiny → broadcast semi."
    ),
)
def q18_large_orders(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", cents("l_quantity").alias("qc")
    )
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("qc").alias("sum_qc"))
        .filter(F.col("sum_qc") > 30000)
        .select("l_orderkey")
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        l.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate")
        .agg(money(F.sum("qc"), 100).alias("total_qty"))
    )


@query(
    "q19_disjunctive_join",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
            AS DOUBLE) / 10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 10
       AND l_quantity >= 1  AND l_quantity <= 11)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1  AND 20
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1  AND 30
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
    doc=(
        "TPC-H Q19 adapted (no p_container/l_shipmode): disjunctive "
        "predicate spanning both join sides — equi-join on partkey stays "
        "the join condition (broadcast), the OR-of-ANDs evaluates as a "
        "post-join filter, never a cartesian."
    ),
)
def q19_disjunctive_join(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & (q >= 1)
            & (q <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 20)
            & (q >= 10)
            & (q <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 30)
            & (q >= 20)
            & (q <= 30)
        )
    )
    rev_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(money(F.sum(rev_e4), 10000).alias("revenue"))
    )


@query(
    "q22_dormant_customers",
    oracle="""
WITH bal AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bc
  FROM customer),
pos AS (
  SELECT sum(bc) AS sum_bc, count(*) AS n FROM bal WHERE bc > 0)
SELECT c_nationkey AS nation,
       count(*) AS numcust,
       CAST(sum(bc) AS DOUBLE) / 100.0 AS totacctbal
FROM bal, pos
WHERE bc * n > sum_bc
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
""",
    doc=(
        "TPC-H Q22 adapted (no c_phone: nationkey stands in for the "
        "country code; dormant = no order since 2000 so the fixture "
        "yields a non-trivial result): above-average-balance customers "
        "gone dormant — scalar aggregate broadcast to every row as an "
        "exact integer comparison (bc*n > sum), LEFT ANTI join against "
        "recent orders."
    ),
)
def q22_dormant_customers(spark, sf_dir):
    bal = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", cents("c_acctbal").alias("bc")
    )
    pos = bal.filter(F.col("bc") > 0).agg(
        F.sum("bc").alias("sum_bc"), F.count(F.lit(1)).alias("n")
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        bal.crossJoin(F.broadcast(pos))
        .filter(F.col("bc") * F.col("n") > F.col("sum_bc"))
        .join(o, bal.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money(F.sum("bc"), 100).alias("totacctbal"),
        )
    )


@query(
    "q_full_outer_activity",
    oracle="""
WITH p AS (SELECT user_id, count(*) AS n_purchases FROM events
           WHERE event_type = 'purchase' GROUP BY user_id),
     e AS (SELECT user_id, count(*) AS n_errors FROM events
           WHERE event_type = 'error' GROUP BY user_id)
SELECT coalesce(p.user_id, e.user_id) AS user_id,
       coalesce(n_purchases, 0) AS n_purchases,
       coalesce(n_errors, 0) AS n_errors
FROM p FULL OUTER JOIN e ON p.user_id = e.user_id
""",
    doc=(
        "FULL OUTER join: purchase counts vs error counts per user — "
        "users appearing on either side survive with zero-filled "
        "partners (the §2.2 outer-join surface)."
    ),
)
def q_full_outer_activity(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return (
        p.join(e, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
        )
    )


@query(
    "q_pivot_activity",
    oracle="""
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup
FROM events
GROUP BY user_id
""",
    doc=(
        "PIVOT: per-user activity matrix via groupBy().pivot() with an "
        "explicit value list (no extra distinct-values job — the scale "
        "form; Catalyst rewrites it to one conditional aggregate pass). "
        "Oracle is the portable CASE-sum formulation."
    ),
)
def q_pivot_activity(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    kinds = ["purchase", "view", "click", "error", "signup"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(k), F.lit(0)).cast("long").alias(f"n_{k}")
            for k in kinds
        ],
    )


@query(
    "q8_market_share",
    oracle="""
WITH rev AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_e4,
         s_nationkey
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n ON c_nationkey = n.n_nationkey
  JOIN region   ON n.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA')
SELECT o_year,
       round(CAST(sum(CASE WHEN s_nationkey = 2 THEN rev_e4 ELSE 0 END)
                  AS DOUBLE)
             / CAST(sum(rev_e4) AS DOUBLE), 6) AS mkt_share
FROM rev
GROUP BY o_year
""",
    doc=(
        "TPC-H Q8 adapted (no p_type filter — fixture part types are "
        "coarse): NATION_2 suppliers' share of ASIA-customer revenue per "
        "order year. 6-way join, all dims broadcast, exact integer "
        "numerator/denominator with one final division."
    ),
)
def q8_market_share(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
            "rev_e4"
        ),
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            "rev_e4",
            "s_nationkey",
        )
    )
    num = F.sum(
        F.when(F.col("s_nationkey") == 2, F.col("rev_e4")).otherwise(F.lit(0))
    )
    return rev.groupBy("o_year").agg(
        F.round(num.cast("double") / F.sum("rev_e4").cast("double"), 6).alias(
            "mkt_share"
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
WITH srev AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
             * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
           AS rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name,
       CAST(rev_e4 AS DOUBLE) / 10000.0 AS total_revenue
FROM supplier JOIN srev ON s_suppkey = l_suppkey
WHERE rev_e4 = (SELECT max(rev_e4) FROM srev)
""",
    doc=(
        "TPC-H Q15: top supplier by quarterly revenue — the 'view' is a "
        "reused aggregate frame, the max is a broadcast scalar, and the "
        "tie-safe equality is exact integer cents (never a float max)."
    ),
)
def q15_top_supplier(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    srev = l.groupBy("l_suppkey").agg(
        F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
            "rev_e4"
        )
    )
    mx = srev.agg(F.max("rev_e4").alias("mx"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_e4") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            money(F.col("rev_e4"), 10000).alias("total_revenue"),
        )
    )


@query(
    "q21_sole_late_supplier",
    oracle="""
WITH ll AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'),
ok AS (
  SELECT l_orderkey FROM ll GROUP BY 1
  HAVING count(DISTINCT l_suppkey) > 1
     AND count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) = 1),
w AS (
  SELECT s.s_name, count(*) AS numwait
  FROM ll JOIN ok USING (l_orderkey)
  JOIN supplier s ON ll.l_suppkey = s.s_suppkey
  WHERE ll.late = 1
  GROUP BY s.s_name)
SELECT s_name, numwait FROM w
ORDER BY numwait DESC, s_name LIMIT 20
""",
    doc=(
        "TPC-H Q21 adapted (no l_commitdate/l_receiptdate: 'late' = "
        "shipped >60 days after the order date): suppliers who were "
        "the SOLE late supplier on a multi-supplier finished order. "
        "The classic EXISTS / NOT-EXISTS double self-join collapses "
        "into ONE aggregation over the order key (distinct suppliers "
        "vs distinct late suppliers) — two passes over lineitem "
        "instead of four, no correlated re-scans; the qualifying-order "
        "key set then drives a semi-join and the supplier dim is "
        "broadcast."
    ),
)
def q21_sole_late_supplier(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    s = t(spark, sf_dir, "supplier")
    ll = (
        li.join(
            o.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
            )
            .cast("int")
            .alias("late"),
        )
    )
    # Two distinct counts over one grouping would plan as an Expand
    # that pushes 2 projections of every ll row through the aggregate
    # (the r9 multi-distinct rule). Pre-reducing to (orderkey, suppkey)
    # groups makes both counts PLAIN aggregates: distinct suppliers ==
    # group count, distinct LATE suppliers == sum of the per-group
    # late flag (max(late) — a supplier is late if ANY of its items
    # is). Both shuffles carry map-side partials; no row inflation.
    ok = (
        ll.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late_any"))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("late_any").alias("n_late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .select("l_orderkey")
    )
    return (
        ll.filter(F.col("late") == 1)
        .join(ok, "l_orderkey")
        .join(
            F.broadcast(s.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "q_unpivot_activity",
    oracle="""
WITH m AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS n_purchase,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click
  FROM events GROUP BY user_id)
SELECT user_id, kind, CAST(n AS BIGINT) AS n
FROM m
UNPIVOT (n FOR kind IN (n_purchase, n_view, n_click))
""",
    doc=(
        "UNPIVOT/melt (the wide→long inverse of q_pivot_activity): the "
        "per-user activity matrix melts back to (user, kind, n) rows "
        "via DataFrame.unpivot — a zero-shuffle projection (each wide "
        "row expands in place), so melting a 100 TB feature matrix is "
        "scan-bound. UNPIVOT semantics drop NULL cells; the matrix is "
        "built with zero-filled counts so nothing is silently lost."
    ),
)
def q_unpivot_activity(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    kinds = ["purchase", "view", "click"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[
                F.coalesce(F.col(k), F.lit(0))
                .cast("long")
                .alias(f"n_{k}")
                for k in kinds
            ],
        )
    )
    return wide.unpivot(
        ["user_id"],
        [f"n_{k}" for k in kinds],
        "kind",
        "n",
    )
