"""More classic analytic shapes (TPC-H-inspired), each stressing a
distinct planner capability, each DuckDB-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metastore_spark.queries import query, _t


@query(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (CASE-sum pivots) over a join — the
    priority-class rollup of TPC-H Q12 restated on this schema."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q14_promo_share",
    oracle="""
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: ratio of conditional to total aggregate in one pass
    (no second scan, no self-join)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c_name, o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o_totalprice, 2)            AS totalprice,
           ROUND(SUM(l_quantity), 2)         AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(l_quantity) > 30
    ORDER BY ROUND(o_totalprice, 2) DESC, o_orderkey
    LIMIT 25
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate + HAVING + top-k. The HAVING filter
    runs post-aggregation (small), top-25 is per-partition top-k."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 30)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


@query(
    "q19_disjunctive_pushdown",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT)                          AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25
           AND l_quantity BETWEEN 10 AND 40)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 40
           AND l_quantity BETWEEN 20 AND 60)
    """,
)
def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    factors per-table conjuncts out of the disjunction and pushes them
    below the join (l_quantity ranges to lineitem, brand/size to part)
    — the predicate-rewrite stress test."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), p.p_partkey == l.l_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    )
    c2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(10, 25)
        & F.col("l_quantity").between(10, 40)
    )
    c3 = (
        (F.col("p_brand") == "Brand#15")
        & F.col("p_size").between(20, 40)
        & F.col("l_quantity").between(20, 60)
    )
    return j.filter(c1 | c2 | c3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q4_priority_with_late_lines",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_priority_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join (the right side never
    materializes into the output; duplicates on the probe side are
    free). The correlated ship-after-order predicate rides the join."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    semi = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure scan-filter-aggregate baseline — every
    predicate pushes to parquet, zero joins, one partial+final agg."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "q22_idle_rich_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT)   AS numcust,
           ROUND(SUM(c_acctbal), 2)   AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar aggregate subquery (broadcast as a
    1-row cross join) + anti join, grouped rollup of the survivors."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    SELECT s_name, n_name, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal = (
      SELECT MAX(s2.s_acctbal)
      FROM supplier s2 WHERE s2.s_nationkey = supplier.s_nationkey
    )
    ORDER BY s_name
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (TPC-H Q2's aggregate correlation):
    rewritten as join-against-grouped-max — the standard decorrelation
    Catalyst would apply, stated explicitly."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    best = s.groupBy(F.col("s_nationkey").alias("bn")).agg(
        F.max("s_acctbal").alias("best_bal")
    )
    return (
        s.join(
            F.broadcast(best),
            (s.s_nationkey == best.bn) & (s.s_acctbal == best.best_bal),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name", F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy("s_name")
    )


@query(
    "orders_lineitem_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o_orderpriority
    """,
)
def orders_lineitem_bucketed_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The fact⋈fact co-location layout: lineitem and orders bucketed
    identically on orderkey (layout.ensure_bucketed_facts), so the
    order-grain join runs bucket-local with ZERO exchange on either
    side — at 100 TB this deletes the two biggest shuffles of every
    order-grain query (neither fact can broadcast). Result is
    layout-independent (the oracle joins the plain parquet);
    tests/test_layout.py asserts the no-exchange plan property.
    Falls back to the plain scans if the bucketed stores can't be
    written (read-only warehouse)."""
    from metastore_spark import layout

    try:
        tbls = layout.ensure_bucketed_facts(
            spark,
            sf_dir,
            [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
            buckets=16,
        )
        o = spark.table(tbls["orders"])
        l = spark.table(tbls["lineitem"])
    except Exception:
        o = _t(spark, sf_dir, "orders")
        l = _t(spark, sf_dir, "lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                                 * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5'
      GROUP BY l_partkey
    )
    SELECT l_partkey, ROUND(v / 100.0, 2) AS part_value
    FROM pv
    WHERE v * 1.0 > (SELECT SUM(v) * 2.0 / COUNT(*) FROM pv)
    ORDER BY v DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock) restated on this catalog: with no
    partsupp table, "inventory value" is the revenue each part moved
    through NATION_5's suppliers, and a part is "important" when its
    value exceeds 2× the nation's average part value (TPC-H scales
    its fraction by 1/SF for exactly this reason — a FIXED share of
    total selects nothing once the part count grows; the avg-multiple
    form is scale-invariant, ~9% selective at sf0.01 through sf1).
    Keeps Q11's distinctive stress — a scalar aggregate subquery
    consumed by HAVING — as a 1-row broadcast crossJoin over the SAME
    per-part aggregate frame the output reads (computed once, reused
    for both the threshold scalar and the filtered emit). Per-part
    revenue accumulates as EXACT integer cents (floor(val·100 + 0.5)
    per line), so the aggregate is summation-order-independent — at
    sf1 the double-sum form hit last-cent ROUND flips on a handful of
    the 139k parts; integer cents can't.
    The fact shuffles once on l_partkey; supplier+nation broadcast.
    Completes the 22/22 classic TPC-H suite in the registry
    (reference analogue: the envelope/summary aggregates its ES
    queries delegate, /root/reference/metastore/models.py:146)."""
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0
            + 0.5
        ).cast("bigint").alias("val"),
    )
    pv = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum("val").alias("v"))
    )
    pv.persist()
    thr = pv.agg(
        (F.sum("v") * F.lit(2.0) / F.count(F.lit(1))).alias("thr")
    )
    return (
        pv.crossJoin(F.broadcast(thr))
        .filter(F.col("v") * 1.0 > F.col("thr"))
        .select("l_partkey", F.round(F.col("v") / 100.0, 2).alias("part_value"))
        .orderBy(F.desc("v"), "l_partkey")
    )


@query(
    "supplier_lead_time_percentiles",
    oracle="""
    WITH lag AS (
      SELECT n_name,
             CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT)
               AS lead_days
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT)                 AS n_lines,
           ROUND(quantile_cont(lead_days, 0.5), 4)  AS p50_days,
           ROUND(quantile_cont(lead_days, 0.95), 4) AS p95_days
    FROM lag
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def supplier_lead_time_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supply-chain SLA profile: order-to-ship lead time (days) per
    supplier nation, p50/p95 — the fulfillment latency distribution a
    procurement team tracks per region. Integer day differences
    (exact both engines), single-buffer exact interpolated
    percentiles (== DuckDB quantile_cont; percentile_approx at
    100 TB, same plan). lineitem-orders is fact×fact: the join
    strategy is left to AQE (shuffle/bucketed, never a forced
    broadcast — orders grows with SF); only supplier and nation
    are broadcast dims."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lag = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select(
            "n_name",
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            ).cast("bigint").alias("lead_days"),
        )
    )
    pct = F.expr("percentile(lead_days, array(0.5, 0.95))")
    return (
        lag.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(pct[0], 4).alias("p50_days"),
            F.round(pct[1], 4).alias("p95_days"),
        )
        .orderBy("n_name")
    )
