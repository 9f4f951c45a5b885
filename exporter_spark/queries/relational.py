"""Relational corpus (TPC-H-flavored; Spark built-ins are the engine).

Split out of the monolithic queries.py in round 15; registration
order within this module is unchanged (see queries/__init__.py for
the cross-module order and the driver-window contract).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from exporter_spark.queries._registry import _dsum, _register
from exporter_spark.sources.files import load_table

# =====================================================================
# Relational corpus (TPC-H-flavored; Spark built-ins are the engine)
# =====================================================================


@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir, fast: bool = False):
    """``fast=True`` swaps the decimal-cast determinism sums for plain
    double aggregation — the plan a user runs when byte-level oracle
    parity is not required (values agree to ~1e-12 relative; only the
    last double bits differ with engine scan order). The oracle-paired
    corpus entry keeps the decimal path."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-12-01 00:00:00").cast("timestamp")
    )
    if not fast:
        # the decimal determinism sums are ~5x the double path's map
        # cost, and a one-row-group lineitem file is a single-partition
        # scan — spread so the partial aggregation uses every core
        # (decimal addition is exact, so partitioning cannot move the
        # result; pass-through on any multi-partition input). The fast
        # path's map work is too light to repay the exchange. Measured
        # 1.62 -> 1.14 same-window at sf0.1; join-shaped TPC-H entries
        # (q3, q5) REGRESS under the same treatment (the extra full-
        # width exchange feeds a join that re-shuffles by key anyway)
        # and keep their scan shapes. Re-adjudicated r18 on the
        # driver's own cold-JVM methodology (VERDICT r17 watch item;
        # OPTIMIZATION_r18.md item 1, 10 interleaved pairs): spread
        # wins 6 of 8 usable pairs and every quiet-canary pair
        # (1.29-1.62 vs 1.79-2.04) — KEPT; the r17 driver 0.89x was a
        # single elevated-run artifact.
        from exporter_spark.operators.partitioning import spread

        li = spread(li)
    s = (lambda col, scale: F.sum(col)) if fast else _dsum
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        s(F.col("l_quantity"), 2).alias("sum_qty"),
        s(F.col("l_extendedprice"), 2).alias("sum_base_price"),
        s(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "sum_disc_price"
        ),
        s(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
            6,
        ).alias("sum_charge"),
        F.round(
            s(F.col("l_quantity"), 2) / F.count("*"), 6
        ).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@_register(
    "q3_top_orders",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_top_orders(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@_register(
    "q5_region_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM region JOIN nation ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
                JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark, sf_dir):
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


@_register(
    "q6_revenue_change",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_change(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@_register(
    "q4_priority_returns",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q4_priority_returns(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@_register(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark, sf_dir):
    """TPC-H q13 shape: outer join survived into a double aggregation
    (customers with zero qualifying orders must appear as c_count=0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@_register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H q15 shape: aggregated CTE + scalar-subquery max selection.
    The revenue sum is decimal-exact so the max-equality filter is
    engine-portable; the scalar max broadcasts (no second scan shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx__"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx__"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_register(
    "q16_brand_supply_gaps",
    """
    SELECT p_brand, COUNT(*) AS gap_parts
    FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_discount >= 0.095)
    GROUP BY p_brand
    """,
)
def q16_brand_supply_gaps(spark, sf_dir):
    """TPC-H q16 shape: NOT EXISTS anti join with a pushed predicate on
    the probe side, then aggregation over the survivors."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") >= 0.095)
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count("*").alias("gap_parts"))
    )


@_register(
    "q17_small_quantity_revenue",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 2) AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H q17 shape: per-key correlated average, decorrelated into a
    grouped aggregate + equi-join (what a 100 TB plan needs — the
    correlated form would rescan lineitem per row). The mean is
    decimal-exact-sum / count so the boundary filter is portable.
    Brand filter broadcasts; the per-part average only aggregates the
    brand's lineitems (partkey determines brand, so restricting first
    is semantics-preserving)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    # repartition on the join key right after the broadcast join: the
    # aggregate branch and the probe branch then share ONE exchange
    # (ReusedExchange) instead of scanning lineitem twice.
    li23 = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).repartition(
        "l_partkey"
    )
    avg_q = li23.groupBy(F.col("l_partkey").alias("__pk__")).agg(
        (_dsum(F.col("l_quantity"), 4) / F.count("*")).alias("__avgq__")
    )
    return (
        li23.join(avg_q, li23.l_partkey == F.col("__pk__"))
        .filter(F.col("l_quantity") < 0.5 * F.col("__avgq__"))
        .agg(
            F.round(_dsum(F.col("l_extendedprice"), 4) / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@_register(
    "q18_large_volume_orders",
    """
    SELECT c_name, c_custkey, o_orderkey, o_totalprice, sum_qty
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN (SELECT l_orderkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250) big
      ON big.l_orderkey = o_orderkey
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q18_large_volume_orders(spark, sf_dir):
    """TPC-H q18 shape: HAVING on an aggregated subquery, joined back
    to its parents, total-ordered top-k. The quantity sum is
    decimal-exact so the >250 boundary is engine-portable."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity"), 4).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@_register(
    "q22_wealthy_low_activity",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS ab
      FROM customer WHERE c_acctbal > 0)
    SELECT n_name, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totbal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey, avg_bal
    WHERE c_acctbal > ab
      AND (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) < 6
    GROUP BY n_name
    """,
)
def q22_wealthy_low_activity(spark, sf_dir):
    """TPC-H q22 shape: global scalar subquery (broadcast, decimal-exact
    mean) + a correlated count decorrelated into a grouped left join."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (_dsum(F.col("c_acctbal"), 2) / F.count("*")).alias("__ab__")
    )
    ord_counts = o.groupBy(F.col("o_custkey").alias("__ck__")).agg(
        F.count("*").alias("__n_ord__")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__ab__"))
        .join(ord_counts, F.col("c_custkey") == F.col("__ck__"), "left")
        .filter(F.coalesce(F.col("__n_ord__"), F.lit(0)) < 6)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            _dsum(F.col("c_acctbal"), 2).alias("totbal"),
        )
    )


@_register(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark, sf_dir):
    """TPC-H q7 shape (volume shipping): the same dimension table joined
    twice under different roles — supplier nation and customer nation —
    with a symmetric pair filter. Both nation sides broadcast; the only
    shuffle is the final group-by. Mirrors reference query semantics at
    the engine level (any-DataFrame source, scanner/scanner.go:14-25)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


@_register(
    "q8_market_share",
    """
    SELECT o_year,
           ROUND(
             CAST(SUM(CAST(CASE WHEN nation = 'NATION_5' THEN volume
                                ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE), 6
           ) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H q8 shape (national market share): conditional aggregation —
    share of one supplier nation inside a filtered denominator. Both
    sums are decimal-exact before the rounded division, so the ratio is
    bit-stable across engines and partitionings."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                _dsum(
                    F.when(F.col("nation") == "NATION_5", vol).otherwise(F.lit(0.0)), 4
                )
                / _dsum(vol, 4),
                6,
            ).alias("mkt_share")
        )
    )


@_register(
    "q9_product_profit",
    """
    SELECT nation, o_year,
           CAST(SUM(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - p_retailprice * l_quantity * 0.1::DOUBLE AS amount
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H q9 shape (product-type profit), adapted: the testdata has
    no partsupp table, so supply cost is proxied as 10% of
    p_retailprice × quantity. Same plan skeleton as the original —
    part-name filter pushed to the broadcast side, profit expression
    evaluated in the scan stage, one shuffle for (nation, year)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.1)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_dsum(amount, 4).alias("sum_profit"))
    )


@_register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H q10 (returned item reporting): revenue lost to returns per
    customer in one quarter, top 20 under a total order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@_register(
    "q12_late_shipments",
    """
    SELECT l_year,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT year(l_shipdate) AS l_year, o_orderpriority
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE date_diff('day', o_orderdate::DATE, l_shipdate::DATE) > 60
    ) late
    GROUP BY l_year
    """,
)
def q12_late_shipments(spark, sf_dir):
    """TPC-H q12 shape (shipping-priority split), adapted: the testdata
    has no l_shipmode/l_commitdate, so 'late' is shipped >60 days after
    the order date and the grouping key is the ship year. Same
    conditional-count skeleton as the original."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60)
        .groupBy(F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@_register(
    "q14_promo_revenue",
    """
    SELECT ROUND(
             100.0::DOUBLE
             * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE), 6
           ) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H q14 (promotion effect): percentage of one month's revenue
    from promo parts. Part side broadcasts; decimal-exact numerator and
    denominator, rounded once."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * _dsum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)), 4
                )
                / _dsum(vol, 4),
                6,
            ).alias("promo_revenue")
        )
    )


@_register(
    "q19_discounted_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H q19 shape (discounted revenue): disjunction of
    brand/size/quantity envelopes, adapted to the available part
    columns. The join is still an equi-join on partkey — the OR only
    filters — so Catalyst keeps the broadcast-hash plan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")

    def env(brand, smax, qlo, qhi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, smax)
            & F.col("l_quantity").between(qlo, qhi)
        )

    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(
            env("Brand#12", 5, 1, 11) | env("Brand#23", 10, 10, 20) | env("Brand#3", 15, 20, 30)
        )
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


@_register(
    "q21_waiting_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
      AND n_name = 'NATION_3'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H q21 shape (suppliers who kept orders waiting), adapted to
    l_returnflag as the fault signal (no receipt/commit dates in the
    testdata): the supplier's line was returned on a finished
    multi-supplier order where no OTHER supplier's line was returned.
    EXISTS → left-semi join, NOT EXISTS → left-anti join, both with a
    non-equi suppkey-differs term riding on the orderkey equi-join."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    l1 = li.filter(F.col("l_returnflag") == "R")
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2"))
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3")
    )
    return (
        l1.join(
            l2,
            (l1.l_orderkey == F.col("k2")) & (l1.l_suppkey != F.col("sk2")),
            "left_semi",
        )
        .join(
            l3,
            (l1.l_orderkey == F.col("k3")) & (l1.l_suppkey != F.col("sk3")),
            "left_anti",
        )
        .join(o, l1.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


@_register(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(l_extendedprice / l_quantity) AS ps_supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eps AS (
      SELECT ps_partkey, ps_suppkey, ps_supplycost, s_acctbal, s_name, n_name
      FROM ps JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ), best AS (
      SELECT eps.*, MIN(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
      FROM eps
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           ps_supplycost AS supplycost
    FROM best JOIN part ON ps_partkey = p_partkey
    WHERE ps_supplycost = min_cost AND p_size <= 15 AND p_type = 'PROMO'
    ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H q2 shape (minimum-cost supplier): the testdata has no
    partsupp table, so the part-supplier supply relation is derived
    from lineitem (supply cost = cheapest observed unit price). The
    correlated MIN subquery is decorrelated into a window min over the
    region-filtered supply relation — one shuffle on partkey serves
    both the window and the final part join. Per-row double division
    and MIN are bit-identical across engines, so no decimal staging is
    needed."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "PROMO")
    )
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost")
    )
    eps = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eps.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.col("ps_supplycost").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


@_register(
    "q11_important_parts",
    """
    WITH natline AS (
      SELECT l_partkey, l_extendedprice
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_13'
    ), tot AS (
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             COUNT(DISTINCT l_partkey) AS nparts
      FROM natline
    )
    SELECT l_partkey AS p_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
    FROM natline, tot
    GROUP BY l_partkey, total, nparts
    HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         > total * 1.5 / nparts
    ORDER BY part_value DESC, p_partkey ASC
    """,
)
def q11_important_parts(spark, sf_dir):
    """TPC-H q11 shape (important stock identification): per-part
    "inventory value" held by one nation's suppliers, keeping parts
    whose value exceeds 1.5x the average share (the scalar-subquery
    HAVING of the original; the fraction self-scales with part count
    so the filter bites at every SF). Decimal-exact sums on both
    sides of the comparison; the scalar aggregate broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_13")
    natline = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    tot = natline.agg(
        _dsum(F.col("l_extendedprice"), 2).alias("total"),
        F.countDistinct("l_partkey").alias("nparts"),
    )
    return (
        natline.groupBy("l_partkey")
        .agg(_dsum(F.col("l_extendedprice"), 2).alias("part_value"))
        .join(F.broadcast(tot))
        .filter(F.col("part_value") > F.col("total") * F.lit(1.5) / F.col("nparts"))
        .select(F.col("l_partkey").alias("p_partkey"), "part_value")
        .orderBy(F.col("part_value").desc(), F.col("p_partkey").asc())
    )


@_register(
    "q20_promo_suppliers",
    """
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_13'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red %')
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 75)
    ORDER BY s_name ASC
    """,
)
def q20_promo_suppliers(spark, sf_dir):
    """TPC-H q20 shape (potential part promotion): suppliers in one
    nation who moved a meaningful volume of a name-matched part family
    in one year. The availqty comparison of the original becomes a
    HAVING over shipped quantity (no partsupp in the testdata). Both
    IN subqueries become left-semi joins: part-family probe broadcasts
    into the lineitem scan; the qualifying-supplier set semi-joins the
    nation-filtered supplier dimension."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_13")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red %"))
    movers = (
        li.join(
            F.broadcast(p.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 75)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy(F.col("s_name").asc())
    )
