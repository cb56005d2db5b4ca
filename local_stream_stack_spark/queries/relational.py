"""Batch relational core: scans, filters, projections, aggregates,
joins, set ops, sorts/top-k, rollup/cube, scalar functions.

Covers SURVEY.md §2B rows the reference delegates to Spark (its
processors may run arbitrary DataFrame code, `base_processor.py:40-51`,
but implement none of these concretely). Each query has an exact DuckDB
oracle.

Determinism strategy for the value-hash oracle: money/quantity
aggregates are computed over DECIMAL casts (exact, order-independent)
and the final result is cast to DOUBLE identically on both sides —
bit-for-bit reproducible regardless of partitioning or summation
order. MIN/MAX/COUNT are order-independent already. Every ORDER BY
...LIMIT query carries a unique-key tiebreaker so top-k sets are
deterministic.

Scale notes (100 TB): all queries here are single-pass scan->shuffle
shapes Catalyst compiles to partial+final hash aggregates with
map-side combine; dimension joins broadcast (nation/region/supplier
are small in TPC-H at any SF — size grows with SF only for fact
tables); filters and projections push into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from local_stream_stack_spark.catalog import oracle_table as _t
from local_stream_stack_spark.queries.registry import query
from local_stream_stack_spark.utils.ts import epoch_s


# Exact-decimal money expressions (see module docstring). Spark SQL and
# DuckDB share these CAST/arithmetic semantics; all intermediates stay
# within decimal(38,_) so no precision loss occurs in either engine.
PRICE_DEC = "CAST(l_extendedprice AS DECIMAL(14,2))"
QTY_DEC = "CAST(l_quantity AS DECIMAL(14,2))"
ONE_MINUS_DISC = "(CAST(1 AS DECIMAL(2,0)) - CAST(l_discount AS DECIMAL(6,4)))"
ONE_PLUS_TAX = "(CAST(1 AS DECIMAL(2,0)) + CAST(l_tax AS DECIMAL(6,4)))"
DISC_PRICE = f"({PRICE_DEC} * {ONE_MINUS_DISC})"
DISC_REV = f"CAST({PRICE_DEC} * CAST(l_discount AS DECIMAL(6,4)) AS DECIMAL(24,6))"
CHARGE = f"(CAST({DISC_PRICE} AS DECIMAL(24,6)) * {ONE_PLUS_TAX})"


def _sum_round(expr: str, dp: int = 2) -> str:
    """Exact decimal SUM rounded to dp, then cast to double.

    The ROUND keeps the scaled integer under 2^53 so the
    decimal->double conversion is exact in BOTH engines (large exact
    decimals convert with engine-specific last-ulp rounding otherwise).
    """
    return f"CAST(ROUND(SUM({expr}), {dp}) AS DOUBLE)"


def _avg_round(expr: str, dp: int = 4) -> str:
    """Deterministic average: exactly-rounded decimal sum / count."""
    return f"(CAST(ROUND(SUM({expr}), {dp}) AS DOUBLE) / COUNT(*))"


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_sum_round(QTY_DEC)} AS sum_qty,
           {_sum_round(PRICE_DEC)} AS sum_base_price,
           {_sum_round(DISC_PRICE)} AS sum_disc_price,
           {_sum_round(CHARGE)} AS sum_charge,
           {_avg_round(QTY_DEC)} AS avg_qty,
           {_avg_round(PRICE_DEC)} AS avg_price,
           {_avg_round("CAST(l_discount AS DECIMAL(6,4))")} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the flagship query.

    Exercises parquet scan (with predicate pushdown on l_shipdate),
    projection pruning, partial+final hash aggregate, and sort — the
    minimum slice of SURVEY.md §7. At scale this is one scan + one
    shuffle of a tiny (flag,status)-grouped aggregate state.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.expr("TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_sum_round(QTY_DEC)).alias("sum_qty"),
            F.expr(_sum_round(PRICE_DEC)).alias("sum_base_price"),
            F.expr(_sum_round(DISC_PRICE)).alias("sum_disc_price"),
            F.expr(_sum_round(CHARGE)).alias("sum_charge"),
            F.expr(_avg_round(QTY_DEC)).alias("avg_qty"),
            F.expr(_avg_round(PRICE_DEC)).alias("avg_price"),
            F.expr(_avg_round("CAST(l_discount AS DECIMAL(6,4))")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {_sum_round(DISC_PRICE)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: 3-way join + agg + deterministic top-k.

    customer is small relative to the fact tables -> broadcast hint;
    orders-lineitem is the big equi-join and shuffles on orderkey (at
    100 TB both sides would be bucketed on orderkey to avoid it).
    """
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1998-03-15 00:00:00'")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP '1995-03-15 00:00:00'")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(f"{_sum_round(DISC_PRICE)}").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {_sum_round(DISC_PRICE)} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: 6-way join with two broadcastable dims.

    nation/region/supplier broadcast (small at every SF); the
    customer-orders and orders-lineitem joins shuffle on their keys.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.expr(f"{_sum_round(DISC_PRICE)}").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {_sum_round(DISC_REV)} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: pure scan + conjunctive filter + global agg.

    The whole WHERE clause pushes into the parquet scan; the aggregate
    is a single global partial+final with no group keys — the cheapest
    possible shape at any scale.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.expr(
                _sum_round(DISC_REV)
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
      AND l_quantity < 5
      AND l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-06-30 00:00:00'
      AND l_linenumber IS NOT NULL
      AND (l_discount > 0.05 OR l_tax < 0.02)
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row filters: IN, BETWEEN, IS NOT NULL, AND/OR (SURVEY §2B
    projections/filters). All conjuncts push down to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_quantity") < 5)
        & F.col("l_shipdate").between(
            F.expr("TIMESTAMP '1997-01-01 00:00:00'"),
            F.expr("TIMESTAMP '1997-06-30 00:00:00'"),
        )
        & F.col("l_linenumber").isNotNull()
        & ((F.col("l_discount") > 0.05) | (F.col("l_tax") < 0.02))
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_shipdate")


@query(
    "projection_cast",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS orderkey_str,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_int,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderstatus = 'F' AS is_final
    FROM orders
    """,
)
def projection_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + cast expressions (reference A5: CAST(value AS STRING)
    at `sample_stream_job.py:73`; here generalized to int/date/bool)."""
    o = _t(spark, sf_dir, "orders")
    # floor-then-cast: Spark's double->bigint CAST truncates while
    # DuckDB's rounds; FLOOR makes both engines agree.
    return o.select(
        F.col("o_orderkey").cast("string").alias("orderkey_str"),
        F.floor("o_totalprice").alias("price_int"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        (F.col("o_orderstatus") == "F").alias("is_final"),
    )


@query(
    "hash_agg_stats",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_price,
           (CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 4) AS DOUBLE) / COUNT(*)) AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def hash_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate surface: count/count-distinct/min/max/sum/avg.

    COUNT(DISTINCT) compiles to a two-phase expand+agg in Spark; at
    scale prefer approx_count_distinct (see approx_distinct_parts)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.expr("CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)").alias(
                "sum_price"
            ),
            F.expr(
                "(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 4) AS DOUBLE) / COUNT(*))"
            ).alias("avg_price"),
        )
        .orderBy("o_orderstatus")
    )


@query("approx_distinct_parts", oracle=None)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the scale path for
    distinct counts. HLL sketches differ across engines, so this gets
    the rows-only check; test_relational.py bounds its error vs exact."""
    li = _t(spark, sf_dir, "lineitem")
    # computed as two independent subtrees instead of one fused agg
    # (r13, measured): mixing the HLL imperative aggregate with an
    # exact distinct forced a 2-way Expand + SortAggregate over every
    # row; separately, the HLL side is a plain object-hash aggregate
    # and the exact side is the two-level (flag, partkey) distinct →
    # count hash aggregate — both partial-aggregated scan-side, joined
    # on the 3-row flag key. Identical results: HLL is duplicate- and
    # order-insensitive, the exact count is the same set (guide §2.4).
    apx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
    )
    exact = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("l_partkey").alias("exact_parts"))
    )
    return apx.join(exact, "l_returnflag")


@query(
    "distinct_rows",
    oracle="""
    SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
    """,
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — compiles to a hash aggregate on all columns."""
    return _t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()


@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — each partition
    keeps k rows, driver merges; no full sort at any scale."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) t
    WHERE rk <= 3
    ORDER BY o_orderpriority, rk
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (SURVEY §2B sorts/top-k).

    One shuffle on the group key; Spark inserts a WindowGroupLimit
    (rank pushdown) so executors keep only k rows per group pre-sort."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_orderpriority", "rk")
    )


@query(
    "join_broadcast_dims",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dim joins with explicit broadcast hints: zero
    shuffle on the fact side until the final small aggregate."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.expr("CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)").alias(
                "sum_acctbal"
            ),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "join_outer_full",
    oracle="""
    SELECT n_nationkey, n_name, n_customers, n_suppliers
    FROM (
      SELECT n_nationkey, n_name,
             (SELECT COUNT(*) FROM customer WHERE c_nationkey = n_nationkey) AS n_customers,
             (SELECT COUNT(*) FROM supplier WHERE s_nationkey = n_nationkey) AS n_suppliers
      FROM nation
    ) t
    ORDER BY n_nationkey
    """,
)
def join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer joins of per-key aggregates onto the dim table
    (COALESCE for missing groups) — equivalent to correlated counts."""
    n = _t(spark, sf_dir, "nation")
    c_cnt = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("cst"))
    )
    s_cnt = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("sup"))
    )
    return (
        n.join(c_cnt, n.n_nationkey == c_cnt.c_nationkey, "left")
        .join(s_cnt, n.n_nationkey == s_cnt.s_nationkey, "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("cst", F.lit(0)).alias("n_customers"),
            F.coalesce("sup", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("n_nationkey")
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_active_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 100000)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): no payload duplication, build side only
    needs keys — cheapest existence check at scale."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_active_customers"))
        .orderBy("c_nationkey")
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_totalprice > 300000)
    ORDER BY c_custkey
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no big-ticket
    order. The right side carries a pushed-down predicate so the
    result is NON-EMPTY at every SF — the original "no orders at all"
    form returned zero rows on this data, which exercises the plan but
    not the semantics (an anti-join bug that leaks matches would have
    passed unnoticed)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


@query(
    "set_ops",
    oracle="""
    SELECT 'union' AS op, k FROM (
      SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey AS k FROM supplier)
    UNION ALL
    SELECT 'intersect' AS op, k FROM (
      SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey AS k FROM supplier)
    UNION ALL
    SELECT 'except' AS op, k FROM (
      SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey AS k FROM supplier)
    ORDER BY op, k
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) / INTERSECT / EXCEPT in one labeled result."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    u = c.union(s).distinct().select(F.lit("union").alias("op"), "k")
    i = c.intersect(s).select(F.lit("intersect").alias("op"), "k")
    # subtract = EXCEPT DISTINCT (exceptAll would keep bag multiplicity)
    e = c.subtract(s).select(F.lit("except").alias("op"), "k")
    return u.unionByName(i).unionByName(e).orderBy("op", "k")


@query(
    "rollup_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_sum_round(DISC_PRICE)} AS revenue, COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP: hierarchical subtotals + grand total.

    Two-level: collapse to the finest grouping first (9 groups, exact
    decimal partials), then rollup the aggregate — the Expand triples
    9 rows instead of the fact scan (see grouping_sets_revenue)."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr(f"SUM({DISC_PRICE})").alias("__rev"),
        F.count("*").alias("__cnt"),
    )
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.expr("CAST(ROUND(SUM(__rev), 2) AS DOUBLE)").alias("revenue"),
            F.sum("__cnt").alias("n"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "cube_qty",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def cube_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE: all grouping-set combinations (two-level — see
    grouping_sets_revenue; the Expand quadruples 9 aggregate rows, not
    the fact scan)."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("SUM(CAST(l_quantity AS DECIMAL(14,2)))").alias("__qty")
    )
    return (
        base.cube("l_returnflag", "l_linestatus")
        .agg(F.expr("CAST(ROUND(SUM(__qty), 2) AS DOUBLE)").alias("sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "string_funcs",
    oracle="""
    SELECT doc_id,
           UPPER(lang) AS lang_upper,
           LOWER(source) AS source_lower,
           LENGTH(text) AS text_len,
           SUBSTR(text, 1, 16) AS prefix16,
           CONCAT(lang, ':', source) AS lang_source,
           TRIM(SUBSTR(text, 1, 10)) AS head_trim,
           REPLACE(source, '-', '_') AS source_norm,
           CONTAINS(text, 'the') AS has_the
    FROM documents
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string surface (reference A6 generalizes `F.upper` at
    `custom_processors.py:49`): upper/lower/length/substr/concat/trim/
    replace/contains."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.lower("source").alias("source_lower"),
        F.length("text").alias("text_len"),
        F.substring("text", 1, 16).alias("prefix16"),
        F.concat_ws(":", "lang", "source").alias("lang_source"),
        F.trim(F.substring("text", 1, 10)).alias("head_trim"),
        F.replace(F.col("source"), F.lit("-"), F.lit("_")).alias("source_norm"),
        F.col("text").contains("the").alias("has_the"),
    )


@query(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           CAST(DAYOFMONTH(o_orderdate) AS INT) AS order_day,
           CAST(QUARTER(o_orderdate) AS INT) AS order_quarter,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
           CAST(DATE_DIFF('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS INT) AS days_to_2002,
           CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface: extract fields, truncate, diff, epoch
    (reference convention: Unix ts longs, `schema_manager.py:22`)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_2002"),
        epoch_s("o_orderdate").alias("epoch_s"),
    )


@query(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 1) AS price_r1,
           ABS(l_discount - 0.05) AS disc_dev,
           CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
           SQRT(l_extendedprice) AS price_sqrt,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
           ROUND(LN(l_extendedprice + 1), 6) AS price_ln,
           ROUND(POWER(l_quantity, 2), 6) AS qty_sq
    FROM lineitem
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface: round/abs/ceil/floor/sqrt/mod/ln/pow. ln and pow
    are rounded to 6 dp on both sides (libm last-ulp differences);
    sqrt is IEEE-exact so it is compared raw."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
    )


@query(
    "json_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k_val,
           CAST(json_extract(props, '$.missing') AS INT) AS missing_val,
           props IS NOT NULL AND json_valid(props) AS is_valid
    FROM events
    """,
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON surface over events.props (reference payload convention:
    JSON string parsed downstream, `schema_manager.py:23`)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        F.get_json_object("props", "$.missing").cast("int").alias("missing_val"),
        (F.col("props").isNotNull() & F.expr("props RLIKE '^\\\\s*\\\\{.*\\\\}\\\\s*$'")).alias(
            "is_valid"
        ),
    )


@query(
    "case_when_buckets",
    oracle="""
    SELECT bucket, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS total
    FROM (
      SELECT o_totalprice,
             CASE WHEN o_totalprice < 50000 THEN 'small'
                  WHEN o_totalprice < 150000 THEN 'medium'
                  ELSE 'large' END AS bucket
      FROM orders
    ) t
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def case_when_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN conditional expression + aggregation."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket",
            F.when(F.col("o_totalprice") < 50000, "small")
            .when(F.col("o_totalprice") < 150000, "medium")
            .otherwise("large"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.expr("CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)").alias(
                "total"
            ),
        )
        .orderBy("bucket")
    )


@query(
    "set_ops_bag",
    oracle="""
    WITH a AS (SELECT c_custkey % 100 AS k FROM customer),
         b AS (SELECT s_suppkey % 100 AS k FROM supplier)
    SELECT 'union_all' AS op, k FROM (SELECT k FROM a UNION ALL SELECT k FROM b)
    UNION ALL
    SELECT 'intersect_all' AS op, k FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'except_all' AS op, k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    ORDER BY op, k
    """,
)
def set_ops_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (multiplicity-preserving): unionAll,
    intersectAll, exceptAll — the ALL variants set_ops' distinct forms
    don't cover. intersect/except-all plan as aggregated count joins
    (no row explosion): shuffle carries (value, count), scale-safe."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    a = c.select((F.col("c_custkey") % 100).alias("k"))
    b = s.select((F.col("s_suppkey") % 100).alias("k"))
    u = a.unionAll(b).select(F.lit("union_all").alias("op"), "k")
    i = a.intersectAll(b).select(F.lit("intersect_all").alias("op"), "k")
    e = a.exceptAll(b).select(F.lit("except_all").alias("op"), "k")
    return u.unionByName(i).unionByName(e).orderBy("op", "k")


@query(
    "null_semantics",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS prio,
             NULLIF(o_orderstatus, 'O') AS ship
      FROM orders WHERE o_orderkey <= 500
    )
    SELECT a.o_orderkey AS k_a, b.o_orderkey AS k_b,
           a.prio IS NOT DISTINCT FROM b.prio AS same_prio
    FROM t a JOIN t b
      ON a.ship IS NOT DISTINCT FROM b.ship
     AND a.o_orderkey + 1 = b.o_orderkey
    ORDER BY k_a
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics under the oracle: null-safe equality (<=> /
    IS NOT DISTINCT FROM) as a join condition and as a projection.
    NULLs are synthesized with NULLIF since the harness tables are
    null-free."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    t = o.select(
        "o_orderkey",
        F.expr("NULLIF(o_orderpriority, '1-URGENT')").alias("prio"),
        F.expr("NULLIF(o_orderstatus, 'O')").alias("ship"),
    )
    a = t.select(
        F.col("o_orderkey").alias("k_a"),
        F.col("prio").alias("prio_a"),
        F.col("ship").alias("ship_a"),
    )
    b = t.select(
        F.col("o_orderkey").alias("k_b"),
        F.col("prio").alias("prio_b"),
        F.col("ship").alias("ship_b"),
    )
    return (
        a.join(
            b,
            F.col("ship_a").eqNullSafe(F.col("ship_b"))
            & (F.col("k_a") + 1 == F.col("k_b")),
        )
        .select(
            "k_a",
            "k_b",
            F.col("prio_a").eqNullSafe(F.col("prio_b")).alias("same_prio"),
        )
        .orderBy("k_a")
    )


@query(
    "nulls_ordering",
    oracle="""
    SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS prio,
           COUNT(prio2) OVER () AS n_nonnull
    FROM (
      SELECT o_orderkey, o_orderpriority,
             NULLIF(o_orderpriority, '1-URGENT') AS prio2
      FROM orders WHERE o_orderkey <= 200
    ) t
    ORDER BY prio NULLS FIRST, o_orderkey
    """,
)
def nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLS FIRST ordering + null-skipping COUNT(col) (vs COUNT(*)),
    the two null behaviors sorts and aggregates must agree on. The
    scalar count is an aggregate + 1-row broadcast, not a global-frame
    window (one task by contract, however small the input)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    t = o.select(
        "o_orderkey",
        F.expr("NULLIF(o_orderpriority, '1-URGENT')").alias("prio"),
    )
    cnt = t.agg(F.count("prio").alias("n_nonnull"))
    return t.crossJoin(F.broadcast(cnt)).select(
        "o_orderkey", "prio", "n_nonnull"
    ).orderBy(F.col("prio").asc_nulls_first(), F.col("o_orderkey"))


@query(
    "join_bloom_prefiltered",
    oracle="""
    SELECT l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 4)
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_partkey IN (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'
    )
    GROUP BY l_partkey
    ORDER BY l_partkey
    """,
)
def join_bloom_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: lineitem is pruned by an
    8 KiB bitmap of the qualifying part keys BEFORE any join shuffle,
    then exact-semi-joined so bloom false positives drop out — the
    result is identical to a plain ``IN (subquery)``, which is the
    oracle. At 100 TB the bitmap build scans only the (filtered) dim
    and collects <= m/64 longs to the driver; the fact exchange then
    moves only the bloom survivors instead of the full table. See
    ``operators.joins.bloom_semi_join``."""
    from local_stream_stack_spark.operators.joins import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pruned = bloom_semi_join(
        li, part, fact_key="l_partkey", dim_key="p_partkey"
    )
    return (
        pruned.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.expr(
                "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 4) AS DOUBLE)"
            ).alias("revenue"),
        )
        .orderBy("l_partkey")
    )


@query(
    "join_shuffle_hash_hint",
    oracle=f"""
    SELECT s_nationkey,
           COUNT(*) AS n_items,
           {_sum_round(DISC_PRICE)} AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE_HASH-hinted fact-to-dimension join: when the dimension
    exceeds the broadcast threshold but each PARTITION of it still
    fits executor memory, a shuffled hash join skips SortMergeJoin's
    two per-partition sorts — the middle rung of the join-strategy
    ladder (broadcast < shuffle-hash < sort-merge) that Spark's
    cost model won't pick on its own without statistics. The hint is
    semantically invisible (identical oracle to a plain join);
    tests/test_plans.py pins ShuffledHashJoin in the plan and the
    absence of both the sort and the broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(
            s.hint("SHUFFLE_HASH"),
            li.l_suppkey == s.s_suppkey,
        )
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_items"),
            F.expr(_sum_round(DISC_PRICE)).alias("revenue"),
        )
        .orderBy("s_nationkey")
    )


@query(
    "join_null_safe",
    oracle="""
    SELECT n.n_name,
           COUNT(c.c_custkey) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS total_bal
    FROM (SELECT c_custkey, c_acctbal,
                 NULLIF(c_nationkey, 0) AS nk FROM customer) c
    JOIN (SELECT n_name,
                 NULLIF(n_nationkey, 0) AS nk FROM nation) n
      ON c.nk IS NOT DISTINCT FROM n.nk
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi-join (<=> / IS NOT DISTINCT FROM): nation 0 is
    mapped to NULL on BOTH sides, and the null-safe equality still
    pairs those rows — where a plain equi-join silently drops every
    NULL key (the classic silent-data-loss bug when a dimension key is
    nullable). Nation 0's customers surviving into the result is the
    proof the operator ran. Spark plans <=> as a hash join on a
    null-safe key (EqualNullSafe inside the join condition, no BNLJ);
    the dimension side broadcasts as usual."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.expr("NULLIF(c_nationkey, 0)").alias("c_nk"),
    )
    n = _t(spark, sf_dir, "nation").select(
        "n_name", F.expr("NULLIF(n_nationkey, 0)").alias("n_nk")
    )
    return (
        c.join(F.broadcast(n), c.c_nk.eqNullSafe(n.n_nk))
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.expr(
                "CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)"
            ).alias("total_bal"),
        )
        .orderBy("n_name")
    )
