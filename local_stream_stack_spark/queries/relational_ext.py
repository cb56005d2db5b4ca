"""Extended relational coverage: correlated/EXISTS shapes, multi-way
join aggregations, OR-of-ANDs predicate pushes, scalar-subquery
thresholds, exact percentiles/statistics, and GROUPING SETS.

These widen SURVEY.md §2B beyond the minimum slice: every classic
TPC-H query shape expressible over the harness tables (no partsupp /
l_shipmode / l_commitdate columns exist, so Q2/Q12-like shapes are out
of scope) gets an oracle-checked entry.

Determinism follows queries/relational.py: money/quantity aggregates
run over DECIMAL (exact, order-independent), rounded before the final
DOUBLE cast; thresholds that would involve float division are
rewritten as exact cross-multiplied decimal comparisons.

Scale notes (100 TB): every query is scan -> (broadcastable dim joins)
-> partial+final hash aggregate. Fact-fact joins (orders x lineitem)
shuffle on the join key only after pushed-down filters cut the fact
side; semi/anti forms never materialize the probe payload.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from local_stream_stack_spark.catalog import oracle_table as _t
from local_stream_stack_spark.queries.registry import query
from local_stream_stack_spark.queries.relational import (
    DISC_PRICE,
    PRICE_DEC,
    QTY_DEC,
    _sum_round,
)
from local_stream_stack_spark.utils.ts import epoch_us


def _daily_revenue(
    spark: SparkSession,
    sf_dir: str,
    where: str | None = None,
    extra: Column | None = None,
    pin: str | None = None,
    by_segment: bool = False,
) -> DataFrame:
    """The calendar-day revenue series of ``orders``: ``di`` (days
    since 1970-01-01) and ``rev_c`` (the day's exact sum of cents),
    the input of the daily time-series tests. Its oracle twin is
    `_days_cte`. The corpus collapses to this calendar-bounded grain
    first, so every later stage, even a |days|² pair stage, is bounded
    by the calendar, never by corpus rows.

    ``where`` is a SQL predicate applied to ``orders`` first (the same
    text `_days_cte` splices in). ``extra`` is one more aggregate
    column. ``by_segment`` groups by ``(di, segment)`` over a broadcast
    customer join (see `_segment_blocks`).

    ``pin`` materializes the small table once for its many consumers
    (guide §5): ``"plain"`` pins it, ``"spread"`` first repartitions it
    over the cores. Two r13 measurements set where each goes:

    - Spread a table that streams through a theta-join or cross join.
      AQE coalesces the tiny aggregate to ONE partition, so every
      pair pass downstream would run on a single core. A table that
      is only broadcast or grouped needs no spread.
    - Pin the day tables, not the |days|² slope or difference relation
      built from them. Materializing the pairs cost more (Mann-Kendall
      1.4x slower, Hodges-Lehmann 2x) than regenerating them per rank
      pass from the pinned day table through a codegen broadcast join
      with no shuffle (guide §1.1)."""
    o = _t(spark, sf_dir, "orders")
    if where is not None:
        o = o.filter(F.expr(where))
    keys = [
        F.unix_date(F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("di")
    ]
    if by_segment:
        c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        o = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        keys.append(F.col("c_mktsegment").alias("segment"))
    aggs = [
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("rev_c")
    ]
    if extra is not None:
        aggs.append(extra)
    days = o.groupBy(*keys).agg(*aggs)
    if pin == "spread":
        days = days.repartition(spark.sparkContext.defaultParallelism)
    if pin is not None:
        days = days.localCheckpoint(eager=True)
    return days


def _days_cte(
    name: str = "days", where: str | None = None, extra: str = ""
) -> str:
    """DuckDB twin of `_daily_revenue`: the ``name AS (...)`` CTE of
    (di, rev_c) per calendar day, for an oracle's WITH list. ``extra``
    is appended to the select list as written (``", <expr> AS col"``)."""
    where_sql = f" WHERE {where}" if where else ""
    return f"""{name} AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS di,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c{extra}
      FROM orders{where_sql} GROUP BY 1
    )"""


_DAYS_CTE = _days_cte()


def _segment_blocks(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The day-blocked segment design of the k-related-samples tests:
    ``cells`` (di, segment, rev_c), pinned, since it fans out into k,
    the complete-block filter and the rank consumers (~6 join+groupBy
    re-executions otherwise); ``kk``, one row holding k, the number of
    segments; and ``full_days``, the days that have all k segments
    (complete blocks only). Its oracle twin is `_SEGMENT_BLOCKS_CTE`."""
    cells = _daily_revenue(spark, sf_dir, pin="plain", by_segment=True)
    kk = cells.agg(F.countDistinct("segment").cast("bigint").alias("k"))
    full_days = (
        cells.crossJoin(F.broadcast(kk))
        .groupBy("di", "k")
        .agg(F.count("*").alias("__cnt"))
        .filter(F.col("__cnt") == F.col("k"))
        .select("di")
    )
    return cells, kk, full_days


_SEGMENT_BLOCKS_CTE = """cells AS (
      SELECT CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS di,
             c.c_mktsegment AS segment,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    kk AS (SELECT CAST(COUNT(DISTINCT segment) AS BIGINT) AS k FROM cells),
    full_days AS (
      SELECT di FROM cells CROSS JOIN kk GROUP BY di, k HAVING COUNT(*) = k
    )"""


def _adjacent_slope_ext(days: DataFrame, slope_sql: str) -> DataFrame:
    """(__vgr_lo, __vgr_hi) bounds for the PAIRWISE-slope stream of a
    day-grain (di, rev_c) table, computed WITHOUT executing the
    |days|^2 pair stream: the extreme pairwise slope is attained by an
    ADJACENT pair (any chord slope is a day-gap-weighted average of
    the adjacent slopes it spans, hence between their extremes), so
    one sorted fold over the tiny day table replaces a full pair-pass
    for the rank-SELECT's pass 0 (guide §2.4 — remove a pass outright).

    ``slope_sql`` computes the adjacent-pair slope from
    ``(a.pd, a.pr)`` = previous (di, rev_c) and ``x`` = current row,
    with the SAME arithmetic shape as the pair stream. Floating-point
    rounding of near-tied slopes can leave individual pairs a hair
    outside [lo, hi]; ``values_at_global_ranks`` stays exact for any
    covering-ish bounds (bin indices out of [0, bins) are consistent
    between its passes — documented there). NULL bounds when < 2 days
    reproduce the computed pass 0 on an empty pair stream."""
    step = (
        "named_struct("
        "'pd', x.di, 'pr', x.rev_c,"
        " 'lo', CASE WHEN a.pd IS NULL THEN a.lo"
        f" ELSE least(a.lo, CAST({slope_sql} AS DOUBLE)) END,"
        " 'hi', CASE WHEN a.pd IS NULL THEN a.hi"
        f" ELSE greatest(a.hi, CAST({slope_sql} AS DOUBLE)) END)"
    )
    return days.agg(
        F.expr(
            "aggregate(sort_array(collect_list(struct(di, rev_c))),"
            " named_struct("
            "'pd', CAST(NULL AS BIGINT), 'pr', CAST(NULL AS BIGINT),"
            " 'lo', CAST(NULL AS DOUBLE), 'hi', CAST(NULL AS DOUBLE)),"
            f" (a, x) -> {step},"
            " a -> named_struct('lo', a.lo, 'hi', a.hi))"
        ).alias("__ext")
    ).select(
        F.col("__ext.lo").alias("__vgr_lo"),
        F.col("__ext.hi").alias("__vgr_hi"),
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: EXISTS with a correlated non-equi condition ->
    left-semi join. The probe (lineitem) payload is never carried
    past the join, so shuffle volume is keys only."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1997-07-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1997-10-01 00:00:00'"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {_sum_round("volume")} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             {DISC_PRICE} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        AND n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: 5-way join (two broadcast dims, two fact
    shuffles) with a nation-pair filter and per-year rollup."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    nations = ("NATION_1", "NATION_2", "NATION_3")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin(*nations))
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin(*nations))
    joined = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            F.expr(DISC_PRICE).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.expr(_sum_round("volume")).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q10_returned_revenue",
    oracle=f"""
    SELECT c_custkey, c_name, revenue, c_acctbal, n_name
    FROM (
      SELECT c_custkey, c_name, {_sum_round(DISC_PRICE)} AS revenue,
             c_acctbal, n_name
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
    ) t
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: returned-item revenue per customer, top 20.
    Revenue is decimal-rounded BEFORE ranking, with c_custkey as the
    tiebreaker, so the top-k set is deterministic on both engines."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1997-10-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.expr(_sum_round(DISC_PRICE)).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT CAST(100.0 * promo / total AS DOUBLE) AS promo_revenue_pct
    FROM (
      SELECT
        CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN {DISC_PRICE}
                            ELSE CAST(0 AS DECIMAL(24,6)) END), 2) AS DOUBLE) AS promo,
        {_sum_round(DISC_PRICE)} AS total
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    ) t
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promo revenue share for one month.
    Conditional aggregate over a broadcastable part join; both sums
    decimal-rounded before the one double division."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1997-09-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-10-01 00:00:00'"))
    )
    p = _t(spark, sf_dir, "part")
    promo = (
        f"CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN {DISC_PRICE} "
        f"ELSE CAST(0 AS DECIMAL(24,6)) END), 2) AS DOUBLE)"
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.expr(promo).alias("promo"),
            F.expr(_sum_round(DISC_PRICE)).alias("total"),
        )
        .select(
            (F.lit(100.0) * F.col("promo") / F.col("total")).alias(
                "promo_revenue_pct"
            )
        )
    )


@query(
    "q17_small_qty_revenue",
    oracle=f"""
    SELECT CAST(ROUND(SUM({PRICE_DEC}), 2) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
      SELECT l_partkey AS agg_partkey,
             SUM({QTY_DEC}) AS sum_qty, COUNT(*) AS cnt_qty
      FROM lineitem GROUP BY l_partkey
    ) pa ON agg_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND {QTY_DEC} * 5 * cnt_qty < sum_qty
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: revenue from small-quantity orders below 20%%
    of the per-part average. The float threshold qty < 0.2*avg is
    rewritten as the exact decimal cross-multiplication
    5*qty*cnt < sum, so membership can't flip on last-ulp division."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    # The per-part average only matters for parts surviving the brand
    # filter, and the broadcast join keeps every lineitem of those
    # parts — so a window over l_partkey AFTER the join sees complete
    # groups. One lineitem scan and one (brand-filtered, tiny) shuffle
    # instead of a full-table aggregate joined back.
    w = Window.partitionBy("l_partkey")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .withColumn("sum_qty", F.expr(f"SUM({QTY_DEC})").over(w))
        .withColumn("cnt_qty", F.count("*").over(w))
        .filter(F.expr(f"{QTY_DEC} * 5 * cnt_qty < sum_qty"))
        .agg(
            (F.expr(f"CAST(ROUND(SUM({PRICE_DEC}), 2) AS DOUBLE)") / 7.0).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "q18_large_orders",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(ROUND(SUM({QTY_DEC}), 2) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM({QTY_DEC}) > 180
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: large-volume orders (sum qty > 180), top 100
    by price. HAVING over an exact decimal sum; o_orderkey tiebreak."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.expr(f"SUM({QTY_DEC})").alias("__sum_qty_dec"))
        .filter(F.col("__sum_qty_dec") > 180)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.expr("CAST(ROUND(__sum_qty_dec, 2) AS DOUBLE)").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q19_or_predicates",
    oracle=f"""
    SELECT {_sum_round(DISC_PRICE)} AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: disjunction of brand/size/quantity conjuncts.
    Catalyst extracts the common p_brand IN (...) prefilter and pushes
    it below the join; the OR evaluates post-join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(F.expr(_sum_round(DISC_PRICE)).alias("revenue"))
    )


@query(
    "q22_idle_customers",
    oracle="""
    WITH threshold AS (
      SELECT CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n_name, COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT avg_bal FROM threshold)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: rich customers with no recent orders, per
    nation. Scalar-subquery threshold (deterministic decimal avg) +
    left-anti join against the filtered orders. (Every customer in the
    harness data has SOME order, so the classic no-orders-ever form
    would be vacuously empty.)"""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.expr("TIMESTAMP '2000-01-01 00:00:00'")
    )
    n = _t(spark, sf_dir, "nation")
    avg_bal_row = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.expr(
                    "CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)"
                )
                / F.count("*")
            ).alias("avg_bal")
        )
    )
    rich = c.join(
        F.broadcast(avg_bal_row), F.col("c_acctbal") > F.col("avg_bal"), "inner"
    )
    idle = rich.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    return (
        idle.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.expr(
                "CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)"
            ).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


@query(
    "percentile_stats",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(8,2))) AS sq,
             SUM(CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS sqq,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sp,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS spp,
             SUM(CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sqp
      FROM lineitem
      GROUP BY l_returnflag
    )
    , qn AS (
      SELECT l_returnflag,
             median(l_quantity) AS med,
             quantile_cont(l_quantity, 0.90) AS p90,
             quantile_cont(l_extendedprice, 0.25) AS p25
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT qn.l_returnflag,
           CAST(ROUND(med * 10000) AS BIGINT) AS median_qty_e4,
           CAST(ROUND(p90 * 10000) AS BIGINT) AS p90_qty_e4,
           CAST(ROUND(p25 * 10000) AS BIGINT) AS p25_price_e4,
           CAST(ROUND(sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                            - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) * 1000)
                AS BIGINT) AS sd_qty_e3,
           CAST(ROUND((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
                       - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
                      / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                              - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                         * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                                - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) * 1000)
                AS BIGINT) AS corr_qty_price_e3
    FROM qn JOIN m ON qn.l_returnflag = m.l_returnflag
    ORDER BY 1
    """,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles plus sample stddev and correlation
    per return flag.

    Percentiles come from operators/quantiles.exact_quantiles (3-pass
    bin refinement) — NOT Spark's ``percentile`` aggregate, which
    buffers every group value in one reducer (an ObjectHashAggregate
    parallelism collapse / OOM at 100 TB). stddev/corr are computed
    from EXACT decimal moment sums (n, Σq, Σq², Σp, Σp², Σqp) and then
    evaluated in double with the identical closed-form expression on
    both engines: a native stddev_samp/corr over doubles accumulates
    in partition order, so its last ulp — and hence a ROUND at a .0005
    boundary — depends on the session's partitioning (the round-1/2
    driver hash_match=false cause). Decimal sums are
    accumulation-order-exact, making the result partitioning- and
    engine-independent.

    Outputs are scaled BIGINTs (``*_e4`` = value x 10^4, ``*_e3`` =
    value x 10^3): decimal-from-double columns hash differently under
    the driver's typed canonicalization even when every value compares
    EXACT (the r1-r3 hash_match=false cause; the q12 r1->r2 BIGINT fix
    is the precedent). Integers hash identically everywhere."""
    from local_stream_stack_spark.operators.quantiles import (
        exact_quantiles_multi,
    )

    li = _t(spark, sf_dir, "lineitem")
    # 3-pass bin refinement: l_extendedprice has ~n distinct values,
    # so the one-scan value-histogram form (exact_quantiles_by_value,
    # used by quantile_by_value_qty on the bounded-domain quantity
    # column) would collapse its rank window to one reducer per group
    # here. bins trades pass-1 aggregate width against pass-2 survivor
    # count (~n/bins rows per group reach the ranked re-scan); a
    # persist() of the shared projection was measured SLOWER than the
    # extra column-pruned parquet scans, so the passes re-scan.
    quants = exact_quantiles_multi(
        li,
        {"l_quantity": [0.5, 0.90], "l_extendedprice": [0.25]},
        ["l_returnflag"],
        bins=1024,
        out_cols={
            "l_quantity": ["__median", "__p90"],
            "l_extendedprice": ["__p25"],
        },
    )
    qd = F.col("l_quantity").cast("decimal(8,2)")
    pd_ = F.col("l_extendedprice").cast("decimal(12,2)")
    stats = li.groupBy("l_returnflag").agg(
        F.count("*").alias("__n"),
        F.sum(qd).alias("__sq"),
        F.sum(qd * qd).alias("__sqq"),
        F.sum(pd_).alias("__sp"),
        F.sum(pd_ * pd_).alias("__spp"),
        F.sum(qd * pd_).alias("__sqp"),
    )
    nd = F.col("__n").cast("double")
    sq = F.col("__sq").cast("double")
    sqq = F.col("__sqq").cast("double")
    sp = F.col("__sp").cast("double")
    spp = F.col("__spp").cast("double")
    sqp = F.col("__sqp").cast("double")
    var_num_q = nd * sqq - sq * sq
    var_num_p = nd * spp - sp * sp
    sd_qty = F.sqrt(var_num_q / (nd * (nd - F.lit(1.0))))
    corr = (nd * sqp - sq * sp) / (F.sqrt(var_num_q) * F.sqrt(var_num_p))
    return (
        stats.join(quants, "l_returnflag")
        .select(
            "l_returnflag",
            F.expr("CAST(ROUND(__median * 10000) AS BIGINT)").alias("median_qty_e4"),
            F.expr("CAST(ROUND(__p90 * 10000) AS BIGINT)").alias("p90_qty_e4"),
            F.expr("CAST(ROUND(__p25 * 10000) AS BIGINT)").alias("p25_price_e4"),
            F.round(sd_qty * F.lit(1000.0)).cast("bigint").alias("sd_qty_e3"),
            F.round(corr * F.lit(1000.0)).cast("bigint").alias("corr_qty_price_e3"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "grouping_sets_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           {_sum_round(DISC_PRICE)} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY g_flag, g_status, l_returnflag, l_linestatus
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with GROUPING() markers — the explicit form of
    rollup (see rollup_revenue / cube_qty for the sugar variants).
    Two-level form: the fact table first collapses to the finest
    grouping set — (flag, status), 9 groups — with exact decimal
    partial sums, and the Expand runs on those 9 rows, not on the
    fact rows. At 100 TB this is the difference between tripling the
    scan and tripling a handful of aggregate states; exactness is
    preserved because decimal sums re-aggregate associatively."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr(f"SUM({DISC_PRICE})").alias("__rev"),
        F.count("*").alias("__cnt"),
    )
    return (
        base.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
            F.grouping("l_linestatus").cast("bigint").alias("g_status"),
            F.expr("CAST(ROUND(SUM(__rev), 2) AS DOUBLE)").alias("revenue"),
            F.sum("__cnt").alias("n_rows"),
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


@query(
    "join_salted_skew",
    oracle=f"""
    SELECT o_orderpriority, {_sum_round(DISC_PRICE)} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (operators/joins.py): lineitem's join key
    salted 8-ways, orders replicated 8x, then the revenue rollup. The
    oracle is the PLAIN join — salting must be semantically invisible.
    Use when a hot key would otherwise pin one reducer; see
    salted_join docstring for when AQE skew-join suffices instead."""
    from local_stream_stack_spark.operators.joins import salted_join

    # project BEFORE salting: the salt is pmod(xxhash64(<all left
    # columns>), n), so an unprojected left side forces the scan to
    # read every lineitem column just to compute the salt (the hash
    # defeats column pruning). Hashing the 3-column projection instead
    # changes WHICH salt each row gets — never the join result (the
    # salt is semantically invisible by construction) — and the scan
    # reads 3 columns instead of 16 (guide §2.3 project before the
    # exchange; ReadSchema is the proof).
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    ).select("l_orderkey", "o_orderpriority")
    return (
        salted_join(li, o, on=["l_orderkey"], how="inner", salt=8)
        .groupBy("o_orderpriority")
        .agg(
            F.expr(_sum_round(DISC_PRICE)).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "approx_percentile_qty",
    oracle="""
    SELECT l_returnflag,
           CAST(quantile_disc(l_quantity, 0.25) AS DOUBLE) AS p25_qty,
           CAST(quantile_disc(l_quantity, 0.50) AS DOUBLE) AS p50_qty,
           CAST(quantile_disc(l_quantity, 0.90) AS DOUBLE) AS p90_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def approx_percentile_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles — the mergeable, partial+final path
    that replaces exact percentile at 100 TB (see
    exact_quantile_distributed for the exact-at-scale alternative).
    approx_percentile's GK sketch at accuracy 10000 bounds rank error
    to n/10000; on a discrete column whose per-value runs dwarf that
    bound it returns the exact discrete quantile, so quantile_disc is
    a legitimate oracle here (verified at sf0.001/0.01/0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_quantity, array(0.25, 0.5, 0.9), 10000)"
            ).alias("aps")
        )
        .select(
            "l_returnflag",
            F.col("aps")[0].cast("double").alias("p25_qty"),
            F.col("aps")[1].cast("double").alias("p50_qty"),
            F.col("aps")[2].cast("double").alias("p90_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "quantile_by_value_qty",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(quantile_cont(l_quantity, 0.25) * 10000) AS BIGINT)
             AS p25_e4,
           CAST(ROUND(quantile_cont(l_quantity, 0.50) * 10000) AS BIGINT)
             AS p50_e4,
           CAST(ROUND(quantile_cont(l_quantity, 0.90) * 10000) AS BIGINT)
             AS p90_e4
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def quantile_by_value_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated quantiles via the one-scan VALUE-HISTOGRAM
    operator (operators/quantiles.exact_quantiles_by_value) — the
    preferred exact form when the column's distinct values are bounded
    (quantity is an integer in 1..50). The shuffle carries at most
    |groups| x |distinct| count rows regardless of input size, vs the
    3-pass bin refinement that exact_quantile_distributed /
    percentile_stats use for continuous columns. Outputs are scaled
    BIGINTs (x 10^4) for typed-hash stability."""
    from local_stream_stack_spark.operators.quantiles import (
        exact_quantiles_by_value,
    )

    li = _t(spark, sf_dir, "lineitem")
    q = exact_quantiles_by_value(
        li,
        {"l_quantity": [0.25, 0.50, 0.90]},
        ["l_returnflag", "l_linestatus"],
        out_cols={"l_quantity": ["__p25", "__p50", "__p90"]},
    )
    return q.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("__p25") * F.lit(10000.0)).cast("bigint").alias("p25_e4"),
        F.round(F.col("__p50") * F.lit(10000.0)).cast("bigint").alias("p50_e4"),
        F.round(F.col("__p90") * F.lit(10000.0)).cast("bigint").alias("p90_e4"),
    ).orderBy("l_returnflag", "l_linestatus")


@query("hll_sketch_rollup", oracle=None)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the re-aggregation shape
    plain approx_count_distinct cannot do: per-(flag, status) HLL
    sketches of order keys are built once at fine grain, then
    union_agg re-aggregates the SKETCHES (not the data) up to per-flag
    estimates. At 100 TB this is how a distinct rollup avoids
    re-scanning the fact table per grouping level: sketches are a few
    KB each and union associatively. DataSketches HLL internals are
    engine-specific -> rows-only; tests/test_tpch_rest.py pins <1%
    relative error vs exact."""
    li = _t(spark, sf_dir, "lineitem")
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey", F.lit(14)).alias("sk"),
        F.count("*").alias("n_rows"),
    )
    return (
        fine.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_distinct_orders"
            ),
            F.sum("n_rows").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "winsorized_mean_price",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(
                 least(greatest(CAST(l_extendedprice AS DOUBLE), p05), p95)
               AS DECIMAL(18,6))), 4) AS DOUBLE) AS winsorized_sum,
           CAST(ROUND(SUM(CAST(
                 least(greatest(CAST(l_extendedprice AS DOUBLE), p05), p95)
               AS DECIMAL(18,6))), 4) AS DOUBLE) / COUNT(*) AS winsorized_mean
    FROM lineitem l JOIN q USING (l_returnflag)
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def winsorized_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%-clipped) mean — robust statistics over values with
    outliers, the aggregation a quality-weighted corpus average needs.
    Per-group p05/p95 come from the 3-pass exact_quantiles (never a
    full-buffer percentile aggregate); the tiny per-group bounds table
    joins back and each value clips in codegen. Clipped values sum as
    DECIMAL so the result is addition-order-exact against the oracle."""
    from local_stream_stack_spark.operators.quantiles import (
        exact_quantiles_multi,
    )

    li = _t(spark, sf_dir, "lineitem")
    bounds = exact_quantiles_multi(
        li,
        {"l_extendedprice": [0.05, 0.95]},
        ["l_returnflag"],
        out_cols={"l_extendedprice": ["p05", "p95"]},
    )
    clipped = li.join(F.broadcast(bounds), "l_returnflag").withColumn(
        "__clip",
        F.least(
            F.greatest(F.col("l_extendedprice").cast("double"), F.col("p05")),
            F.col("p95"),
        ),
    )
    return (
        clipped.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr(
                "CAST(ROUND(SUM(CAST(__clip AS DECIMAL(18,6))), 4) AS DOUBLE)"
            ).alias("winsorized_sum"),
            (
                F.expr(
                    "CAST(ROUND(SUM(CAST(__clip AS DECIMAL(18,6))), 4) AS DOUBLE)"
                )
                / F.count("*")
            ).alias("winsorized_mean"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "profile_columns",
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           CAST(epoch_us(CAST(MIN(o_orderdate) AS TIMESTAMP)) AS DOUBLE),
           CAST(epoch_us(CAST(MAX(o_orderdate) AS TIMESTAMP)) AS DOUBLE),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           NULL, NULL, MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           NULL, NULL, MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    ORDER BY col_name
    """,
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile (null counts, exact distinct
    cardinalities, typed min/max) — the data-quality summary every
    ingestion gate runs.

    Plan shape (r13, measured): the former fused multi-distinct form
    planned as a 7-way Expand whose buffer carried string min/max, so
    EVERY aggregate fell back to SortAggregate — three full sorts of
    |rows|*7 wide rows. Split instead into (a) ONE hash-aggregate
    pass for null counts + numeric/date min/max (fixed-width buffer,
    partial-aggregated scan-side) and (b) one two-phase distinct
    aggregate PER COLUMN, each scanning a single parquet column and
    shuffling only its per-partition distinct values; string min/max
    fold over the (tiny) distinct sets. The six per-column subtrees
    hang off broadcast joins of 1-row relations, so they execute
    concurrently. No Expand, no wide-row sort, same exact numbers —
    and at 100 TB each shuffle is bounded by column cardinality, not
    7x the row count (guide §2.3/§2.4). Timestamps profile as
    epoch-us."""
    o = _t(spark, sf_dir, "orders")
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in num_cols + str_cols + ["o_orderdate"]:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"))
    for c in num_cols:
        aggs += [
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
        ]
    aggs += [
        epoch_us(F.min("o_orderdate"))
        .cast("double")
        .alias("mn_o_orderdate"),
        epoch_us(F.max("o_orderdate"))
        .cast("double")
        .alias("mx_o_orderdate"),
    ]
    row = o.agg(*aggs)
    for c in num_cols + str_cols + ["o_orderdate"]:
        dist = o.select(c).distinct()
        col_aggs = [F.count(F.col(c)).alias(f"nd_{c}")]
        if c in str_cols:
            col_aggs += [
                F.min(c).alias(f"mns_{c}"),
                F.max(c).alias(f"mxs_{c}"),
            ]
        row = row.crossJoin(F.broadcast(dist.agg(*col_aggs)))

    def entry(c: str, numeric: bool) -> str:
        if numeric:
            return (
                f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}, "
                "CAST(NULL AS STRING), CAST(NULL AS STRING)"
            )
        return (
            f"'{c}', nn_{c}, nd_{c}, CAST(NULL AS DOUBLE), "
            f"CAST(NULL AS DOUBLE), mns_{c}, mxs_{c}"
        )

    entries = ", ".join(
        [entry(c, True) for c in num_cols + ["o_orderdate"]]
        + [entry(c, False) for c in str_cols]
    )
    return row.select(
        F.expr(
            f"stack(6, {entries}) AS "
            "(col_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)"
        )
    ).orderBy("col_name")


@query(
    "bucketed_join_revenue",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           {_sum_round(DISC_PRICE)} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-LOCATED join via bucketed tables — the pre-shuffle strategy
    for repeated big-big joins: both sides are written bucketed AND
    sorted by the join key, so the join needs NO exchange and NO sort
    at read time (SortMergeJoin consumes the bucket layout directly).
    At 100 TB this is the difference between re-shuffling the fact
    table on every join and paying the shuffle once at ingest;
    tests/test_plans.py pins zero exchanges under the join.

    Mechanics: external bucketed tables (explicit path, in-memory
    catalog — no Hive dependency); 8 buckets on the order key; the
    bucket count would scale with data volume (buckets ~ data /
    target-partition-size). Table names carry a per-(session, sf_dir)
    suffix (no DROP/CREATE race between sessions sharing a metastore)
    and the bucketed write is cached per session (best-of-N bench
    reruns reuse one copy; scratch removed at exit). The oracle is the
    PLAIN join — bucketing must be semantically invisible."""
    from local_stream_stack_spark.utils.scratch import (
        session_scratch_dir,
        session_suffix,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    sfx = session_suffix(spark, sf_dir, "bucketed")
    lb_name = f"lss_b_lineitem_{sfx}"
    ob_name = f"lss_b_orders_{sfx}"
    base, fresh = session_scratch_dir(spark, f"bucketed-{sfx}")
    if fresh:
        for name, df, key in (
            (lb_name, li, "l_orderkey"),
            (ob_name, o, "o_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", f"{base}/{name}")
                .saveAsTable(name)
            )
    lb = spark.table(lb_name)
    ob = spark.table(ob_name).filter(F.col("o_orderstatus") == "F")
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.expr(_sum_round(DISC_PRICE)).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_REACH_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM {li} a JOIN {li} b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_partkey < 30 AND b.l_partkey < 30
),
seed AS (SELECT MIN(src) AS s FROM edges),
reach(part, depth) AS (
  SELECT s, 0 FROM seed WHERE s IS NOT NULL
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges e ON e.src = r.part
  WHERE r.depth < 3
)
SELECT part, CAST(MIN(depth) AS BIGINT) AS hops
FROM reach GROUP BY part ORDER BY part
"""


@query(
    "recursive_copurchase_reach",
    oracle=_REACH_SQL.format(li="lineitem"),
)
def recursive_copurchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE recursive CTE (Spark 4 WITH RECURSIVE): BFS reachability
    to depth 3 over the co-purchase part graph from the smallest
    connected part — the same SQL text runs on BOTH engines, so the
    oracle checks Spark's recursive-CTE executor itself (UNION ALL
    iteration + the MIN(depth) fold that collapses duplicate paths
    into BFS distances). Complements operators/graph.py's iterative
    min-label propagation (used by dedup_components at scale, where
    per-iteration checkpointing controls lineage): the declarative
    form is right when depth is small and bounded, the iterative
    operator when the diameter is unknown. The part-key cut bounds the
    UNION ALL path expansion (paths, not nodes, accumulate before the
    fold)."""
    li = _t(spark, sf_dir, "lineitem")
    li.select("l_orderkey", "l_partkey").createOrReplaceTempView(
        "__rec_lineitem"
    )
    return spark.sql(_REACH_SQL.format(li="__rec_lineitem"))


@query(
    "variant_extract_orders",
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY status
    """,
)
def variant_extract_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT path (Spark 4 semi-structured type): orders round-trip
    through JSON into VARIANT and are consumed via typed
    variant_get() extraction — the open-schema ingestion pattern
    (store the raw event as VARIANT, shred typed columns at query
    time, no schema migration on payload drift). The oracle reads the
    plain columns, so it checks the whole to_json -> parse_json ->
    variant_get round-trip for exact double/string fidelity. At scale
    VARIANT's binary encoding scans far cheaper than JSON strings and
    supports shredded-column pushdown in newer table formats."""
    o = _t(spark, sf_dir, "orders")
    v = F.parse_json(
        F.to_json(F.struct("o_orderstatus", "o_totalprice", "o_custkey"))
    )
    return (
        o.select(v.alias("v"))
        .select(
            F.expr("variant_get(v, '$.o_orderstatus', 'string')").alias(
                "status"
            ),
            F.expr("variant_get(v, '$.o_totalprice', 'double')").alias(
                "total"
            ),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("total") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("status")
    )


@query(
    "try_arithmetic_orders",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           COUNT(CASE WHEN o_custkey % 5 = 0 THEN 1 END) AS n_div_zero,
           CAST(SUM(CASE WHEN o_custkey % 5 <> 0
                         THEN CAST(FLOOR(o_totalprice / (o_custkey % 5) * 100
                                         + 0.5) AS BIGINT) END)
                AS BIGINT) AS sum_ratio_cents,
           COUNT(TRY_CAST(substring(o_orderpriority, 1, 1) AS INT))
             AS n_prio_num
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def try_arithmetic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic (try_divide / try_cast): division by a
    zero-valued derived key yields NULL instead of an exception or an
    Inf that poisons the aggregate — the ANSI-mode-safe spelling for
    pipelines where a single bad row must not kill a 100 TB job.
    NULLs then flow through COUNT/SUM with standard skip semantics,
    which the oracle mirrors with explicit CASE guards (DuckDB's
    x/0 is Inf, not an error, so the guard IS the portable form).
    try_cast on the priority prefix exercises the string->int
    error-safe path ('1-URGENT' parses per-char; a non-digit prefix
    would count as NULL)."""
    o = _t(spark, sf_dir, "orders")
    divisor = F.col("o_custkey") % 5
    ratio = F.try_divide(F.col("o_totalprice"), divisor)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(divisor == 0, 1)).alias("n_div_zero"),
            F.sum(
                F.floor(ratio * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("sum_ratio_cents"),
            F.count(
                F.try_to_number(
                    F.substring("o_orderpriority", 1, 1), F.lit("9")
                )
            ).alias("n_prio_num"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "regression_by_nation",
    oracle="""
    WITH base AS (
      SELECT n_name AS nation,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS xi,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS yi
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    ),
    agg AS (
      SELECT nation, COUNT(*) AS n,
             SUM(CAST(xi AS DECIMAL(18,0))) AS sx,
             SUM(CAST(yi AS DECIMAL(18,0))) AS sy,
             SUM(CAST(xi AS DECIMAL(18,0)) * CAST(xi AS DECIMAL(18,0)))
               AS sxx,
             SUM(CAST(xi AS DECIMAL(18,0)) * CAST(yi AS DECIMAL(18,0)))
               AS sxy,
             SUM(CAST(yi AS DECIMAL(18,0)) * CAST(yi AS DECIMAL(18,0)))
               AS syy
      FROM base GROUP BY nation
    ),
    d AS (
      SELECT nation, n,
             CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd,
             CAST(syy AS DOUBLE) AS syyd
      FROM agg
    ),
    s AS (
      SELECT nation, n, nd, sxd, syd,
             (nd * sxyd - sxd * syd)
               / NULLIF(nd * sxxd - sxd * sxd, 0.0) AS slope,
             (nd * sxyd - sxd * syd)
               / NULLIF(SQRT(nd * sxxd - sxd * sxd)
                        * SQRT(nd * syyd - syd * syd), 0.0) AS corr_xy
      FROM d
    )
    SELECT nation,
           CAST(n AS BIGINT) AS n_lineitems,
           CAST(FLOOR(slope * 1000000.0 + 0.5) AS BIGINT) AS slope_e6,
           CAST(FLOOR((syd - slope * sxd) / nd / 100.0 * 100.0 + 0.5)
                AS BIGINT) AS intercept_e2,
           CAST(FLOOR(corr_xy * 1000000.0 + 0.5) AS BIGINT) AS corr_e6
    FROM s
    ORDER BY nation
    """,
)
def regression_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped closed-form linear regression + correlation (price on
    quantity per supplier nation) from exact decimal moment sums.

    The five moments (Sx, Sy, Sxx, Sxy, Syy) accumulate as DECIMAL
    products of cent-scaled BIGINTs - exact and order-independent, so
    the slope/intercept/corr doubles derive from bit-identical inputs
    in any engine and any partitioning (the float-aggregate
    determinism rule; built-in regr_slope/corr accumulate doubles in
    partition order and can hash-differ). Outputs are single-rounded
    to scaled BIGINTs (slope_e6 / intercept_e2 / corr_e6) with the
    identical FLOOR(x*scale + 0.5) tree on both engines: at sf0.1 the
    moment sums exceed 2^53, where the DECIMAL->DOUBLE cast itself
    may round differently per engine, so raw doubles are one ulp from
    a hash mismatch while e6/e2 grains absorb it. One partial+final
    hash aggregate after two broadcast dim joins; moment sums are the
    same mergeable state regr_* keeps, so this is the scale plan
    too."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    base = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.expr("CAST(ROUND(l_quantity * 100) AS BIGINT)").alias("xi"),
            F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias(
                "yi"
            ),
        )
    )
    agg = base.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.expr("SUM(CAST(xi AS DECIMAL(18,0)))").alias("sx"),
        F.expr("SUM(CAST(yi AS DECIMAL(18,0)))").alias("sy"),
        F.expr(
            "SUM(CAST(xi AS DECIMAL(18,0)) * CAST(xi AS DECIMAL(18,0)))"
        ).alias("sxx"),
        F.expr(
            "SUM(CAST(xi AS DECIMAL(18,0)) * CAST(yi AS DECIMAL(18,0)))"
        ).alias("sxy"),
        F.expr(
            "SUM(CAST(yi AS DECIMAL(18,0)) * CAST(yi AS DECIMAL(18,0)))"
        ).alias("syy"),
    )
    d = agg.select(
        "nation",
        "n",
        F.expr("CAST(n AS DOUBLE)").alias("nd"),
        F.expr("CAST(sx AS DOUBLE)").alias("sxd"),
        F.expr("CAST(sy AS DOUBLE)").alias("syd"),
        F.expr("CAST(sxx AS DOUBLE)").alias("sxxd"),
        F.expr("CAST(sxy AS DOUBLE)").alias("sxyd"),
        F.expr("CAST(syy AS DOUBLE)").alias("syyd"),
    )
    s2 = d.select(
        "nation",
        "n",
        "nd",
        "sxd",
        "syd",
        F.expr(
            "(nd * sxyd - sxd * syd)"
            " / NULLIF(nd * sxxd - sxd * sxd, 0.0)"
        ).alias("slope"),
        F.expr(
            "(nd * sxyd - sxd * syd)"
            " / NULLIF(SQRT(nd * sxxd - sxd * sxd)"
            "          * SQRT(nd * syyd - syd * syd), 0.0)"
        ).alias("corr_xy"),
    )
    return s2.select(
        "nation",
        F.col("n").cast("bigint").alias("n_lineitems"),
        F.expr("CAST(FLOOR(slope * 1000000.0 + 0.5) AS BIGINT)").alias(
            "slope_e6"
        ),
        F.expr(
            "CAST(FLOOR((syd - slope * sxd) / nd / 100.0 * 100.0 + 0.5)"
            " AS BIGINT)"
        ).alias("intercept_e2"),
        F.expr("CAST(FLOOR(corr_xy * 1000000.0 + 0.5) AS BIGINT)").alias(
            "corr_e6"
        ),
    ).orderBy("nation")


def _profile_oracle_col(
    col: str, num_expr: str | None, str_expr: str | None
) -> str:
    """One column's profile as a DuckDB SELECT (UNION ALL branch)."""
    num_min = (
        f"CAST(ROUND(MIN({num_expr}) * 100) AS BIGINT)" if num_expr else "NULL"
    )
    num_max = (
        f"CAST(ROUND(MAX({num_expr}) * 100) AS BIGINT)" if num_expr else "NULL"
    )
    str_min = f"MIN({str_expr})" if str_expr else "NULL"
    str_max = f"MAX({str_expr})" if str_expr else "NULL"
    top_src = str_expr if str_expr else f"CAST({col} AS VARCHAR)"
    return f"""
      SELECT '{col}' AS column_name,
             COUNT(*) AS n_rows,
             COUNT(*) - COUNT({col}) AS n_nulls,
             COUNT(DISTINCT {col}) AS n_distinct,
             CAST({num_min} AS BIGINT) AS min_num_e2,
             CAST({num_max} AS BIGINT) AS max_num_e2,
             CAST({str_min} AS VARCHAR) AS min_str,
             CAST({str_max} AS VARCHAR) AS max_str,
             (SELECT t.v FROM (
                SELECT {top_src} AS v, COUNT(*) AS c FROM orders
                WHERE {col} IS NOT NULL GROUP BY 1
              ) t ORDER BY t.c DESC, t.v LIMIT 1) AS top_value,
             (SELECT t.c FROM (
                SELECT {top_src} AS v, COUNT(*) AS c FROM orders
                WHERE {col} IS NOT NULL GROUP BY 1
              ) t ORDER BY t.c DESC, t.v LIMIT 1) AS top_count
      FROM orders"""


_PROFILE_COLS: list[tuple[str, str | None, str | None]] = [
    ("o_custkey", "o_custkey", None),
    ("o_orderdate", "epoch_us(CAST(o_orderdate AS TIMESTAMP)) / 1000000.0", None),
    ("o_orderpriority", None, "o_orderpriority"),
    ("o_orderstatus", None, "o_orderstatus"),
    ("o_totalprice", "o_totalprice", None),
]


@query(
    "stats_profile_orders",
    oracle="\nUNION ALL\n".join(
        _profile_oracle_col(c, n, s) for c, n, s in _PROFILE_COLS
    )
    + "\nORDER BY column_name",
)
def stats_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler: per-column null count, distinct count, typed
    extremes (numerics as cent-scaled BIGINTs, strings verbatim,
    timestamps as epoch seconds), and the modal value with
    lexicographic tie-break - the data-quality summary every catalog/
    profiling surface ships.

    Each column profiles in its own column-pruned pass (scan + one
    partial-agg groupBy for the mode + TakeOrderedAndProject(1)); the
    per-column plans union at the end. A production profiler fuses
    the non-mode stats into one multi-aggregate scan - the mode's
    per-column groupBy keys make full fusion impossible in ANY
    engine, so per-column passes are the honest shape, and each is
    independently scan-bound."""
    o = _t(spark, sf_dir, "orders")
    parts = []
    for col, num_expr, str_expr in _PROFILE_COLS:
        if num_expr:
            if col == "o_orderdate":
                nc = epoch_us(F.col(col)).cast("double") / 1000000.0
            else:
                nc = F.col(col).cast("double")
            num_min = F.round(F.min(nc) * 100).cast("bigint")
            num_max = F.round(F.max(nc) * 100).cast("bigint")
        else:
            num_min = F.lit(None).cast("bigint")
            num_max = F.lit(None).cast("bigint")
        if str_expr:
            str_min = F.min(str_expr)
            str_max = F.max(str_expr)
            top_src = F.col(str_expr)
        else:
            str_min = F.lit(None).cast("string")
            str_max = F.lit(None).cast("string")
            top_src = F.col(col).cast("string")
        base = o.agg(
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            num_min.alias("min_num_e2"),
            num_max.alias("max_num_e2"),
            str_min.alias("min_str"),
            str_max.alias("max_str"),
        )
        top = (
            o.filter(F.col(col).isNotNull())
            .groupBy(top_src.alias("v"))
            .agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), F.asc("v"))
            .limit(1)
            .select(
                F.col("v").alias("top_value"), F.col("c").alias("top_count")
            )
        )
        parts.append(
            base.crossJoin(F.broadcast(top)).select(
                F.lit(col).alias("column_name"),
                "n_rows",
                "n_nulls",
                "n_distinct",
                "min_num_e2",
                "max_num_e2",
                "min_str",
                "max_str",
                "top_value",
                "top_count",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'childless_orders' AS check_name,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey))
             AS n_violations,
           (SELECT COUNT(*) FROM orders) AS n_total
    UNION ALL
    SELECT 'orphan_lineitems',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'orphan_orders_custkey',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           (SELECT COUNT(*) FROM orders)
    ORDER BY check_name
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the warehouse's foreign
    keys: childless orders, orphan lineitems, and orders whose
    customer is missing - the classic post-load DQ sweep
    (complements the row-level dq_expectations_orders checks).

    Each check is one ANTI join (shuffled on the key, never
    materializing the probe payload) plus a scalar count; the three
    single-row results union. At 100 TB the anti joins are the same
    plans a MERGE validation runs."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")

    def check(name: str, viol: DataFrame, total: DataFrame) -> DataFrame:
        v = viol.agg(F.count("*").alias("n_violations"))
        t = total.agg(F.count("*").alias("n_total"))
        return v.crossJoin(F.broadcast(t)).select(
            F.lit(name).alias("check_name"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
            F.col("n_total").cast("bigint").alias("n_total"),
        )

    childless = o.join(
        li, o.o_orderkey == li.l_orderkey, "left_anti"
    )
    orphan_li = li.join(
        o, li.l_orderkey == o.o_orderkey, "left_anti"
    )
    orphan_cust = o.join(
        c, o.o_custkey == c.c_custkey, "left_anti"
    )
    return (
        check("childless_orders", childless, o)
        .unionByName(check("orphan_lineitems", orphan_li, li))
        .unionByName(check("orphan_orders_custkey", orphan_cust, o))
        .orderBy("check_name")
    )


@query(
    "orders_monthly_yoy",
    oracle="""
    WITH m AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
             CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(10000.0 * (rev - LAG(rev) OVER w)
                      / NULLIF(LAG(rev) OVER w, 0)) AS BIGINT)
             AS mom_growth_e4,
           CAST(ROUND(10000.0 * (rev - LAG(rev, 12) OVER w)
                      / NULLIF(LAG(rev, 12) OVER w, 0)) AS BIGINT)
             AS yoy_growth_e4
    FROM m
    WINDOW w AS (ORDER BY yr, mo)
    ORDER BY yr, mo
    """,
)
def orders_monthly_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth - the
    reporting staple: monthly decimal-exact revenue (one partial-agg
    groupBy), then the two LAGs realized as rank-offset self-joins on
    the month series — the distributed-rank operator assigns each
    month its series position, so no global-ORDER-BY window exists
    anywhere (an ordered LAG window is one task even over a bounded
    relation); growth ratios are single divisions of exact decimals
    rounded to scaled BIGINTs, written with the identical expression
    tree the window form used."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(14,2)))").alias("rev"),
    )
    ranked = with_global_rank(
        m.withColumn("__ym", F.col("yr") * 12 + F.col("mo")),
        "__ym",
        out_rank="__rn",
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    )
    lag1 = ranked.select(
        F.col("__rn").alias("__rn1"), F.col("rev").alias("__rev_m1")
    )
    lag12 = ranked.select(
        F.col("__rn").alias("__rn12"), F.col("rev").alias("__rev_m12")
    )
    m = (
        ranked.join(
            F.broadcast(lag1),
            ranked["__rn"] - 1 == lag1["__rn1"],
            "left",
        )
        .join(
            F.broadcast(lag12),
            ranked["__rn"] - 12 == lag12["__rn12"],
            "left",
        )
    )
    growth = lambda col: F.expr(  # noqa: E731
        f"""CAST(ROUND(10000.0 * (rev - {col})
              / NULLIF({col}, 0)) AS BIGINT)"""
    )
    return (
        m.select(
            "yr",
            "mo",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.expr("CAST(ROUND(rev, 2) AS DOUBLE)").alias("revenue"),
            growth("__rev_m1").alias("mom_growth_e4"),
            growth("__rev_m12").alias("yoy_growth_e4"),
        )
        .orderBy("yr", "mo")
    )


@query(
    "customer_decile_transitions",
    oracle="""
    WITH yr AS (
      SELECT o_custkey,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
             SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS spend
      FROM orders GROUP BY 1, 2
    ),
    bounds AS (
      SELECT MAX(yr) AS y2, MAX(yr) - 1 AS y1 FROM yr
    ),
    d AS (
      SELECT o_custkey, yr,
             NTILE(10) OVER (PARTITION BY yr
                             ORDER BY spend, o_custkey) AS decile
      FROM yr JOIN bounds ON yr IN (y1, y2)
    ),
    t AS (
      SELECT a.decile AS decile_y1, b.decile AS decile_y2
      FROM d a JOIN d b
        ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
    )
    SELECT CAST(decile_y1 AS INT) AS decile_y1,
           CAST(decile_y2 AS INT) AS decile_y2,
           COUNT(*) AS n_customers
    FROM t
    GROUP BY 1, 2
    ORDER BY decile_y1, decile_y2
    """,
)
def customer_decile_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-decile mobility matrix: customers active in the two most
    recent order years, bucketed into per-year spend deciles
    (NTILE(10) with custkey tie-break - deterministic), counted by
    (decile year1, decile year2) cell - the churn/upsell mobility
    report.

    Deciles derive from decimal-exact yearly spend; the ordering is
    total (spend, custkey), so bucket assignment is engine-stable.
    NTILE itself is computed WITHOUT a per-year sorting reducer: the
    distributed-rank operator (with_global_rank: bin counts + within-
    bin partitioned windows) yields each customer's exact per-year
    rank and NTILE's closed form maps rank to bucket — identical
    output to the oracle's NTILE at any customer count, with
    parallelism bounded by bins, not years."""
    o = _t(spark, sf_dir, "orders")
    yr = o.groupBy(
        "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
    ).agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(14,2)))").alias("spend")
    )
    bounds = yr.agg(
        F.max("yr").alias("y2"), (F.max("yr") - 1).alias("y1")
    )
    from local_stream_stack_spark.operators.quantiles import (
        ntile_expr,
        with_global_rank,
    )

    dd = with_global_rank(
        yr.crossJoin(F.broadcast(bounds)).filter(
            (F.col("yr") == F.col("y1")) | (F.col("yr") == F.col("y2"))
        ),
        "spend",
        ["o_custkey"],
        keys=["yr"],
        out_rank="__rn",
        total_col="__nk",
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    ).withColumn("decile", ntile_expr("__rn", "__nk", 10))
    a = dd.select(
        F.col("o_custkey").alias("ck"),
        F.col("yr").alias("yra"),
        F.col("decile").alias("decile_y1"),
    )
    b = dd.select(
        F.col("o_custkey").alias("ck"),
        F.col("yr").alias("yrb"),
        F.col("decile").alias("decile_y2"),
    )
    return (
        a.join(b, "ck")
        .filter(F.col("yrb") == F.col("yra") + 1)
        .groupBy(
            F.col("decile_y1").cast("int").alias("decile_y1"),
            F.col("decile_y2").cast("int").alias("decile_y2"),
        )
        .agg(F.count("*").alias("n_customers"))
        .orderBy("decile_y1", "decile_y2")
    )


@query(
    "customer_rfm_scores",
    oracle="""
    WITH agg AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS freq,
             SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             NTILE(5) OVER (ORDER BY last_order, o_custkey) AS r,
             NTILE(5) OVER (ORDER BY freq, o_custkey) AS f,
             NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m
      FROM agg
    )
    SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           COUNT(*) AS n_customers,
           CAST(MIN(o_custkey) AS BIGINT) AS min_custkey
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary quintiles per
    customer (NTILE(5) each, custkey tie-break for total order),
    rolled up into segment cells - the classic CRM scoring.

    The three quintile assignments never run a global sorting
    reducer: each is an exact distributed rank (with_global_rank —
    bin counts plus within-bin PARTITIONED windows) fed through
    NTILE's closed form, so the output matches the oracle's NTILE
    bit-for-bit while parallelism stays bounded at any customer
    count (an unpartitioned NTILE over 10^9 customers is one task).
    Monetary ranks on the decimal-exact spend sum."""
    from local_stream_stack_spark.operators.quantiles import (
        ntile_expr,
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(14,2)))").alias(
            "monetary"
        ),
    )
    # each with_global_rank makes 3 passes over its input; CHAINED,
    # the per-customer aggregate would re-execute multiplicatively
    # (3 -> 9 -> 27 subtree references). materialize=True truncates
    # the lineage at every stage (guide §5, §3.3).
    x = with_global_rank(
        agg, "last_order", ["o_custkey"], out_rank="__rr", total_col="__n",
        materialize=True,
    )
    x = with_global_rank(x, "freq", ["o_custkey"], out_rank="__rf",
                         materialize=True)
    x = with_global_rank(x, "monetary", ["o_custkey"], out_rank="__rm",
                         materialize=True)
    scored = x.select(
        "o_custkey",
        ntile_expr("__rr", "__n", 5).alias("r"),
        ntile_expr("__rf", "__n", 5).alias("f"),
        ntile_expr("__rm", "__n", 5).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("o_custkey").cast("bigint").alias("min_custkey"),
        )
        .orderBy("r", "f", "m")
    )


@query(
    "supplier_pareto_abc",
    oracle="""
    WITH s AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS rev
      FROM lineitem GROUP BY l_suppkey
    ),
    t AS (SELECT SUM(rev) AS tot FROM s),
    c AS (
      SELECT l_suppkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_suppkey
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM s
    ),
    cls AS (
      SELECT l_suppkey,
             CASE WHEN 10 * (cum - rev) < 8 * tot THEN 'A'
                  WHEN 100 * (cum - rev) < 95 * tot THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM c CROSS JOIN t
    )
    SELECT abc_class,
           COUNT(*) AS n_suppliers
    FROM cls
    GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def supplier_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of suppliers by revenue: class A
    until the running total (EXCLUSIVE of the current row, so the
    first supplier over the line still counts as A) reaches 80% of
    total revenue, B until 95%, C after - the inventory-management
    classic.

    The cumulative revenue is an exact distributed running sum over
    the per-supplier aggregate ordered (rev DESC, suppkey ASC) —
    with_global_rank's bin-cumulative path: per-bin exact decimal
    sums, below-bin offsets via one tiny array pass, within-bin
    PARTITIONED running-sum windows. No unpartitioned window, so no
    single sorting reducer at any supplier count. Class boundaries
    are integer cross-multiplications of exact decimals
    (10*cum < 8*tot), so no division and no float anywhere."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.expr("SUM(CAST(l_extendedprice AS DECIMAL(14,2)))").alias("rev")
    )
    t = s.agg(F.sum("rev").alias("tot"))
    c = with_global_rank(
        s,
        "rev",
        ["l_suppkey"],
        descending=True,
        out_rank="__rn",
        cumsum={"rev": "cum"},
        acc_type="DECIMAL(38,2)",
    ).crossJoin(F.broadcast(t))
    cls = c.select(
        "l_suppkey",
        F.expr(
            """CASE WHEN 10 * (cum - rev) < 8 * tot THEN 'A'
                    WHEN 100 * (cum - rev) < 95 * tot THEN 'B'
                    ELSE 'C' END"""
        ).alias("abc_class"),
    )
    return (
        cls.groupBy("abc_class")
        .agg(F.count("*").alias("n_suppliers"))
        .orderBy("abc_class")
    )


@query(
    "revenue_gini_lorenz",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev_c,
             ROW_NUMBER() OVER (ORDER BY rev_c, o_custkey) AS i
      FROM rev
    ),
    tot AS (
      SELECT COUNT(*) AS n, SUM(CAST(rev_c AS DECIMAL(38,0))) AS t,
             SUM(CAST(rev_c AS DECIMAL(38,0)) * i) AS s1
      FROM ranked
    ),
    dec AS (
      SELECT o_custkey, rev_c,
             NTILE(10) OVER (ORDER BY rev_c, o_custkey) AS decile
      FROM rev
    ),
    per AS (
      SELECT decile, COUNT(*) AS n_customers,
             SUM(CAST(rev_c AS DECIMAL(38,0))) AS drev
      FROM dec GROUP BY decile
    ),
    cum AS (
      SELECT decile, n_customers,
             SUM(drev) OVER (ORDER BY decile
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS crev
      FROM per
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(crev AS BIGINT) AS cum_rev_cents,
           CAST(CAST(crev AS HUGEINT) * 1000000
                // NULLIF(CAST(t AS HUGEINT), 0) AS BIGINT)
             AS cum_share_e6,
           CAST(CAST(2 * s1 - (n + 1) * t AS HUGEINT) * 1000000
                // NULLIF(CAST(n * t AS HUGEINT), 0) AS BIGINT)
             AS gini_e6
    FROM cum CROSS JOIN tot
    ORDER BY decile
    """,
)
def revenue_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit: Lorenz-curve deciles of
    per-customer order revenue plus the Gini coefficient — the
    inequality summary a curation pipeline uses to decide whether a
    source (or customer base) is dominated by a few heavy entities.

    Everything is integer-exact: revenue in cents (BIGINT), rank and
    decile from ONE distributed exact rank over the per-customer
    aggregate (with_global_rank + NTILE's closed form — no
    unpartitioned window, so no single sorting reducer even at 10^9
    customers), shares and the Gini 2*sum(i*x_i) formula via
    DECIMAL(38,0) sums with truncating integer division to e6 — no
    floats anywhere, and both engines truncate non-negative division
    identically. The 10-row decile cumulative reuses the same
    operator (bins collapse it to one array pass)."""
    from local_stream_stack_spark.operators.quantiles import (
        ntile_expr,
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))").alias("rev_c")
    )
    ranked = with_global_rank(
        rev, "rev_c", ["o_custkey"], out_rank="i", total_col="__n",
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    )
    tot = ranked.agg(
        F.expr("COUNT(*)").alias("n"),
        F.expr("SUM(CAST(rev_c AS DECIMAL(38,0)))").alias("t"),
        F.expr("SUM(CAST(rev_c AS DECIMAL(38,0)) * i)").alias("s1"),
    )
    dec = ranked.withColumn("decile", ntile_expr("i", "__n", 10))
    per = dec.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.expr("SUM(CAST(rev_c AS DECIMAL(38,0)))").alias("drev"),
    )
    cum = with_global_rank(
        per,
        "decile",
        out_rank="__rn",
        cumsum={"drev": "crev"},
        acc_type="DECIMAL(38,0)",
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    ).crossJoin(F.broadcast(tot))
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("crev").cast("bigint").alias("cum_rev_cents"),
        F.expr(
            "CAST(crev AS DECIMAL(38,0)) * 1000000 div NULLIF(t, 0)"
        ).alias("cum_share_e6"),
        F.expr(
            "CAST(2 * s1 - (n + 1) * t AS DECIMAL(38,0)) * 1000000"
            " div NULLIF(n * t, 0)"
        ).alias("gini_e6"),
    ).orderBy("decile")


@query(
    "benford_first_digit",
    oracle="""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
      WHERE o_totalprice > 0
    ),
    g AS (SELECT digit, COUNT(*) AS n FROM c GROUP BY digit),
    t AS (SELECT SUM(n) AS tot FROM g)
    SELECT digit,
           CAST(n AS BIGINT) AS n_orders,
           CAST(n * 1000000 // tot AS BIGINT) AS observed_e6,
           CAST(CASE digit
                WHEN 1 THEN 301030 WHEN 2 THEN 176091
                WHEN 3 THEN 124939 WHEN 4 THEN 96910
                WHEN 5 THEN 79181 WHEN 6 THEN 66947
                WHEN 7 THEN 57992 WHEN 8 THEN 51153
                ELSE 45757 END AS BIGINT) AS benford_e6,
           CAST(n * 1000000 // tot
                - CASE digit
                  WHEN 1 THEN 301030 WHEN 2 THEN 176091
                  WHEN 3 THEN 124939 WHEN 4 THEN 96910
                  WHEN 5 THEN 79181 WHEN 6 THEN 66947
                  WHEN 7 THEN 57992 WHEN 8 THEN 51153
                  ELSE 45757 END AS BIGINT) AS delta_e6
    FROM g CROSS JOIN t
    ORDER BY digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    classic fraud / synthetic-data screen: natural multi-scale
    amounts follow P(d) = log10(1 + 1/d); a flat or spiked digit
    histogram flags fabricated or truncated values.

    Non-positive amounts are excluded (Benford classes are defined
    over positive magnitudes only). The first digit comes from the
    decimal rendering of the exact cent amount (both engines print BIGINTs identically — no float
    log10), observed shares are truncating integer division to e6,
    and the Benford expectations are the SAME nine e6 literals on
    both sides (they sum to exactly 1_000_000), so delta_e6 is pure
    integer arithmetic. One scan, one 9-row groupBy."""
    o = _t(spark, sf_dir, "orders")
    benford = (
        "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091"
        " WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181"
        " WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153"
        " ELSE 45757 END"
    )
    g = (
        o.filter(F.col("o_totalprice") > 0)
        .select(
            F.expr(
                "CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)"
                " AS STRING), 1, 1) AS INT)"
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    t = g.agg(F.sum("n").alias("tot"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n_orders"),
            F.expr("n * 1000000 div tot").alias("observed_e6"),
            F.expr(f"CAST({benford} AS BIGINT)").alias("benford_e6"),
            F.expr(f"n * 1000000 div tot - {benford}")
            .cast("bigint")
            .alias("delta_e6"),
        )
        .orderBy("digit")
    )


def _corr_pair_sql(x: str, y: str) -> str:
    """Shared corr expression (identical tree on both engines so the
    doubles derive bit-identically from the exact integer moments)."""
    return (
        f"(f_n * f_m{x}{y} - f_s{x} * f_s{y})"
        f" / NULLIF(SQRT(f_n * f_v{x} - f_s{x} * f_s{x})"
        f" * SQRT(f_n * f_v{y} - f_s{y} * f_s{y}), 0.0)"
    )


def _corr_oracle_sql() -> str:
    pairs = [
        ("q", "p", "quantity", "extendedprice"),
        ("q", "d", "quantity", "discount"),
        ("q", "t", "quantity", "tax"),
        ("p", "d", "extendedprice", "discount"),
        ("p", "t", "extendedprice", "tax"),
        ("d", "t", "discount", "tax"),
    ]
    selects = "\n      UNION ALL ".join(
        f"SELECT '{nx}' AS col_x, '{ny}' AS col_y,"
        f" CAST(n AS BIGINT) AS n_rows,"
        f" CAST(ROUND(({_corr_pair_sql(x, y)}) * 1000000.0) AS BIGINT)"
        " AS corr_e6 FROM f"
        for x, y, nx, ny in pairs
    )
    dbl = ", ".join(
        f"CAST({c} AS DOUBLE) AS f_{c}"
        for c in [
            "sq", "sp", "sd", "st", "vq", "vp", "vd", "vt",
            "mqp", "mqd", "mqt", "mpd", "mpt", "mdt",
        ]
    )
    sums = ", ".join(
        f"SUM(CAST({a} AS DECIMAL(38,0)) * CAST({b} AS DECIMAL(38,0)))"
        f" AS {nm}"
        for nm, a, b in [
            ("vq", "xq", "xq"), ("vp", "xp", "xp"), ("vd", "xd", "xd"),
            ("vt", "xt", "xt"), ("mqp", "xq", "xp"), ("mqd", "xq", "xd"),
            ("mqt", "xq", "xt"), ("mpd", "xp", "xd"), ("mpt", "xp", "xt"),
            ("mdt", "xd", "xt"),
        ]
    )
    return f"""
    WITH base AS (
      SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS xq,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS xp,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS xd,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS xt
      FROM lineitem
    ),
    agg AS MATERIALIZED (
      SELECT COUNT(*) AS n,
             SUM(CAST(xq AS DECIMAL(38,0))) AS sq,
             SUM(CAST(xp AS DECIMAL(38,0))) AS sp,
             SUM(CAST(xd AS DECIMAL(38,0))) AS sd,
             SUM(CAST(xt AS DECIMAL(38,0))) AS st,
             {sums}
      FROM base
    ),
    f AS (SELECT n, CAST(n AS DOUBLE) AS f_n, {dbl} FROM agg)
    SELECT * FROM ({selects})
    ORDER BY col_x, col_y
    """


@query("corr_matrix_lineitem", oracle=_corr_oracle_sql())
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the four lineitem
    numeric measures (quantity, extendedprice, discount, tax) — the
    feature-correlation audit a profiling pass runs before model
    training or column pruning.

    Single scan, single partial+final aggregate collecting all 15
    exact moments (cent-scaled BIGINT values, DECIMAL(38,0) sums —
    order-independent, unlike the built-in corr()'s running double
    state), then the 6 upper-triangle correlations derive from the
    same double expression tree on both engines and are rounded ONCE
    to a scaled BIGINT (corr_e6): the DECIMAL(38,0)->DOUBLE cast can
    differ in the last ulp across engines once sums exceed 2^53
    (ADVICE r6), and e6 rounding absorbs that. The unpivot is a
    stack() over one aggregate row."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.expr("CAST(ROUND(l_quantity * 100) AS BIGINT)").alias("xq"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("xp"),
        F.expr("CAST(ROUND(l_discount * 100) AS BIGINT)").alias("xd"),
        F.expr("CAST(ROUND(l_tax * 100) AS BIGINT)").alias("xt"),
    )
    sum_exprs = [
        F.expr("COUNT(*)").alias("n"),
        *[
            F.expr(f"SUM(CAST(x{c} AS DECIMAL(38,0)))").alias(f"s{c}")
            for c in "qpdt"
        ],
        *[
            F.expr(
                f"SUM(CAST(x{a} AS DECIMAL(38,0))"
                f" * CAST(x{b} AS DECIMAL(38,0)))"
            ).alias(nm)
            for nm, a, b in [
                ("vq", "q", "q"), ("vp", "p", "p"), ("vd", "d", "d"),
                ("vt", "t", "t"), ("mqp", "q", "p"), ("mqd", "q", "d"),
                ("mqt", "q", "t"), ("mpd", "p", "d"), ("mpt", "p", "t"),
                ("mdt", "d", "t"),
            ]
        ],
    ]
    agg = base.agg(*sum_exprs)
    f = agg.select(
        "n",
        F.expr("CAST(n AS DOUBLE)").alias("f_n"),
        *[
            F.expr(f"CAST({c} AS DOUBLE)").alias(f"f_{c}")
            for c in [
                "sq", "sp", "sd", "st", "vq", "vp", "vd", "vt",
                "mqp", "mqd", "mqt", "mpd", "mpt", "mdt",
            ]
        ],
    )
    pairs = [
        ("q", "p", "quantity", "extendedprice"),
        ("q", "d", "quantity", "discount"),
        ("q", "t", "quantity", "tax"),
        ("p", "d", "extendedprice", "discount"),
        ("p", "t", "extendedprice", "tax"),
        ("d", "t", "discount", "tax"),
    ]
    stack_args = ", ".join(
        f"'{nx}', '{ny}',"
        f" CAST(ROUND(({_corr_pair_sql(x, y)}) * 1000000.0) AS BIGINT)"
        for x, y, nx, ny in pairs
    )
    return f.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        f"stack(6, {stack_args}) AS (col_x, col_y, corr_e6)",
    ).select("col_x", "col_y", "n_rows", "corr_e6").orderBy(
        "col_x", "col_y"
    )


@query(
    "k_anonymity_audit",
    oracle="""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    tot AS (
      SELECT COUNT(*) AS n_cls, SUM(sz) AS n_rows, MIN(sz) AS min_sz
      FROM cls
    ),
    ks AS (SELECT unnest([2, 5, 10, 20]) AS k)
    SELECT CAST(ks.k AS INT) AS k_threshold,
           CAST(tot.n_cls AS BIGINT) AS n_classes,
           CAST(tot.min_sz AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN cls.sz < ks.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_classes_below,
           CAST(SUM(CASE WHEN cls.sz < ks.k THEN cls.sz ELSE 0 END)
                AS BIGINT) AS n_rows_below,
           CAST(SUM(CASE WHEN cls.sz < ks.k THEN cls.sz ELSE 0 END)
                * 1000000 // tot.n_rows AS BIGINT) AS at_risk_rate_e6
    FROM cls
    CROSS JOIN ks
    CROSS JOIN tot
    GROUP BY ks.k, tot.n_cls, tot.n_rows, tot.min_sz
    ORDER BY k_threshold
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit over the (nation, market-segment)
    quasi-identifier: for each candidate k, how many equivalence
    classes — and how many ROWS — fall below k members and would
    re-identify under linkage. The privacy gate run before a table
    with demographic columns leaves the curated zone.

    One groupBy on the quasi-identifier (equivalence classes are
    bounded by the QI domain, not the row count), a 3-scalar second
    aggregate, and a 4-threshold broadcast cross join against the
    class table. at_risk_rate_e6 is a truncating division on
    non-negative counts."""
    c = _t(spark, sf_dir, "customer")
    cls = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("sz")
    )
    tot = cls.agg(
        F.count("*").alias("n_cls"),
        F.sum("sz").alias("n_rows"),
        F.min("sz").alias("min_sz"),
    )
    ks = spark.createDataFrame([(2,), (5,), (10,), (20,)], "k int")
    return (
        cls.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_cls", "n_rows", "min_sz")
        .agg(
            F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0)).alias(
                "n_below"
            ),
            F.sum(
                F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0)
            ).alias("rows_below"),
        )
        .select(
            F.col("k").cast("int").alias("k_threshold"),
            F.col("n_cls").cast("bigint").alias("n_classes"),
            F.col("min_sz").cast("bigint").alias("min_class_size"),
            F.col("n_below").cast("bigint").alias("n_classes_below"),
            F.col("rows_below").cast("bigint").alias("n_rows_below"),
            F.expr(
                "CAST(rows_below * 1000000 div n_rows AS BIGINT)"
            ).alias("at_risk_rate_e6"),
        )
        .orderBy("k_threshold")
    )


@query(
    "table_fingerprint_orders",
    oracle="""
    WITH canon AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST('0x' || substring(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' ||
               CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    AS VARCHAR) || '|' ||
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
             ), 1, 12) AS BIGINT) AS h,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS xor_fingerprint,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM canon
    GROUP BY month
    ORDER BY month
    """,
)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-month table fingerprint: each row is
    rendered to a canonical string, md5-hashed to a 48-bit integer,
    and XOR-folded per month, alongside the row count and exact cents
    sum. This is how two copies of a 100 TB table are compared without
    sorting either one — XOR is commutative, associative, and
    overflow-free, so the fingerprint is partition-order-independent
    and mergeable across executors; any single-row difference flips
    the month's fingerprint.

    Pure scan + partial-agg groupBy on month — one shuffle of
    (months x 3) longs. The canonical rendering pins each column to an
    engine-neutral text form (BIGINT decimal, ISO date, cents BIGINT)
    so Spark and the oracle hash identical bytes."""
    o = _t(spark, sf_dir, "orders")
    canon = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.expr(
            "CAST(conv(substring(md5(concat_ws('|',"
            " CAST(o_orderkey AS STRING),"
            " CAST(o_custkey AS STRING),"
            " o_orderstatus,"
            " CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS STRING),"
            " CAST(CAST(o_orderdate AS DATE) AS STRING)"
            ")), 1, 12), 16, 10) AS BIGINT)"
        ).alias("h"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    return (
        canon.groupBy("month")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr("CAST(bit_xor(h) AS BIGINT)").alias("xor_fingerprint"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("month")
    )


@query(
    "cusum_changepoint_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    tot AS (
      SELECT COUNT(*) AS n, SUM(x) AS s FROM daily
    ),
    cusum AS (
      SELECT day,
             SUM(CAST(t.n AS BIGINT) * x - CAST(t.s AS BIGINT))
               OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c,
             ABS(CAST(t.n AS BIGINT) * x - CAST(t.s AS BIGINT)) AS adev
      FROM daily CROSS JOIN tot t
    ),
    norm AS (SELECT SUM(adev) AS total_dev FROM cusum)
    SELECT day AS changepoint_day,
           CAST((SELECT n FROM tot) AS BIGINT) AS n_days,
           CAST(c AS BIGINT) AS cusum_peak,
           CAST(CAST(ABS(c) AS HUGEINT) * 1000000
                // NULLIF(CAST((SELECT total_dev FROM norm) AS HUGEINT), 0)
                AS BIGINT) AS peak_share_e6
    FROM cusum
    ORDER BY ABS(c) DESC, day
    LIMIT 1
    """,
)
def cusum_changepoint_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily revenue: the cumulative
    sum of mean-centered daily totals peaks (in absolute value) at the
    most likely level-shift point — the classic drift detector run on
    a metric before anyone trusts a before/after comparison.

    Integer-exact: daily cents totals, centering scaled by n (so
    n*x - S needs no division), the cumulative deviation via the
    distributed-rank operator's running sum (day-binned partial sums +
    within-bin PARTITIONED windows — never a global-ORDER-BY window,
    even though the day grain is calendar-bounded), and a
    TakeOrderedAndProject LIMIT 1 for the peak. peak_share_e6
    normalizes by the total absolute deviation (non-negative
    truncating division)."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("CAST(o_orderdate AS DATE)").alias("day")
    ).agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias(
            "x"
        )
    )
    tot = daily.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    centered = daily.crossJoin(F.broadcast(tot)).withColumn(
        "__dev", F.col("n") * F.col("x") - F.col("s")
    )
    cusum = with_global_rank(
        centered,
        "day",
        out_rank="__rn",
        cumsum={"__dev": "c"},
        acc_type="BIGINT",
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    ).select("day", "n", "c", F.abs(F.col("__dev")).alias("adev"))
    norm = cusum.agg(F.sum("adev").alias("total_dev"))
    return (
        cusum.crossJoin(F.broadcast(norm))
        .orderBy(F.abs("c").desc(), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("changepoint_day"),
            F.col("n").cast("bigint").alias("n_days"),
            F.col("c").cast("bigint").alias("cusum_peak"),
            F.expr(
                # DECIMAL(38,0) headroom: ABS(c) is an n-scaled cumsum
                # that can exceed BIGINT/10^6 at sf >= 0.1 (ANSI
                # overflow caught by bench); Spark's div on DECIMAL
                # returns BIGINT, DuckDB mirrors via HUGEINT.
                "CAST(CAST(ABS(c) AS DECIMAL(38,0)) * 1000000"
                " div NULLIF(total_dev, 0) AS BIGINT)"
            ).alias("peak_share_e6"),
        )
    )


@query(
    "orders_backlog_aging",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
    aged AS (
      SELECT o_orderpriority,
             datediff('day', CAST(o_orderdate AS DATE), d0) AS age,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders CROSS JOIN mx
      WHERE o_orderstatus = 'O'
    ),
    b AS (
      SELECT o_orderpriority,
             CASE WHEN age <= 30 THEN '0-30'
                  WHEN age <= 90 THEN '31-90'
                  WHEN age <= 180 THEN '91-180'
                  WHEN age <= 365 THEN '181-365'
                  ELSE '365+' END AS age_bucket,
             cents
      FROM aged
    )
    SELECT o_orderpriority, age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS backlog_cents
    FROM b
    GROUP BY o_orderpriority, age_bucket
    ORDER BY o_orderpriority, age_bucket
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: unfilled orders bucketed by age
    (relative to the corpus max order date, so the report is
    reproducible on frozen data) per priority, with the cent-exact
    revenue at risk — the ops aging report every order system runs.

    One scan with a broadcast scalar max-date, one partial-agg
    groupBy; ages and buckets are pure integer date arithmetic."""
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(
        F.expr("MAX(CAST(o_orderdate AS DATE))").alias("d0")
    )
    aged = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(mx))
        .select(
            "o_orderpriority",
            F.expr(
                "datediff(d0, CAST(o_orderdate AS DATE))"
            ).alias("age"),
            F.expr(
                "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
            ).alias("cents"),
        )
    )
    b = aged.select(
        "o_orderpriority",
        F.expr(
            """CASE WHEN age <= 30 THEN '0-30'
                    WHEN age <= 90 THEN '31-90'
                    WHEN age <= 180 THEN '91-180'
                    WHEN age <= 365 THEN '181-365'
                    ELSE '365+' END"""
        ).alias("age_bucket"),
        "cents",
    )
    return (
        b.groupBy("o_orderpriority", "age_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("backlog_cents"),
        )
        .orderBy("o_orderpriority", "age_bucket")
    )


@query(
    "hhi_market_concentration",
    oracle="""
    WITH s AS (
      SELECT n_name AS nation,
             s.s_suppkey,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rev
      FROM lineitem
      JOIN supplier s ON l_suppkey = s.s_suppkey
      JOIN nation ON s.s_nationkey = n_nationkey
      GROUP BY n_name, s.s_suppkey
    ),
    m AS (
      SELECT nation,
             COUNT(*) AS n_suppliers,
             SUM(CAST(rev AS DECIMAL(38,0))) AS tot,
             SUM(CAST(rev AS DECIMAL(38,0)) * CAST(rev AS DECIMAL(38,0)))
               AS sq
      FROM s GROUP BY nation
    )
    SELECT nation,
           CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(CAST(sq AS HUGEINT) * 1000000
                // NULLIF(CAST(tot * tot AS HUGEINT), 0) AS BIGINT)
             AS hhi_e6
    FROM m
    ORDER BY nation
    """,
)
def hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per supplier
    nation: sum of squared revenue shares, the antitrust-standard
    concentration score (1e6 = monopoly; 1e6/n = perfect
    competition) — the cross-entity complement of the Lorenz/Gini
    per-entity view.

    HHI = sum(s_i^2)/S^2 needs only two DECIMAL moment sums per
    nation (sum of rev, sum of rev^2) over the per-supplier
    aggregate, then ONE truncating integer division — no per-share
    division, no floats; broadcast dim joins feed one partial+final
    aggregate chain."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    s = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(
            F.expr(
                "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))"
            ).alias("rev")
        )
    )
    m = s.groupBy("nation").agg(
        F.count("*").alias("n_suppliers"),
        F.expr("SUM(CAST(rev AS DECIMAL(38,0)))").alias("tot"),
        F.expr(
            "SUM(CAST(rev AS DECIMAL(38,0)) * CAST(rev AS DECIMAL(38,0)))"
        ).alias("sq"),
    )
    return m.select(
        "nation",
        F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
        F.expr(
            "CAST(sq * 1000000 div NULLIF(tot * tot, 0) AS BIGINT)"
        ).alias("hhi_e6"),
    ).orderBy("nation")


@query(
    "ship_lag_quantiles",
    oracle="""
    WITH lag AS (
      SELECT o_orderpriority,
             datediff('day', CAST(o_orderdate AS DATE),
                      CAST(l_shipdate AS DATE)) AS lag_days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    h AS (
      SELECT o_orderpriority, lag_days, COUNT(*) AS c
      FROM lag GROUP BY o_orderpriority, lag_days
    ),
    cum AS (
      SELECT o_orderpriority, lag_days, c,
             SUM(c) OVER (PARTITION BY o_orderpriority
                          ORDER BY lag_days
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cc,
             SUM(c) OVER (PARTITION BY o_orderpriority) AS n
      FROM h
    )
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n_lineitems,
           CAST(MIN(CASE WHEN 2 * cc >= n THEN lag_days END) AS BIGINT)
             AS median_lag_days,
           CAST(MIN(CASE WHEN 20 * cc >= 19 * n THEN lag_days END)
                AS BIGINT) AS p95_lag_days
    FROM cum
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def ship_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority: exact lower
    median and p95 of datediff(shipdate, orderdate) — the
    fulfillment-SLA report, computed by the bounded-domain value
    histogram (lag days are small integers, so the shuffle carries
    |priorities| x |distinct lags| count rows regardless of corpus
    size — the 100 TB-preferred quantile form).

    The quantile pick is pure integer arithmetic: smallest lag whose
    running count reaches ceil(q*n), via the cross-multiplied
    predicate 2*cc >= n (median) / 20*cc >= 19*n (p95) — no
    interpolation, no floats, identical on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.expr(
            "datediff(CAST(l_shipdate AS DATE),"
            " CAST(o_orderdate AS DATE))"
        ).alias("lag_days"),
    )
    h = lag.groupBy("o_orderpriority", "lag_days").agg(
        F.count("*").alias("c")
    )
    wcum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("lag_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("o_orderpriority")
    cum = h.select(
        "o_orderpriority",
        "lag_days",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(wall).alias("n"),
    )
    return (
        cum.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("bigint").alias("n_lineitems"),
            F.expr(
                "CAST(MIN(CASE WHEN 2 * cc >= n THEN lag_days END)"
                " AS BIGINT)"
            ).alias("median_lag_days"),
            F.expr(
                "CAST(MIN(CASE WHEN 20 * cc >= 19 * n THEN lag_days"
                " END) AS BIGINT)"
            ).alias("p95_lag_days"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "qq_plot_price",
    oracle="""
    WITH r AS (
      SELECT o_orderstatus AS st, o_totalprice AS p,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    d AS (SELECT unnest(generate_series(1, 9)) AS dec),
    pick AS (
      SELECT r.st, d.dec, r.p
      FROM r JOIN d ON r.rn = (r.n - 1) * d.dec // 10 + 1
    )
    SELECT CAST(f.dec AS INT) AS decile,
           CAST(f.p AS DOUBLE) AS f_price,
           CAST(o.p AS DOUBLE) AS o_price,
           CAST(ROUND(CAST(f.p AS DOUBLE) / CAST(o.p AS DOUBLE)
                      * 1000000) AS BIGINT) AS ratio_e6
    FROM (SELECT dec, p FROM pick WHERE st = 'F') f
    JOIN (SELECT dec, p FROM pick WHERE st = 'O') o USING (dec)
    ORDER BY decile
    """,
)
def qq_plot_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile comparison of order prices between the
    fulfilled ('F') and open ('O') populations at the nine deciles —
    the distribution-shift screen run before trusting any
    cross-population metric comparison (a QQ ratio drifting from 1.0
    in the tails means the populations differ in shape, not just
    mean, and mean-based comparisons will lie).

    Deciles are EXACT ORDER STATISTICS (the element at 0-indexed rank
    floor((n-1)*k/10), lower type-1 convention) — actual data values,
    never float interpolation, so both engines agree bit-for-bit at
    any scale (an interpolated quantile_cont differs by one ulp
    between engines and flips a cent rounding; caught at sf0.1). The
    per-status ranks come from the distributed-rank operator (no
    per-status sorting reducer); the 9 target ranks broadcast-join
    the ranked scan and only 18 rows survive."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    ranked = with_global_rank(
        o.select("o_orderstatus", "o_totalprice", "o_orderkey"),
        "o_totalprice",
        ["o_orderkey"],
        keys=["o_orderstatus"],
        out_rank="rn",
        total_col="n",
    )
    pick = ranked.filter(
        F.expr(
            "EXISTS(sequence(1, 9),"
            " k -> rn = (n - 1) * k div 10 + 1)"
        )
    ).select(
        F.col("o_orderstatus").alias("st"),
        F.explode(
            F.expr(
                "filter(sequence(1, 9),"
                " k -> rn = (n - 1) * k div 10 + 1)"
            )
        ).alias("dec"),
        F.col("o_totalprice").alias("p"),
    )
    f = pick.filter(F.col("st") == "F").select(
        "dec", F.col("p").alias("fp")
    )
    oo = pick.filter(F.col("st") == "O").select(
        "dec", F.col("p").alias("op")
    )
    return (
        f.join(oo, "dec")
        .select(
            F.col("dec").cast("int").alias("decile"),
            F.col("fp").cast("double").alias("f_price"),
            F.col("op").cast("double").alias("o_price"),
            F.expr(
                "CAST(ROUND(CAST(fp AS DOUBLE) / CAST(op AS DOUBLE)"
                " * 1000000) AS BIGINT)"
            ).alias("ratio_e6"),
        )
        .orderBy("decile")
    )


@query(
    "ewma_daily_revenue",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ),
    seq AS MATERIALIZED (
      SELECT day, cents,
             ROW_NUMBER() OVER (ORDER BY day) AS i
      FROM daily
    ),
    fold AS (
      SELECT i, day, cents, cents AS ewma_cents FROM seq WHERE i = 1
      UNION ALL
      SELECT s.i, s.day, s.cents,
             CAST(FLOOR(0.2 * s.cents + 0.8 * f.ewma_cents + 0.5)
                  AS BIGINT)
      FROM seq s JOIN fold f ON s.i = f.i + 1
    )
    SELECT day,
           CAST(cents AS BIGINT) AS revenue_cents,
           CAST(ewma_cents AS BIGINT) AS ewma_cents,
           CAST(cents - ewma_cents AS BIGINT) AS residual_cents
    FROM fold
    ORDER BY day
    """,
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue
    (alpha = 0.2) with per-day residuals — the smoothed baseline an
    anomaly monitor compares against (CUSUM finds ONE changepoint;
    the EWMA residual flags per-day spikes against a drifting level).

    An EWMA is inherently a sequential fold, so the engine runs it as
    ONE ordered array fold over the calendar-bounded day series
    (sort_array(collect_list(...)) into a single aggregate row, then
    an `aggregate` lambda with the state SINGLE-rounded to cents
    BIGINT each step — deterministic at any partitioning, no window
    and no driver loop; days are bounded by the calendar regardless
    of corpus size). The oracle replays the identical recurrence as a
    recursive CTE. FLOOR(0.2*x + 0.8*s + 0.5) uses only
    correctly-rounded double ops on exact integers, so both engines
    agree bit-for-bit at every step."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("CAST(o_orderdate AS DATE)").alias("day")
    ).agg(
        F.sum(
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
        ).alias("cents")
    )
    arr = daily.agg(
        F.sort_array(
            F.collect_list(F.struct("day", "cents"))
        ).alias("__a")
    )
    folded = arr.select(
        F.explode(
            F.expr(
                """aggregate(
                     __a,
                     named_struct(
                       's', CAST(-1 AS BIGINT),
                       'out', CAST(array() AS
                         array<struct<day:date,cents:bigint,e:bigint>>)),
                     (acc, x) -> named_struct(
                       's', CAST(CASE WHEN acc.s < 0 THEN x.cents
                                 ELSE CAST(FLOOR(0.2 * x.cents
                                      + 0.8 * acc.s + 0.5) AS BIGINT)
                                 END AS BIGINT),
                       'out', array_append(acc.out, named_struct(
                         'day', x.day, 'cents', x.cents,
                         'e', CAST(CASE WHEN acc.s < 0 THEN x.cents
                              ELSE CAST(FLOOR(0.2 * x.cents
                                   + 0.8 * acc.s + 0.5) AS BIGINT)
                              END AS BIGINT)))),
                     acc -> acc.out)"""
            )
        ).alias("r")
    ).select(
        F.col("r.day").alias("day"),
        F.col("r.cents").alias("revenue_cents"),
        F.col("r.e").alias("ewma_cents"),
        (F.col("r.cents") - F.col("r.e")).alias("residual_cents"),
    )
    return folded.orderBy("day")


@query(
    "snapshot_diff_orders",
    oracle="""
    WITH cutoff AS (
      SELECT CAST(MAX(o_orderdate) AS DATE) - 90 AS d0 FROM orders
    ),
    snap_a AS (
      SELECT o_orderkey AS k,
             md5(concat_ws(chr(31), o_orderstatus,
                 CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                      AS VARCHAR),
                 o_orderpriority)) AS h
      FROM orders CROSS JOIN cutoff
      WHERE CAST(o_orderdate AS DATE) < d0
    ),
    snap_b AS (
      SELECT o_orderkey AS k,
             md5(concat_ws(chr(31),
                 CASE WHEN o_orderkey % 97 = 0 THEN 'X'
                      ELSE o_orderstatus END,
                 CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                      AS VARCHAR),
                 o_orderpriority)) AS h
      FROM orders
    ),
    d AS (
      SELECT COALESCE(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
    )
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(k) AS BIGINT) AS min_key,
           CAST(MAX(k) AS BIGINT) AS max_key
    FROM d
    GROUP BY change_type
    ORDER BY change_type
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the CDC primitive): compare two table versions
    by key + payload hash and classify every key as added / removed /
    changed / unchanged — what an incremental pipeline computes to
    avoid reprocessing an unchanged partition, and what a data-quality
    gate reads to catch a silent full-table rewrite.

    Snapshot A is the orders table 90 days before its own max date;
    snapshot B is today's table with a deterministic mutation (status
    flip on orderkey % 97) so every class is non-empty on synthetic
    data. Payload identity is md5 over unit-separated columns with
    cents rendered as exact BIGINTs (float rendering differs between
    engines; integer rendering cannot). One full outer join on the
    key — co-partitioned by the same shuffle any downstream merge
    uses — and a 4-row summary aggregate."""
    o = _t(spark, sf_dir, "orders")
    cutoff = o.agg(
        F.expr("CAST(MAX(o_orderdate) AS DATE) - 90").alias("d0")
    )
    pay = (
        "md5(concat_ws(chr(31), {status},"
        " CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS STRING),"
        " o_orderpriority))"
    )
    snap_a = (
        o.crossJoin(F.broadcast(cutoff))
        .filter(F.expr("CAST(o_orderdate AS DATE) < d0"))
        .select(
            F.col("o_orderkey").alias("ka"),
            F.expr(pay.format(status="o_orderstatus")).alias("ha"),
        )
    )
    snap_b = o.select(
        F.col("o_orderkey").alias("kb"),
        F.expr(
            pay.format(
                status="CASE WHEN o_orderkey % 97 = 0 THEN 'X'"
                " ELSE o_orderstatus END"
            )
        ).alias("hb"),
    )
    d = snap_a.join(
        snap_b, snap_a["ka"] == snap_b["kb"], "full_outer"
    ).select(
        F.coalesce("ka", "kb").alias("k"),
        F.expr(
            """CASE WHEN ka IS NULL THEN 'added'
                    WHEN kb IS NULL THEN 'removed'
                    WHEN ha <> hb THEN 'changed'
                    ELSE 'unchanged' END"""
        ).alias("change_type"),
    )
    return (
        d.groupBy("change_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("k").cast("bigint").alias("min_key"),
            F.max("k").cast("bigint").alias("max_key"),
        )
        .orderBy("change_type")
    )


@query(
    "skyline_price_size",
    oracle="""
    WITH pts AS (
      SELECT p_size,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c
      FROM part
    ),
    cand AS (
      SELECT p_size, MIN(price_c) AS price_c FROM pts GROUP BY p_size
    ),
    cnt AS (
      SELECT a.p_size, a.price_c,
             COUNT(*) AS n_parts
      FROM cand a JOIN pts t
        ON t.p_size = a.p_size AND t.price_c = a.price_c
      GROUP BY a.p_size, a.price_c
    )
    SELECT CAST(c.p_size AS INT) AS p_size,
           c.price_c AS min_price_cents,
           CAST(c.n_parts AS BIGINT) AS n_parts_at_point
    FROM cnt c
    WHERE NOT EXISTS (
      SELECT 1 FROM pts d
      WHERE d.p_size <= c.p_size AND d.price_c <= c.price_c
        AND (d.p_size < c.p_size OR d.price_c < c.price_c)
    )
    ORDER BY p_size
    """,
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto-frontier) operator: the parts no other part
    weakly dominates on (price, size) with both lower-is-better — the
    classic multi-criteria shortlist query Spark has no native
    operator for. Distributed shape: collapse the corpus to ONE
    candidate per distinct size (min price + tie count: a partial
    hash aggregate, the only full-data pass), then resolve dominance
    on the tiny candidate set with a broadcast anti theta-join
    (candidates number at most |distinct sizes| — bounded, so the
    non-equi join is a broadcast BNLJ over dozens of rows, never the
    corpus). The oracle uses the textbook NOT EXISTS dominance
    definition over ALL points — an independent formulation of the
    same frontier. Money is rounded to cents BIGINT before any
    comparison (engine-exact)."""
    p = _t(spark, sf_dir, "part").select(
        F.col("p_size").cast("int").alias("p_size"),
        F.expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)").alias(
            "price_c"
        ),
    )
    # one candidate point per size: min price + how many parts sit on it
    per_point = p.groupBy("p_size", "price_c").agg(
        F.count("*").cast("bigint").alias("n_parts")
    )
    cand = per_point.groupBy("p_size").agg(
        F.min(F.struct("price_c", "n_parts")).alias("m")
    ).select("p_size", F.col("m.price_c").alias("price_c"),
             F.col("m.n_parts").alias("n_parts"))
    dom = cand.select(
        F.col("p_size").alias("d_size"), F.col("price_c").alias("d_price")
    )
    frontier = cand.join(
        F.broadcast(dom),
        (F.col("d_size") < F.col("p_size"))
        & (F.col("d_price") <= F.col("price_c")),
        "left_anti",
    )
    return frontier.select(
        "p_size",
        F.col("price_c").alias("min_price_cents"),
        F.col("n_parts").alias("n_parts_at_point"),
    ).orderBy("p_size")


@query(
    "weighted_median_price_by_flag",
    oracle="""
    WITH li AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(ROUND(l_quantity) AS BIGINT) AS w
      FROM lineitem
    ),
    grp AS (
      SELECT flag, cents, SUM(w) AS w FROM li GROUP BY flag, cents
    ),
    cum AS (
      SELECT flag, cents, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY cents) AS cw,
             SUM(w) OVER (PARTITION BY flag) AS tot
      FROM grp
    )
    SELECT flag,
           CAST(MIN(cents) FILTER (WHERE 2 * cw >= tot) AS BIGINT)
             AS wmedian_cents,
           CAST(MAX(tot) AS BIGINT) AS total_weight
    FROM cum
    GROUP BY flag
    ORDER BY flag
    """,
)
def weighted_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median (lower weighted-median convention:
    smallest value whose cumulative weight reaches half the total)
    of extended price weighted by quantity, per return flag — the
    weighted-quantile operator percentile() cannot express. Fully
    distributed: collapse to one row per (flag, cents) first (partial
    agg), then the distributed-rank operator's cumulative sums
    (``with_global_rank``: bin counts + PARTITIONED windows — no
    single-reducer sort) give each distinct value its running weight;
    the per-flag totals broadcast back for the half-crossing pick.
    Prices are rounded once to cents BIGINT and weights to integer
    units, so every comparison is integer-exact on both engines."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias(
            "cents"
        ),
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("w"),
    )
    grp = li.groupBy("flag", "cents").agg(F.sum("w").alias("w"))
    ranked = with_global_rank(
        grp,
        "cents",
        keys=["flag"],
        out_rank="__rn",
        cumsum={"w": "cw"},
        acc_type="BIGINT",
        bins=64,
    )
    tot = grp.groupBy("flag").agg(F.sum("w").alias("tot"))
    return (
        ranked.join(F.broadcast(tot), "flag")
        .filter(2 * F.col("cw") >= F.col("tot"))
        .groupBy("flag")
        .agg(
            F.min("cents").cast("bigint").alias("wmedian_cents"),
            F.max("tot").cast("bigint").alias("total_weight"),
        )
        .orderBy("flag")
    )


@query(
    "mann_whitney_priority",
    oracle="""
    WITH o AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS g1
      FROM orders
    ),
    grp AS (
      SELECT cents,
             CAST(SUM(g1) AS BIGINT) AS n1v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM o GROUP BY cents
    ),
    cum AS (
      SELECT cents, n1v, cnt,
             SUM(cnt) OVER (ORDER BY cents) AS cw
      FROM grp
    ),
    s AS (
      SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
             CAST(SUM(cnt - n1v) AS BIGINT) AS n2,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(n1v * (2 * cw - cnt + 1)) AS BIGINT) AS r1_x2,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_cubes
      FROM cum
    )
    SELECT n1, n2,
           r1_x2 - n1 * (n1 + 1) AS u1_x2,
           tie_cubes,
           CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
             CAST(FLOOR(
               (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
               / (2.0 * sqrt(
                   (CAST(n1 AS DOUBLE) * n2 / 12.0)
                   * ((n + 1.0)
                      - CAST(tie_cubes AS DOUBLE)
                        / (CAST(n AS DOUBLE) * (n - 1.0)))))
               * 1e6 + 0.5) AS BIGINT)
           END AS z_e6
    FROM s
    """,
)
def mann_whitney_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: are URGENT orders
    priced from the same distribution as the rest? The nonparametric
    two-sample member of the statistics family — it needs exact
    GLOBAL ranks with tie-averaging, which is exactly what the
    distributed-rank operator provides without a single-reducer sort
    (bin counts + partitioned windows). All rank arithmetic stays in
    integers: tied values share average rank, carried DOUBLED
    (2*avg_rank = 2*cum_before + cnt + 1), so the rank sum, the U
    statistic, and the tie-correction term Σ(t³−t) are exact BIGINTs
    on both engines; the normal-approximation z uses ONE identical
    double expression tree (single sqrt — correctly rounded IEEE op)
    rounded once to an e6 BIGINT. Scale: one hash aggregate to
    distinct prices, rank machinery over the distinct set, one final
    fold — no shuffle carries more than the distinct-value table."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        ).alias("g1"),
    )
    grp = o.groupBy("cents").agg(
        F.sum("g1").cast("bigint").alias("n1v"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    cum = with_global_rank(
        grp, "cents", out_rank="__rn", cumsum={"cnt": "cw"},
        acc_type="BIGINT", bins=64,
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    )
    s = cum.agg(
        F.sum("n1v").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("n1v")).cast("bigint").alias("n2"),
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("n1v") * (2 * F.col("cw") - F.col("cnt") + 1))
        .cast("bigint")
        .alias("r1_x2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("bigint")
        .alias("tie_cubes"),
    )
    return s.select(
        "n1",
        "n2",
        (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).alias("u1_x2"),
        "tie_cubes",
        F.expr(
            """CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
                 CAST(FLOOR(
                   (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
                   / (2.0 * sqrt(
                       (CAST(n1 AS DOUBLE) * n2 / 12.0)
                       * ((n + 1.0)
                          - CAST(tie_cubes AS DOUBLE)
                            / (CAST(n AS DOUBLE) * (n - 1.0)))))
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("z_e6"),
    )


# identical double expression tree on BOTH engines (only +,*,/,sqrt —
# correctly-rounded IEEE ops over integer-derived values), rounded
# ONCE to e6; z and z^2 enter as the same decimal literals
_WILSON_SQL = """
    CAST(FLOOR(
      ((CAST(k AS DOUBLE) + 3.8416 / 2.0) / (CAST(n AS DOUBLE) + 3.8416)
       {sign} (1.96 * sqrt(CAST(k AS DOUBLE) * (n - k) / n + 3.8416 / 4.0))
              / (CAST(n AS DOUBLE) + 3.8416))
      * 1e6 + 0.5) AS BIGINT)
"""


@query(
    "wilson_ci_urgent_rate",
    oracle=f"""
    WITH s AS (
      SELECT c.c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    )
    SELECT segment, n, k,
           {_WILSON_SQL.format(sign='-')} AS wilson_lo_e6,
           {_WILSON_SQL.format(sign='+')} AS wilson_hi_e6
    FROM s
    ORDER BY segment
    """,
)
def wilson_ci_urgent_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for the urgent-order rate
    per market segment — the interval a dashboard should use instead
    of the normal approximation (it never leaves [0,1] and behaves at
    small n / extreme rates). One broadcast dim join + one hash
    aggregate produce exact integer (n, k) per segment; the bounds are
    ONE identical double expression tree on both engines (+, *, /,
    sqrt only — each correctly rounded, so identical inputs give
    bit-identical doubles) rounded once to e6 BIGINTs. Scale: the
    aggregate collapses to |segments| rows before any float math."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.expr(
                    "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    return s.select(
        "segment",
        "n",
        "k",
        F.expr(_WILSON_SQL.format(sign="-")).alias("wilson_lo_e6"),
        F.expr(_WILSON_SQL.format(sign="+")).alias("wilson_hi_e6"),
    ).orderBy("segment")


_SPEARMAN_RHO_SQL = """
    CASE WHEN n > 1 THEN
      CAST(FLOOR(
        (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / NULLIF(
            sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy),
            0.0)
        * 1e6 + 0.5) AS BIGINT)
    END
"""


@query(
    "spearman_qty_price",
    oracle=f"""
    WITH li AS (
      SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    xg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY x),
    xr AS (
      SELECT x, 2 * SUM(cnt) OVER (ORDER BY x) - cnt + 1 AS r2x FROM xg
    ),
    yg AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY y),
    yr AS (
      SELECT y, 2 * SUM(cnt) OVER (ORDER BY y) - cnt + 1 AS r2y FROM yg
    ),
    rows_r AS (
      SELECT CAST(xr.r2x AS HUGEINT) AS rx, CAST(yr.r2y AS HUGEINT) AS ry
      FROM li JOIN xr ON li.x = xr.x JOIN yr ON li.y = yr.y
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
             SUM(rx * ry) AS sxy
      FROM rows_r
    )
    SELECT n, {_SPEARMAN_RHO_SQL} AS rho_e6 FROM s
    """,
)
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    — the nonparametric sibling of `corr_matrix_lineitem`'s Pearson
    cells, robust to monotone transforms and outliers. Tie-averaged
    ranks are carried DOUBLED (2*avg_rank = 2*cum_before + cnt + 1 —
    exact integers), each row gets its rank pair through two
    value-level joins against the distinct-value rank maps (built by
    the distributed-rank operator: bin counts + partitioned windows,
    no single-reducer sort), and the Pearson formula runs over exact
    DECIMAL moment sums with ONE identical double tree (two sqrts)
    rounded once to e6. Scale: the rank maps are |distinct values|
    rows; the only full-data shuffle is the value-keyed rank join."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("x"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("y"),
    )

    def rank_map(col: str, out: str) -> DataFrame:
        g = li.groupBy(col).agg(F.count("*").cast("bigint").alias("cnt"))
        r = with_global_rank(
            g, col, out_rank="__rn", cumsum={"cnt": "cw"},
            acc_type="BIGINT", bins=64,
        )
        return r.select(
            col,
            (2 * F.col("cw") - F.col("cnt") + 1).alias(out),
        )

    rows = (
        li.join(F.broadcast(rank_map("x", "r2x")), "x")
        .join(rank_map("y", "r2y"), "y")
        .select(
            F.col("r2x").cast("decimal(38,0)").alias("rx"),
            F.col("r2y").cast("decimal(38,0)").alias("ry"),
        )
    )
    s = rows.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    return s.select("n", F.expr(_SPEARMAN_RHO_SQL).alias("rho_e6"))


@query(
    "theil_sen_daily_revenue",
    oracle=f"""
    WITH {_DAYS_CTE},
    slopes AS (
      SELECT CAST(b.rev_c - a.rev_c AS DOUBLE) / (b.di - a.di) AS slope
      FROM days a JOIN days b ON b.di > a.di
    ),
    ranked AS (
      SELECT slope,
             ROW_NUMBER() OVER (ORDER BY slope) AS rn,
             COUNT(*) OVER () AS m
      FROM slopes
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM days) AS n_days,
           CAST(m AS BIGINT) AS n_pairs,
           CAST(FLOOR(slope * 1e6 + 0.5) AS BIGINT) AS slope_e6_cents_per_day
    FROM ranked
    WHERE rn = (m + 1) // 2
    """,
)
def theil_sen_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of the daily-revenue trend: the (lower)
    median of all pairwise day-to-day slopes — the robust regression
    line the OLS fit (`regression_by_nation`) is not, immune to
    outlier days. The quadratic pair enumeration runs over |days|²
    via a broadcast theta-join (~3M pairs here); each slope is ONE
    division of exact integer diffs (identical doubles on both
    engines), and the median is picked by exact rank-SELECT
    (`values_at_global_ranks` — bin counts + in-target-bin
    refinement), not a single-reducer sort and not a full distributed
    rank: only the median position is consumed, so ranking every
    slope (a full shuffle + per-bin sort per rank pass) was wasted
    work — m is n(n-1)/2 from the day count, and no pass shuffles
    more than the per-bin count table + the target-bin subset
    (measured r13: 8.4 -> ~2.5 s at sf0.1, guide §2.3/§2.4).
    Rounded once to e6 after selection."""
    from local_stream_stack_spark.operators.quantiles import (
        values_at_global_ranks,
    )

    # pinned: the day table feeds both theta-join sides plus n_days,
    # and every rank pass over the lazy slope relation re-derives it
    days = _daily_revenue(spark, sf_dir, pin="spread")
    a = days.select(F.col("di").alias("dia"), F.col("rev_c").alias("ra"))
    b = days.select(F.col("di").alias("dib"), F.col("rev_c").alias("rb"))
    slopes = (
        a.join(F.broadcast(b), F.col("dib") > F.col("dia"))
        .select(
            (
                (F.col("rb") - F.col("ra")).cast("double")
                / (F.col("dib") - F.col("dia"))
            ).alias("slope"),
        )
    )
    ranks = days.agg(F.count("*").cast("bigint").alias("n_days")).select(
        "n_days",
        F.expr("n_days * (n_days - 1) div 2").cast("bigint").alias("__m"),
        F.expr("(n_days * (n_days - 1) div 2 + 1) div 2")
        .cast("bigint")
        .alias("__r1"),
    )
    # pass-0 bounds in closed form from the tiny day table (the
    # extreme pairwise slope is an ADJACENT-pair slope), so the pair
    # stream executes for bin counts + target-bin refinement only:
    # 3 full pair passes -> 2 (guide §2.4)
    ext = _adjacent_slope_ext(
        days, "CAST(x.rev_c - a.pr AS DOUBLE) / (x.di - a.pd)"
    )
    med = values_at_global_ranks(
        slopes, "slope", ranks, ["__r1"], ["__v1"], ext_df=ext,
        pin_result=False,
    )
    # rank 0 (no pairs: 0 or 1 days) selects nothing -> NULL -> no row,
    # matching the oracle's empty result from an empty `ranked` CTE
    return med.filter(F.col("__v1").isNotNull()).select(
        "n_days",
        F.col("__m").cast("bigint").alias("n_pairs"),
        F.expr(
            "CAST(FLOOR(__v1 * 1e6 + 0.5) AS BIGINT)"
        ).alias("slope_e6_cents_per_day"),
    )


@query(
    "pettitt_changepoint_daily",
    oracle=f"""
    WITH {_DAYS_CTE},
    vals AS (
      SELECT rev_c, CAST(COUNT(*) AS BIGINT) AS cnt FROM days GROUP BY rev_c
    ),
    r2map AS (
      SELECT rev_c, 2 * SUM(cnt) OVER (ORDER BY rev_c) - cnt + 1 AS r2
      FROM vals
    ),
    ordered AS (
      SELECT d.di,
             ROW_NUMBER() OVER (ORDER BY d.di) AS t,
             SUM(m.r2) OVER (ORDER BY d.di) AS s2,
             COUNT(*) OVER () AS n
      FROM days d JOIN r2map m ON d.rev_c = m.rev_c
    ),
    u AS (
      SELECT di, t, n, s2 - t * (n + 1) AS ut
      FROM ordered WHERE t < n
    ),
    k AS (SELECT MAX(abs(ut)) AS kstat, MAX(n) AS n FROM u)
    SELECT CAST(k.n AS BIGINT) AS n_days,
           CAST(k.kstat AS BIGINT) AS k_stat,
           CAST(MIN(u.di) AS BIGINT) AS cp_day,
           CAST(CAST(6 AS HUGEINT) * k.kstat * k.kstat * 1000000
                // NULLIF(CAST(k.n AS HUGEINT) * k.n * k.n
                          + CAST(k.n AS HUGEINT) * k.n, 0) AS BIGINT)
             AS p_exponent_e6
    FROM u JOIN k ON abs(u.ut) = k.kstat
    GROUP BY k.n, k.kstat
    """,
)
def pettitt_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based changepoint test on daily revenue — the
    nonparametric partner of `cusum_changepoint_revenue` (CUSUM needs
    a mean shift in LEVEL; Pettitt detects any distributional shift
    and is outlier-robust because it sees only ranks). With doubled
    tie-average ranks the statistic is exact integers end to end:
    U_t = Σ_{i<=t} R2_i − t(n+1), K = max|U_t|, changepoint = the
    earliest day attaining K; the significance exponent
    6K²/(n³+n²) is emitted e6-scaled through the overflow-safe
    HUGEINT/DECIMAL division idiom instead of exp() (not
    cross-engine-stable). Scale: rank map over distinct values, ONE
    distributed cumulative sum (with_global_rank — no single-reducer
    sort), bounded finals."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    days = _daily_revenue(spark, sf_dir)
    vals = days.groupBy("rev_c").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    r2map = with_global_rank(
        vals, "rev_c", out_rank="__rn", cumsum={"cnt": "cw"},
        acc_type="BIGINT", bins=64,
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    ).select("rev_c", (2 * F.col("cw") - F.col("cnt") + 1).alias("r2"))
    ordered = with_global_rank(
        days.join(r2map, "rev_c"),
        "di",
        out_rank="t",
        cumsum={"r2": "s2"},
        acc_type="BIGINT",
        total_col="n",
        bins=64,
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    )
    u = ordered.filter(F.col("t") < F.col("n")).select(
        "di", (F.col("s2") - F.col("t") * (F.col("n") + 1)).alias("ut")
    )
    k = ordered.filter(F.col("t") < F.col("n")).agg(
        F.max(F.abs(F.col("s2") - F.col("t") * (F.col("n") + 1))).alias(
            "kstat"
        ),
        F.max("n").alias("n"),
    )
    return (
        u.join(F.broadcast(k), F.abs(F.col("ut")) == F.col("kstat"))
        .groupBy("n", "kstat")
        .agg(F.min("di").cast("bigint").alias("cp_day"))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.col("kstat").cast("bigint").alias("k_stat"),
            "cp_day",
            F.expr(
                "CAST(CAST(6 AS DECIMAL(38,0)) * kstat * kstat * 1000000"
                " div NULLIF(CAST(n AS DECIMAL(38,0)) * n * n"
                "            + CAST(n AS DECIMAL(38,0)) * n, 0) AS BIGINT)"
            ).alias("p_exponent_e6"),
        )
    )


@query(
    "ks_test_urgent_price",
    oracle="""
    WITH o AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      FROM orders
    ),
    grp AS (
      SELECT cents,
             CAST(SUM(g1) AS BIGINT) AS c1,
             CAST(SUM(1 - g1) AS BIGINT) AS c2
      FROM o GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             SUM(c1) OVER (ORDER BY cents) AS f1,
             SUM(c2) OVER (ORDER BY cents) AS f2
      FROM grp
    ),
    tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM grp
    ),
    d AS (
      SELECT MAX(abs(f1 * t.n2 - f2 * t.n1)) AS d_cross
      FROM cum CROSS JOIN tot t
    )
    SELECT t.n1, t.n2,
           CAST(d.d_cross AS BIGINT) AS d_cross,
           CAST(CAST(d.d_cross AS HUGEINT) * 1000000
                // NULLIF(CAST(t.n1 AS HUGEINT) * t.n2, 0) AS BIGINT)
             AS d_e6
    FROM d CROSS JOIN tot t
    """,
)
def ks_test_urgent_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between URGENT and
    non-urgent order prices — the distribution-shape partner of the
    rank-location Mann-Whitney test, computed WITHOUT floats: the sup
    gap |F1(x) − F2(x)| is maximized over the cross-multiplied
    integers |f1·n2 − f2·n1| (exact at any scale), and only the final
    D is scaled to e6 through the overflow-safe HUGEINT/DECIMAL
    division idiom. Cumulative counts per distinct value come from
    the distributed-rank operator (bin counts + partitioned windows),
    so no single-reducer sort anywhere. Scale: one hash aggregate to
    distinct prices, rank machinery over the distinct set, one max."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        ).alias("g1"),
    )
    grp = o.groupBy("cents").agg(
        F.sum("g1").cast("bigint").alias("c1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("c2"),
    )
    cum = with_global_rank(
        grp, "cents", out_rank="__rn",
        cumsum={"c1": "f1", "c2": "f2"}, acc_type="BIGINT", bins=64,
    )
    tot = grp.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
            ).alias("d_cross")
        )
    )
    return d.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        F.col("d_cross").cast("bigint").alias("d_cross"),
        F.expr(
            "CAST(CAST(d_cross AS DECIMAL(38,0)) * 1000000"
            " div NULLIF(CAST(n1 AS DECIMAL(38,0)) * n2, 0) AS BIGINT)"
        ).alias("d_e6"),
    )


@query(
    "psi_price_drift_by_segment",
    oracle="""
    WITH o AS (
      SELECT c.c_mktsegment AS segment,
             length(bin(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))) - 1
               AS b
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT segment, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM o GROUP BY segment, b
    ),
    bins AS (SELECT DISTINCT b FROM cells),
    segs AS (
      SELECT segment, CAST(SUM(c) AS BIGINT) AS na FROM cells GROUP BY segment
    ),
    btot AS (SELECT b, CAST(SUM(c) AS BIGINT) AS ct FROM cells GROUP BY b),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbins FROM bins),
    grid AS (
      SELECT s.segment, bb.b, s.na,
             COALESCE(cl.c, 0) AS ca,
             bt.ct - COALESCE(cl.c, 0) AS cb,
             t.n - s.na AS nrest, nb.nbins
      FROM segs s
      CROSS JOIN bins bb
      LEFT JOIN cells cl ON cl.segment = s.segment AND cl.b = bb.b
      JOIN btot bt ON bt.b = bb.b
      CROSS JOIN tot t CROSS JOIN nb
    ),
    terms AS (
      SELECT segment, na, nrest, nbins,
             CAST((ca + 1) * (nrest + nbins)
                  - (cb + 1) * (na + nbins) AS HUGEINT) AS diff_cross,
             CAST(ROUND(ln(
               (CAST(ca + 1 AS DOUBLE) * (nrest + nbins))
               / (CAST(cb + 1 AS DOUBLE) * (na + nbins))) * 1000000)
               AS BIGINT) AS t_e6
      FROM grid
    )
    SELECT segment,
           CAST(MAX(na) AS BIGINT) AS n_segment,
           CAST(SUM(diff_cross * t_e6)
                // NULLIF(CAST(MAX(na + nbins) AS HUGEINT)
                          * MAX(nrest + nbins), 0) AS BIGINT) AS psi_e6
    FROM terms
    GROUP BY segment
    ORDER BY segment
    """,
)
def psi_price_drift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-price distribution per
    market segment vs the rest of the book — the standard ML-ops
    drift metric (PSI > 0.2 = the segment no longer prices like the
    population). Bins are the exact integer log2 ladder
    (``length(bin(cents)) - 1`` — identical on both engines, no float
    log); cells get add-one smoothing so empty bins stay finite.
    Determinism recipe: the per-bin ln(pa/pb) is computed over
    cross-multiplied exact integers and rounded ONCE to e6; the
    (pa − pb) factor stays a cross-multiplied exact integer; the one
    final division is the overflow-safe DECIMAL/HUGEINT idiom. Scale:
    one broadcast dim join + one hash aggregate to the (segment, bin)
    grid; everything after is broadcast-sized."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.expr(
                "length(bin(CAST(ROUND(o_totalprice * 100) AS BIGINT))) - 1"
            ).alias("b"),
        )
        .groupBy("segment", "b")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    bins = cells.select("b").distinct()
    segs = cells.groupBy("segment").agg(
        F.sum("c").cast("bigint").alias("na")
    )
    btot = cells.groupBy("b").agg(F.sum("c").cast("bigint").alias("ct"))
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    nb = bins.agg(F.count("*").cast("bigint").alias("nbins"))
    grid = (
        segs.crossJoin(F.broadcast(bins))
        .join(cells, ["segment", "b"], "left")
        .join(F.broadcast(btot), "b")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nb))
        .select(
            "segment",
            "na",
            "nbins",
            F.coalesce(F.col("c"), F.lit(0)).alias("ca"),
            (F.col("ct") - F.coalesce(F.col("c"), F.lit(0))).alias("cb"),
            (F.col("n") - F.col("na")).alias("nrest"),
        )
    )
    terms = grid.select(
        "segment",
        "na",
        "nrest",
        "nbins",
        F.expr(
            "CAST((ca + 1) * (nrest + nbins)"
            " - (cb + 1) * (na + nbins) AS DECIMAL(38,0))"
        ).alias("diff_cross"),
        F.expr(
            "CAST(ROUND(ln("
            "(CAST(ca + 1 AS DOUBLE) * (nrest + nbins))"
            " / (CAST(cb + 1 AS DOUBLE) * (na + nbins))) * 1000000)"
            " AS BIGINT)"
        ).alias("t_e6"),
    )
    return (
        terms.groupBy("segment")
        .agg(
            F.max("na").cast("bigint").alias("n_segment"),
            F.expr(
                "CAST(SUM(diff_cross * t_e6)"
                " div NULLIF(CAST(MAX(na + nbins) AS DECIMAL(38,0))"
                "            * MAX(nrest + nbins), 0) AS BIGINT)"
            ).alias("psi_e6"),
        )
        .orderBy("segment")
    )


@query(
    "wasserstein_price_urgent",
    oracle="""
    WITH o AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      FROM orders
    ),
    grp AS (
      SELECT cents,
             CAST(SUM(g1) AS BIGINT) AS c1,
             CAST(SUM(1 - g1) AS BIGINT) AS c2
      FROM o GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents) AS rn,
             SUM(c1) OVER (ORDER BY cents) AS f1,
             SUM(c2) OVER (ORDER BY cents) AS f2
      FROM grp
    ),
    segs AS (
      SELECT a.f1, a.f2, b.cents - a.cents AS gap
      FROM cum a JOIN cum b ON b.rn = a.rn + 1
    ),
    tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM grp
    )
    SELECT t.n1, t.n2,
           CAST(SUM(CAST(abs(s.f1 * t.n2 - s.f2 * t.n1) AS HUGEINT) * s.gap)
                // NULLIF(CAST(t.n1 AS HUGEINT) * t.n2, 0) AS BIGINT)
             AS w1_cents
    FROM segs s CROSS JOIN tot t
    GROUP BY t.n1, t.n2
    """,
)
def wasserstein_price_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between URGENT and
    non-urgent price distributions — the MAGNITUDE partner of the KS
    sup-gap (KS says the CDFs differ somewhere; W1 integrates HOW
    much, in cents). In 1-D the integral of |F1 − F2| is exact
    integer arithmetic: per consecutive distinct value, the
    cross-multiplied gap |f1·n2 − f2·n1| times the value step, summed
    in DECIMAL/HUGEINT and divided once. The next-value step comes
    from a rank+1 self-join over the distinct-value table (the LAG =
    rank + offset idiom — never an unpartitioned window on the
    engine side; ranks from the distributed-rank operator). Scale:
    one hash aggregate to distinct prices, rank machinery, one
    rank-keyed self-join on the distinct set."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        ).alias("g1"),
    )
    grp = o.groupBy("cents").agg(
        F.sum("g1").cast("bigint").alias("c1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("c2"),
    )
    cum = with_global_rank(
        grp, "cents", out_rank="rn",
        cumsum={"c1": "f1", "c2": "f2"}, acc_type="BIGINT", bins=64,
    )
    nxt = cum.select(
        (F.col("rn") - 1).alias("rn"), F.col("cents").alias("next_cents")
    )
    segs = cum.join(nxt, "rn").select(
        "f1", "f2", (F.col("next_cents") - F.col("cents")).alias("gap")
    )
    tot = grp.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    return (
        segs.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.expr(
                "CAST(SUM(CAST(abs(f1 * n2 - f2 * n1) AS DECIMAL(38,0))"
                " * gap)"
                " div NULLIF(CAST(n1 AS DECIMAL(38,0)) * n2, 0) AS BIGINT)"
            ).alias("w1_cents")
        )
    )


@query(
    "anova_f_segments",
    oracle="""
    WITH o AS (
      SELECT c.c_mktsegment AS segment,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS HUGEINT) AS s,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS ss
      FROM o GROUP BY segment
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(s) AS HUGEINT) AS st,
             CAST(SUM(ss) AS HUGEINT) AS sst
      FROM g
    ),
    parts AS (
      -- each per-group s^2/n is rounded ONCE to an exact integer and
      -- summed in HUGEINT, so the k-term sum is order-independent
      -- (summing raw doubles would drift with partition order)
      SELECT t.nn, t.k,
             CAST(SUM(CAST(ROUND(CAST(g.s AS DOUBLE) * g.s / g.n)
                           AS HUGEINT)) AS DOUBLE)
               - CAST(t.st AS DOUBLE) * t.st / t.nn AS ssb,
             CAST(t.sst AS DOUBLE)
               - CAST(SUM(CAST(ROUND(CAST(g.s AS DOUBLE) * g.s / g.n)
                             AS HUGEINT)) AS DOUBLE) AS ssw
      FROM g CROSS JOIN tot t
      GROUP BY t.nn, t.k, t.st, t.sst
    )
    SELECT nn AS n_rows, k AS n_groups,
           CASE WHEN k > 1 AND nn > k THEN
             CAST(FLOOR(
               (ssb / (k - 1.0)) / NULLIF(ssw / (nn - CAST(k AS DOUBLE)), 0.0)
               * 1e6 + 0.5) AS BIGINT)
           END AS f_stat_e6
    FROM parts
    """,
)
def anova_f_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic: does mean order value differ across
    market segments? The parametric k-group member of the statistics
    family (Welch-t handles two groups; Mann-Whitney/KS are
    nonparametric). Per-group (n, Σx, Σx²) are EXACT integer moment
    sums over cents (DECIMAL/HUGEINT so 100 TB cannot overflow);
    between/within sums of squares and the F ratio are ONE identical
    double expression tree over those integers (only +,*,/ — each
    correctly rounded), rounded once to e6. Scale: one broadcast dim
    join + one partial-agg groupBy to |segments| rows; everything
    after is constant-size."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    g = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
            F.sum(
                F.col("cents").cast("decimal(38,0)") * F.col("cents")
            ).alias("ss"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("s").cast("decimal(38,0)").alias("st"),
        F.sum("ss").cast("decimal(38,0)").alias("sst"),
    )
    parts = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("nn", "k", "st", "sst")
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n)"
                " AS DECIMAL(38,0))) AS DOUBLE)"
                " - CAST(st AS DOUBLE) * st / nn"
            ).alias("ssb"),
            F.expr(
                "CAST(sst AS DOUBLE)"
                " - CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n)"
                " AS DECIMAL(38,0))) AS DOUBLE)"
            ).alias("ssw"),
        )
    )
    return parts.select(
        F.col("nn").alias("n_rows"),
        F.col("k").alias("n_groups"),
        F.expr(
            """CASE WHEN k > 1 AND nn > k THEN
                 CAST(FLOOR(
                   (ssb / (k - 1.0))
                   / NULLIF(ssw / (nn - CAST(k AS DOUBLE)), 0.0)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("f_stat_e6"),
    )


@query(
    "conformal_forecast_intervals",
    oracle=f"""
    WITH {_DAYS_CTE},
    resid AS (
      SELECT a.di, abs(a.rev_c - b.rev_c) AS ar,
             CAST(('0x' || substr(md5(CAST(a.di AS VARCHAR)), 1, 4))
                  AS INT) % 100 < 50 AS is_calib
      FROM days a JOIN days b ON b.di = a.di - 7
    ),
    calib AS (SELECT ar FROM resid WHERE is_calib),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_calib FROM calib),
    qhat AS (
      SELECT MIN(ar) AS q_hat FROM (
        SELECT ar, ROW_NUMBER() OVER (ORDER BY ar) AS rn
        FROM calib
      ) r CROSS JOIN nc
      WHERE rn >= CAST(ceil(0.9 * n_calib) AS BIGINT)
    ),
    test AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN r.ar <= q.q_hat THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered
      FROM resid r CROSS JOIN qhat q
      WHERE NOT r.is_calib
    )
    SELECT nc.n_calib, q.q_hat AS q_hat_cents, t.n_test, t.n_covered,
           CAST(CAST(t.n_covered AS HUGEINT) * 1000000
                // NULLIF(CAST(t.n_test AS HUGEINT), 0) AS BIGINT)
             AS coverage_e6
    FROM nc CROSS JOIN qhat q CROSS JOIN test t
    """,
)
def conformal_forecast_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the seasonal-naive
    daily-revenue forecast: the 90th-percentile absolute residual on a
    hash-held-out calibration half becomes the distribution-free
    interval half-width, and the empirical coverage on the test half
    audits it — the model-agnostic uncertainty recipe a forecasting
    pipeline should publish instead of Gaussian bands. Everything is
    integer-exact: residuals are cent differences, the calibration
    split is the deterministic md5-bucket idiom, q_hat is an exact
    order statistic (rank-selected via the distributed-rank operator,
    never a single-reducer sort), and coverage uses the overflow-safe
    division idiom."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    days = _daily_revenue(spark, sf_dir)
    prev = days.select(
        (F.col("di") + 7).alias("di"), F.col("rev_c").alias("prev_c")
    )
    resid = days.join(prev, "di").select(
        "di",
        F.abs(F.col("rev_c") - F.col("prev_c")).alias("ar"),
        F.expr(
            "CAST(CONV(SUBSTRING(md5(CAST(di AS STRING)), 1, 4), 16, 10)"
            " AS INT) % 100 < 50"
        ).alias("is_calib"),
    )
    calib = resid.filter("is_calib").select("ar", "di")
    # nc/qhat/test mirror the oracle's CTE shape EXACTLY: each is a
    # one-row aggregate, composed at the end by 1x1 cross joins.
    # (Previously n_calib/q_hat rode THROUGH the test aggregate's
    # cross join, so an empty test half collapsed them to NULL while
    # the oracle kept them — an edge the hypothesis pin caught.)
    nc = calib.agg(F.count("*").cast("bigint").alias("n_calib"))
    ranked = with_global_rank(
        calib, "ar", tiebreak_cols=["di"], out_rank="rn",
        total_col="n_calib", bins=64,
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    )
    qhat = (
        ranked.filter(
            F.col("rn")
            >= F.expr("CAST(ceil(0.9 * n_calib) AS BIGINT)")
        )
        .agg(F.min("ar").alias("q_hat"))
    )
    test = (
        resid.filter(~F.col("is_calib"))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(
                F.expr("CASE WHEN ar <= q_hat THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return (
        nc.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(test))
        .select(
            "n_calib",
            F.col("q_hat").alias("q_hat_cents"),
            "n_test",
            "n_covered",
            F.expr(
                "CAST(CAST(n_covered AS DECIMAL(38,0)) * 1000000"
                " div NULLIF(n_test, 0) AS BIGINT)"
            ).alias("coverage_e6"),
        )
    )


@query(
    "friedman_test_segments",
    oracle=f"""
    WITH {_SEGMENT_BLOCKS_CTE},
    r AS (
      SELECT c.di, c.segment,
             CAST(2 * RANK() OVER (PARTITION BY c.di ORDER BY c.rev_c)
                  + COUNT(*) OVER (PARTITION BY c.di, c.rev_c) - 1
                  AS BIGINT) AS r2
      FROM cells c JOIN full_days f ON c.di = f.di
    ),
    rs AS (
      SELECT segment, CAST(SUM(r2) AS BIGINT) AS rank2_sum
      FROM r GROUP BY segment
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM full_days),
    sq AS (SELECT CAST(SUM(rank2_sum * rank2_sum) AS BIGINT) AS s2 FROM rs)
    SELECT rs.segment, rs.rank2_sum, t.n_days,
           CAST(FLOOR((3.0 * q.s2
                       / (CAST(t.n_days AS DOUBLE) * kk.k * (kk.k + 1))
                       - 3.0 * t.n_days * (kk.k + 1)) * 1e6 + 0.5)
                AS BIGINT) AS friedman_chi2_e6
    FROM rs CROSS JOIN tot t CROSS JOIN sq q CROSS JOIN kk
    ORDER BY rs.segment
    """,
)
def friedman_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: do the k market segments differ in daily
    revenue, treating each calendar day as a block? The k-related-
    samples NONPARAMETRIC member of the statistics family (ANOVA F is
    its parametric sibling; Mann-Whitney handles k=2 unblocked). Days
    missing any segment are dropped (complete blocks only); within a
    block the k revenues get doubled average ranks (2*rank + ties - 1
    — integer-exact, the house doubled-rank idiom) via PARTITIONED
    windows over k-row blocks; the chi-square is ONE double tree over
    the exact integer rank sums, rounded once to e6. Scale: one
    broadcast dim join + one hash aggregate to the (day, segment)
    grid; every window partition is exactly k rows."""
    cells, kk, full_days = _segment_blocks(spark, sf_dir)
    wd = Window.partitionBy("di").orderBy("rev_c")
    we = Window.partitionBy("di", "rev_c")
    r = (
        cells.join(full_days, "di")
        .select(
            "segment",
            (
                2 * F.rank().over(wd) + F.count("*").over(we) - 1
            ).cast("bigint").alias("r2"),
        )
    )
    rs = r.groupBy("segment").agg(
        F.sum("r2").cast("bigint").alias("rank2_sum")
    )
    tot = full_days.agg(F.count("*").cast("bigint").alias("n_days"))
    sq = rs.agg(
        F.sum(F.col("rank2_sum") * F.col("rank2_sum"))
        .cast("bigint")
        .alias("s2")
    )
    return (
        rs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(sq))
        .crossJoin(F.broadcast(kk))
        .select(
            "segment",
            "rank2_sum",
            "n_days",
            F.expr(
                "CAST(FLOOR((3.0 * s2"
                " / (CAST(n_days AS DOUBLE) * k * (k + 1))"
                " - 3.0 * n_days * (k + 1)) * 1e6 + 0.5) AS BIGINT)"
            ).alias("friedman_chi2_e6"),
        )
        .orderBy("segment")
    )


@query(
    "levene_brown_forsythe_segments",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS segment,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    vals AS (
      SELECT segment, cents, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base GROUP BY segment, cents
    ),
    cum AS (
      SELECT segment, cents, cnt,
             SUM(cnt) OVER (PARTITION BY segment ORDER BY cents) AS cw,
             SUM(cnt) OVER (PARTITION BY segment) AS n
      FROM vals
    ),
    med AS (
      SELECT segment,
             MIN(CASE WHEN cw >= (n + 1) // 2 THEN cents END)
               + MIN(CASE WHEN cw >= n // 2 + 1 THEN cents END) AS med2
      FROM cum GROUP BY segment
    ),
    z AS (
      SELECT b.segment, abs(2 * b.cents - m.med2) AS z
      FROM base b JOIN med m ON b.segment = m.segment
    ),
    g AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(z) AS HUGEINT) AS s,
             CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS ss
      FROM z GROUP BY segment
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(s) AS HUGEINT) AS st,
             CAST(SUM(ss) AS HUGEINT) AS sst
      FROM g
    ),
    parts AS (
      SELECT t.nn, t.k,
             CAST(SUM(CAST(ROUND(CAST(g.s AS DOUBLE) * g.s / g.n)
                           AS HUGEINT)) AS DOUBLE)
               - CAST(t.st AS DOUBLE) * t.st / t.nn AS ssb,
             CAST(t.sst AS DOUBLE)
               - CAST(SUM(CAST(ROUND(CAST(g.s AS DOUBLE) * g.s / g.n)
                             AS HUGEINT)) AS DOUBLE) AS ssw
      FROM g CROSS JOIN tot t
      GROUP BY t.nn, t.k, t.st, t.sst
    )
    SELECT nn AS n_rows, k AS n_groups,
           CASE WHEN k > 1 AND nn > k THEN
             CAST(FLOOR(
               (ssb / (k - 1.0)) / NULLIF(ssw / (nn - CAST(k AS DOUBLE)), 0.0)
               * 1e6 + 0.5) AS BIGINT)
           END AS bf_stat_e6
    FROM parts
    """,
)
def levene_brown_forsythe_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene's test with group MEDIANS): do the
    market segments differ in order-value SPREAD, not just location?
    The variance-homogeneity check that decides whether the plain
    ANOVA F (`anova_f_segments`) is trustworthy — exactly the audit a
    stats family should carry alongside the test itself. Per-group
    doubled medians come from the distributed-rank cumulative counts
    over DISTINCT cents values (never a per-group row sort); the
    absolute deviations |2x - med2| stay integers, and the one-way F
    over them reuses the exact-moment-sum recipe (per-group s²/n
    rounded once, one double tree, e6). Scale: two hash aggregates +
    a broadcast of k medians; rank stats track distinct values."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    vals = base.groupBy("segment", "cents").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    ranked = with_global_rank(
        vals,
        "cents",
        keys=["segment"],
        out_rank="__rn",
        cumsum={"cnt": "cw"},
        acc_type="BIGINT",
        bins=64,
    )
    ng = vals.groupBy("segment").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    med = (
        ranked.join(F.broadcast(ng), "segment")
        .groupBy("segment")
        .agg(
            (
                F.min(
                    F.expr(
                        "CASE WHEN cw >= (n + 1) div 2 THEN cents END"
                    )
                )
                + F.min(
                    F.expr(
                        "CASE WHEN cw >= n div 2 + 1 THEN cents END"
                    )
                )
            ).alias("med2")
        )
    )
    z = base.join(F.broadcast(med), "segment").select(
        "segment",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("z"),
    )
    g = z.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("z").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("s").cast("decimal(38,0)").alias("st"),
        F.sum("ss").cast("decimal(38,0)").alias("sst"),
    )
    parts = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("nn", "k", "st", "sst")
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n)"
                " AS DECIMAL(38,0))) AS DOUBLE)"
                " - CAST(st AS DOUBLE) * st / nn"
            ).alias("ssb"),
            F.expr(
                "CAST(sst AS DOUBLE)"
                " - CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n)"
                " AS DECIMAL(38,0))) AS DOUBLE)"
            ).alias("ssw"),
        )
    )
    return parts.select(
        F.col("nn").alias("n_rows"),
        F.col("k").alias("n_groups"),
        F.expr(
            """CASE WHEN k > 1 AND nn > k THEN
                 CAST(FLOOR(
                   (ssb / (k - 1.0))
                   / NULLIF(ssw / (nn - CAST(k AS DOUBLE)), 0.0)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("bf_stat_e6"),
    )


@query(
    "hodges_lehmann_urgent_shift",
    oracle=f"""
    WITH {_days_cte("xd", "o_orderpriority = '1-URGENT'")},
    {_days_cte("yd", "o_orderpriority <> '1-URGENT'")},
    vals AS (
      SELECT x.rev_c - y.rev_c AS d, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM xd x CROSS JOIN yd y
      GROUP BY 1
    ),
    cum AS (
      SELECT d, cnt,
             SUM(cnt) OVER (ORDER BY d) AS cw,
             SUM(cnt) OVER () AS m
      FROM vals
    ),
    med AS (
      SELECT CAST(MAX(m) AS BIGINT) AS n_pairs,
             MIN(CASE WHEN cw >= (m + 1) // 2 THEN d END)
               + MIN(CASE WHEN cw >= m // 2 + 1 THEN d END) AS med2
      FROM cum
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM xd) AS n_x,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM yd) AS n_y,
           n_pairs,
           CAST(med2 AS BIGINT) AS hl_shift2_cents
    FROM med
    """,
)
def hodges_lehmann_urgent_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location-shift estimator between urgent and
    non-urgent DAILY revenue: the median of all pairwise differences —
    the robust effect-size companion to the Mann-Whitney test (which
    only says WHETHER the distributions differ, not by how much).
    The quadratic pair stage is |days_x|*|days_y| via a broadcast
    nested-loop cross join; the doubled median (exact even-n
    averaging without leaving integers) is picked by exact
    rank-SELECT (`values_at_global_ranks` — bin counts +
    in-target-bin refinement): m = |days_x|*|days_y| is known from
    the two day counts, so only the two median positions are ever
    ranked — the old distinct-diff histogram got ~no compression
    (differences are near-distinct), so every rank pass re-shuffled
    ~|days_x|*|days_y| rows (measured r13: 7.1 -> ~2.4 s at sf0.1,
    guide §2.3/§2.4). Everything is integer cents end to end."""
    from local_stream_stack_spark.operators.quantiles import (
        values_at_global_ranks,
    )

    # xd streams through the cross join; yd only ever broadcasts
    xd = _daily_revenue(
        spark, sf_dir, "o_orderpriority = '1-URGENT'", pin="spread"
    )
    yd = _daily_revenue(
        spark, sf_dir, "o_orderpriority <> '1-URGENT'", pin="plain"
    )
    diffs = (
        xd.select(F.col("rev_c").alias("xr"))
        .crossJoin(F.broadcast(yd.select(F.col("rev_c").alias("yr"))))
        .select((F.col("xr") - F.col("yr")).alias("d"))
    )
    nx = xd.agg(F.count("*").cast("bigint").alias("n_x"))
    ny = yd.agg(F.count("*").cast("bigint").alias("n_y"))
    ranks = nx.crossJoin(F.broadcast(ny)).select(
        "n_x",
        "n_y",
        F.expr("n_x * n_y").cast("bigint").alias("__m"),
        F.expr("(n_x * n_y + 1) div 2").cast("bigint").alias("__r1"),
        F.expr("n_x * n_y div 2 + 1").cast("bigint").alias("__r2"),
    )
    # pass-0 bounds in closed form: min/max pairwise difference is
    # min(x)-max(y) / max(x)-min(y) — two tiny aggregates over the
    # pinned day tables replace a full |days_x|*|days_y| pair pass
    # (3 pair passes -> 2, guide §2.4); exact integer arithmetic
    ext = (
        xd.agg(
            F.min("rev_c").alias("__xlo"), F.max("rev_c").alias("__xhi")
        )
        .crossJoin(
            F.broadcast(
                yd.agg(
                    F.min("rev_c").alias("__ylo"),
                    F.max("rev_c").alias("__yhi"),
                )
            )
        )
        .select(
            (F.col("__xlo") - F.col("__yhi")).cast("double").alias("__vgr_lo"),
            (F.col("__xhi") - F.col("__ylo")).cast("double").alias("__vgr_hi"),
        )
    )
    med = values_at_global_ranks(
        diffs, "d", ranks, ["__r1", "__r2"], ["__v1", "__v2"], ext_df=ext,
        pin_result=False,
    )
    # m = 0 (either side empty) -> NULL n_pairs/shift, matching the
    # oracle's aggregate over an empty `cum` CTE
    return med.select(
        "n_x",
        "n_y",
        F.expr("CASE WHEN __m > 0 THEN __m END")
        .cast("bigint")
        .alias("n_pairs"),
        (F.col("__v1") + F.col("__v2")).cast("bigint").alias("hl_shift2_cents"),
    )


@query(
    "kendall_tau_daily",
    oracle=f"""
    WITH {_days_cte(extra=", CAST(COUNT(*) AS BIGINT) AS n_ord")},
    pairs AS (
      SELECT b.rev_c - a.rev_c AS dx, b.n_ord - a.n_ord AS dy
      FROM days a JOIN days b ON b.di > a.di
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
                 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        CAST(SUM(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
                 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
        CAST(COUNT(*) AS BIGINT) AS n0
      FROM pairs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM days) AS n_days,
           n0 AS n_pairs, nc, nd,
           CAST(FLOOR((nc - nd)
                / NULLIF(SQRT(CAST(n0 - tx AS DOUBLE) * (n0 - ty)), 0.0)
                * 1e6 + 0.5) AS BIGINT) AS tau_b_e6
    FROM agg
    """,
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between daily revenue and daily
    order count — the concordance member of the correlation family
    (Pearson via `corr_matrix_lineitem`, Spearman via
    `spearman_qty_price`); tau-b's pair semantics make it robust to
    ties and monotone transforms. The quadratic pair stage is
    |days|² via broadcast theta-join; concordant/discordant/tie counts
    are exact integers, and tau-b is one double tree (the only
    irrational is a single correctly-rounded sqrt), rounded once to
    e6."""
    days = _daily_revenue(
        spark, sf_dir, extra=F.count("*").cast("bigint").alias("n_ord")
    )
    a = days.select(
        F.col("di").alias("dia"),
        F.col("rev_c").alias("ra"),
        F.col("n_ord").alias("oa"),
    )
    b = days.select(
        F.col("di").alias("dib"),
        F.col("rev_c").alias("rb"),
        F.col("n_ord").alias("ob"),
    )
    pairs = a.join(F.broadcast(b), F.col("dib") > F.col("dia")).select(
        (F.col("rb") - F.col("ra")).alias("dx"),
        (F.col("ob") - F.col("oa")).alias("dy"),
    )
    agg = pairs.agg(
        F.sum(
            F.expr(
                "CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)"
                " THEN 1 ELSE 0 END"
            )
        ).cast("bigint").alias("nc"),
        F.sum(
            F.expr(
                "CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)"
                " THEN 1 ELSE 0 END"
            )
        ).cast("bigint").alias("nd"),
        F.sum(F.expr("CASE WHEN dx = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("tx"),
        F.sum(F.expr("CASE WHEN dy = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("ty"),
        F.count("*").cast("bigint").alias("n0"),
    )
    nd_ = days.agg(F.count("*").cast("bigint").alias("n_days"))
    return (
        nd_.crossJoin(F.broadcast(agg))
        .select(
            "n_days",
            F.col("n0").alias("n_pairs"),
            "nc",
            "nd",
            F.expr(
                "CAST(FLOOR((nc - nd)"
                " / NULLIF(SQRT(CAST(n0 - tx AS DOUBLE) * (n0 - ty)), 0.0)"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("tau_b_e6"),
        )
    )


@query(
    "seasonal_decomposition_weekday",
    oracle=f"""
    WITH {_DAYS_CTE},
    nb AS (
      SELECT d.di, d.rev_c,
             CAST(COUNT(*) AS BIGINT) AS n_nb,
             CAST(SUM(n.rev_c) AS BIGINT) AS trend7
      FROM days d
      JOIN days n ON n.di BETWEEN d.di - 3 AND d.di + 3
      GROUP BY d.di, d.rev_c
    ),
    detr AS (
      SELECT isodow(DATE '1970-01-01' + CAST(di AS INT)) AS isodow,
             7 * rev_c - trend7 AS detr7
      FROM nb WHERE n_nb = 7
    )
    SELECT CAST(isodow AS BIGINT) AS isodow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(FLOOR(CAST(SUM(detr7) AS DOUBLE) / (7.0 * COUNT(*))
                      * 1e6 + 0.5) AS BIGINT) AS seasonal_e6_cents
    FROM detr
    GROUP BY 1
    ORDER BY 1
    """,
)
def seasonal_decomposition_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of daily revenue at the
    weekday period: a centered 7-day moving-average trend (only days
    with a complete +/-3 neighborhood), then the mean detrended value
    per ISO weekday — the day-of-week seasonal profile a forecasting
    pipeline subtracts before modeling (the seasonal-naive backtest's
    structural sibling). Integer recipe: the trend stays an exact
    7-day SUM (never a float mean), the detrended series is
    7*rev - trend7 (exact cents), and only the final per-weekday mean
    is one double division rounded to e6. The 7-day neighborhood is an
    equi-join on exploded day offsets against the broadcast day grain
    — no ordered-global window anywhere. ISO weekday via the portable
    idiom (Spark weekday()+1 == DuckDB isodow)."""
    days = _daily_revenue(spark, sf_dir)
    nbr = days.select(
        F.col("di").alias("dj"), F.col("rev_c").alias("rev_j")
    )
    expanded = days.select(
        "di",
        "rev_c",
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("off"),
    ).withColumn("dj", F.col("di") + F.col("off"))
    nb = (
        expanded.join(F.broadcast(nbr), "dj")
        .groupBy("di", "rev_c")
        .agg(
            F.count("*").cast("bigint").alias("n_nb"),
            F.sum("rev_j").cast("bigint").alias("trend7"),
        )
        .filter(F.col("n_nb") == 7)
    )
    detr = nb.select(
        (
            F.weekday(
                F.date_add(F.lit("1970-01-01").cast("date"), F.col("di").cast("int"))
            )
            + 1
        )
        .cast("bigint")
        .alias("isodow"),
        (7 * F.col("rev_c") - F.col("trend7")).alias("detr7"),
    )
    return (
        detr.groupBy("isodow")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.expr(
                "CAST(FLOOR(CAST(SUM(detr7) AS DOUBLE) / (7.0 * COUNT(*))"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("seasonal_e6_cents"),
        )
        .orderBy("isodow")
    )


@query(
    "kruskal_wallis_priority",
    oracle="""
    WITH o AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority AS prio
      FROM orders
    ),
    pc AS (
      SELECT cents, prio, CAST(COUNT(*) AS BIGINT) AS cgv
      FROM o GROUP BY cents, prio
    ),
    pv AS (
      SELECT cents, CAST(SUM(cgv) AS BIGINT) AS cnt FROM pc GROUP BY cents
    ),
    cum AS (
      SELECT cents, cnt, SUM(cnt) OVER (ORDER BY cents) AS cw FROM pv
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_cubes
      FROM cum
    ),
    rg AS (
      SELECT p.prio,
             CAST(SUM(p.cgv * (2 * c.cw - c.cnt + 1)) AS BIGINT) AS r_x2,
             CAST(SUM(p.cgv) AS BIGINT) AS n_g
      FROM pc p JOIN cum c ON p.cents = c.cents
      GROUP BY p.prio
    ),
    terms AS (
      SELECT CAST(FLOOR(n_g
               * (CAST(r_x2 AS DOUBLE) / (2.0 * n_g) - (n + 1.0) / 2.0)
               * (CAST(r_x2 AS DOUBLE) / (2.0 * n_g) - (n + 1.0) / 2.0)
               + 0.5) AS BIGINT) AS sg,
             n, tie_cubes
      FROM rg CROSS JOIN tot
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS k_groups,
           CAST(MAX(tie_cubes) AS BIGINT) AS tie_cubes,
           CAST(SUM(sg) AS BIGINT) AS ssq_dev,
           CASE WHEN MAX(n) > 1 THEN
             CAST(FLOOR(
               12.0 * CAST(SUM(sg) AS DOUBLE)
               / (CAST(MAX(n) AS DOUBLE) * (MAX(n) + 1.0))
               / NULLIF(1.0 - CAST(MAX(tie_cubes) AS DOUBLE)
                        / (CAST(MAX(n) AS DOUBLE) * MAX(n) * MAX(n) - MAX(n)), 0.0)
               * 1e6 + 0.5) AS BIGINT)
           END AS h_e6
    FROM terms
    """,
)
def kruskal_wallis_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do the five order priorities draw prices
    from one distribution? The k-group generalization of
    `mann_whitney_priority` — same doubled tie-average global ranks
    from the distributed-rank operator, so every per-group rank sum
    R_g (carried x2) and the tie term Σ(t³−t) are exact BIGINTs on
    both engines. The per-group deviation term n_g·(r̄_g − r̄)² is
    rounded ONCE to an exact integer before the (≤ k-row) cross-group
    sum — the `anova_f_segments` order-independence idiom — and the
    tie-corrected H = 12·Σ/ (n(n+1)) / (1 − Σ(t³−t)/(n³−n)) is one
    identical double tree rounded once to e6. Scale: one hash
    aggregate to (value, group) cells, rank machinery over distinct
    values, parameter-sized finals — nothing shuffles more than the
    distinct-price table."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.col("o_orderpriority").alias("prio"),
    )
    pc = o.groupBy("cents", "prio").agg(
        F.count("*").cast("bigint").alias("cgv")
    )
    pv = pc.groupBy("cents").agg(F.sum("cgv").cast("bigint").alias("cnt"))
    cum = with_global_rank(
        pv, "cents", out_rank="__rn", cumsum={"cnt": "cw"},
        acc_type="BIGINT", bins=64,
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    )
    tot = cum.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_cubes"),
    )
    rg = (
        pc.join(cum.select("cents", "cnt", "cw"), "cents")
        .groupBy("prio")
        .agg(
            F.sum(F.col("cgv") * (2 * F.col("cw") - F.col("cnt") + 1))
            .cast("bigint")
            .alias("r_x2"),
            F.sum("cgv").cast("bigint").alias("n_g"),
        )
    )
    terms = rg.crossJoin(F.broadcast(tot)).select(
        F.expr(
            """CAST(FLOOR(n_g
                 * (CAST(r_x2 AS DOUBLE) / (2.0 * n_g) - (n + 1.0) / 2.0)
                 * (CAST(r_x2 AS DOUBLE) / (2.0 * n_g) - (n + 1.0) / 2.0)
                 + 0.5) AS BIGINT)"""
        ).alias("sg"),
        "n",
        "tie_cubes",
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k_groups"),
        F.max("tie_cubes").cast("bigint").alias("tie_cubes"),
        F.sum("sg").cast("bigint").alias("ssq_dev"),
        F.expr(
            """CASE WHEN MAX(n) > 1 THEN
                 CAST(FLOOR(
                   12.0 * CAST(SUM(sg) AS DOUBLE)
                   / (CAST(MAX(n) AS DOUBLE) * (MAX(n) + 1.0))
                   / NULLIF(1.0 - CAST(MAX(tie_cubes) AS DOUBLE)
                            / (CAST(MAX(n) AS DOUBLE) * MAX(n) * MAX(n) - MAX(n)), 0.0)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("h_e6"),
    )


@query(
    "runs_test_daily_revenue",
    oracle=f"""
    WITH {_DAYS_CTE},
    vals AS (
      SELECT rev_c, CAST(COUNT(*) AS BIGINT) AS cnt FROM days GROUP BY rev_c
    ),
    cumv AS (
      SELECT rev_c, cnt, SUM(cnt) OVER (ORDER BY rev_c) AS cw FROM vals
    ),
    nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vals),
    med AS (
      SELECT MIN(CASE WHEN cw >= (n + 1) // 2 THEN rev_c END) AS m
      FROM cumv CROSS JOIN nn
    ),
    flags AS (
      SELECT di,
             CASE WHEN rev_c > (SELECT m FROM med) THEN 1 ELSE 0 END AS b,
             ROW_NUMBER() OVER (ORDER BY di) AS t
      FROM days
    ),
    lagged AS (
      SELECT b, LAG(b) OVER (ORDER BY t) AS b_prev FROM flags
    ),
    trans AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(b) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN b_prev IS NOT NULL AND b <> b_prev
                      THEN 1 ELSE 0 END) AS BIGINT) + 1 AS n_runs
      FROM lagged
    )
    SELECT n_days, n1, n_days - n1 AS n2, n_runs,
           CASE WHEN n1 > 0 AND n_days - n1 > 0 AND n_days > 1 THEN
             CAST(FLOOR(
               (CAST(n_runs AS DOUBLE)
                - (2.0 * CAST(n1 AS DOUBLE) * (n_days - n1) / n_days
                   + 1.0))
               / NULLIF(SQRT(
                   2.0 * CAST(n1 AS DOUBLE) * (n_days - n1)
                   * (2.0 * CAST(n1 AS DOUBLE) * (n_days - n1) - n_days)
                   / (CAST(n_days AS DOUBLE) * n_days * (n_days - 1.0))), 0.0)
               * 1e6 + 0.5) AS BIGINT)
           END AS z_e6
    FROM trans
    """,
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily-revenue
    series around its median — the sequence-randomness member of the
    statistics family (CUSUM/Pettitt find WHERE a shift is; the runs
    test asks whether the above/below pattern is serially random at
    all, the cheap screen before fitting any trend model). Lower
    median via the distributed-rank cumsum (exact, no single-reducer
    sort); the run count comes from an adjacent-rank self-join
    (t ⋈ t−1) over the calendar-bounded day relation instead of an
    unpartitioned LAG window; n₁/n₂/R are exact BIGINTs and the
    normal-approximation z is one identical double tree rounded once
    to e6."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    days = _daily_revenue(spark, sf_dir)
    vals = days.groupBy("rev_c").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    cumv = with_global_rank(
        vals, "rev_c", out_rank="__rn", cumsum={"cnt": "cw"},
        acc_type="BIGINT", bins=64,
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    )
    nn = vals.agg(F.sum("cnt").cast("bigint").alias("n"))
    med = cumv.crossJoin(F.broadcast(nn)).agg(
        F.min(
            F.expr("CASE WHEN cw >= (n + 1) div 2 THEN rev_c END")
        ).alias("m")
    )
    flags = with_global_rank(
        days.crossJoin(F.broadcast(med)).select(
            "di",
            F.expr("CASE WHEN rev_c > m THEN 1 ELSE 0 END").alias("b"),
        ),
        "di",
        out_rank="t",
        bins=64,
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    )
    prev = flags.select(
        (F.col("t") + 1).alias("t"), F.col("b").alias("b_prev")
    )
    trans = (
        flags.join(prev, "t", "left")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("b").cast("bigint").alias("n1"),
            (
                F.sum(
                    F.expr(
                        "CASE WHEN b_prev IS NOT NULL AND b <> b_prev"
                        " THEN 1 ELSE 0 END"
                    )
                ).cast("bigint")
                + 1
            ).alias("n_runs"),
        )
    )
    return trans.select(
        "n_days",
        "n1",
        (F.col("n_days") - F.col("n1")).alias("n2"),
        "n_runs",
        F.expr(
            """CASE WHEN n1 > 0 AND n_days - n1 > 0 AND n_days > 1 THEN
                 CAST(FLOOR(
                   (CAST(n_runs AS DOUBLE)
                    - (2.0 * CAST(n1 AS DOUBLE) * (n_days - n1) / n_days
                       + 1.0))
                   / NULLIF(SQRT(
                       2.0 * CAST(n1 AS DOUBLE) * (n_days - n1)
                       * (2.0 * CAST(n1 AS DOUBLE) * (n_days - n1) - n_days)
                       / (CAST(n_days AS DOUBLE) * n_days * (n_days - 1.0))), 0.0)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("z_e6"),
    )


@query(
    "cohens_d_urgent_price",
    oracle="""
    WITH o AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS HUGEINT) AS c,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      FROM orders
    ),
    m AS (
      SELECT CAST(SUM(g1) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(g1) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN g1 = 1 THEN c ELSE 0 END) AS DOUBLE) AS s1,
             CAST(SUM(CASE WHEN g1 = 0 THEN c ELSE 0 END) AS DOUBLE) AS s2,
             CAST(SUM(CASE WHEN g1 = 1 THEN c * c ELSE 0 END) AS DOUBLE) AS q1,
             CAST(SUM(CASE WHEN g1 = 0 THEN c * c ELSE 0 END) AS DOUBLE) AS q2
      FROM o
    )
    SELECT n1 AS n_urgent, n2 AS n_rest,
           CASE WHEN n1 > 1 AND n2 > 1 THEN
             CAST(FLOOR(
               (s1 / n1 - s2 / n2)
               / NULLIF(SQRT(
                   ((n1 * q1 - s1 * s1) / n1 + (n2 * q2 - s2 * s2) / n2)
                   / (n1 + n2 - 2.0)), 0.0)
               * 1e6 + 0.5) AS BIGINT)
           END AS d_e6,
           CASE WHEN n1 > 1 AND n2 > 1 THEN
             CAST(FLOOR(
               (s1 / n1 - s2 / n2)
               / NULLIF(SQRT(
                   ((n1 * q1 - s1 * s1) / n1 + (n2 * q2 - s2 * s2) / n2)
                   / (n1 + n2 - 2.0)), 0.0)
               * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))
               * 1e6 + 0.5) AS BIGINT)
           END AS g_e6
    FROM m
    """,
)
def cohens_d_urgent_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d (pooled-SD standardized mean difference) and its
    small-sample Hedges' g correction for URGENT vs non-URGENT order
    prices — the effect-SIZE companion to the significance tests
    (`welch_t_sources` answers "is there a difference", d answers
    "how big is it in SD units", the number a curation gate actually
    thresholds on). One scan produces exact integer moment sums
    (count / Σx / Σx², accumulated in DECIMAL(38) on Spark and
    HUGEINT on DuckDB so cents² cannot overflow BIGINT), each cast
    ONCE to double; d and g are identical double expression trees
    (pooled variance in the (n·q − s²)/n fold of `welch_t_sources`)
    rounded once to e6. Scale: one partial+final hash aggregate, one
    final row."""
    o = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS DECIMAL(19,0))").alias(
            "c"
        ),
        F.expr(
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        ).alias("g1"),
    )
    m = o.agg(
        F.sum("g1").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("g1")).cast("bigint").alias("n2"),
        F.sum(F.expr("CASE WHEN g1 = 1 THEN c ELSE 0 END"))
        .cast("double")
        .alias("s1"),
        F.sum(F.expr("CASE WHEN g1 = 0 THEN c ELSE 0 END"))
        .cast("double")
        .alias("s2"),
        F.sum(F.expr("CASE WHEN g1 = 1 THEN c * c ELSE 0 END"))
        .cast("double")
        .alias("q1"),
        F.sum(F.expr("CASE WHEN g1 = 0 THEN c * c ELSE 0 END"))
        .cast("double")
        .alias("q2"),
    )
    return m.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_rest"),
        F.expr(
            """CASE WHEN n1 > 1 AND n2 > 1 THEN
                 CAST(FLOOR(
                   (s1 / n1 - s2 / n2)
                   / NULLIF(SQRT(
                       ((n1 * q1 - s1 * s1) / n1 + (n2 * q2 - s2 * s2) / n2)
                       / (n1 + n2 - 2.0)), 0.0)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("d_e6"),
        F.expr(
            """CASE WHEN n1 > 1 AND n2 > 1 THEN
                 CAST(FLOOR(
                   (s1 / n1 - s2 / n2)
                   / NULLIF(SQRT(
                       ((n1 * q1 - s1 * s1) / n1 + (n2 * q2 - s2 * s2) / n2)
                       / (n1 + n2 - 2.0)), 0.0)
                   * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("g_e6"),
    )


@query(
    "holt_linear_daily_revenue",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ),
    seq AS MATERIALIZED (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS i,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    fold AS (
      SELECT i, n, cents,
             cents AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae
      FROM seq WHERE i = 1
      UNION ALL
      SELECT s.i, s.n, s.cents,
             CAST(FLOOR(0.5 * s.cents + 0.5 * (f.l + f.b) + 0.5) AS BIGINT),
             CAST(FLOOR(0.3 * (CAST(FLOOR(0.5 * s.cents
                    + 0.5 * (f.l + f.b) + 0.5) AS BIGINT) - f.l)
                  + 0.7 * f.b + 0.5) AS BIGINT),
             f.sae + ABS(s.cents - (f.l + f.b))
      FROM seq s JOIN fold f ON s.i = f.i + 1
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(l AS BIGINT) AS level_cents,
           CAST(b AS BIGINT) AS trend_cents,
           CAST(l + b AS BIGINT) AS forecast_1d_cents,
           CAST(l + 7 * b AS BIGINT) AS forecast_7d_cents,
           CAST(sae AS BIGINT) AS sum_abs_err_cents
    FROM fold WHERE i = n
    """,
)
def holt_linear_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing of daily revenue
    (α=0.5, β=0.3) with 1-day and 7-day-ahead forecasts and the
    in-sample one-step absolute-error total — the trend member of the
    forecasting family (`ewma_daily_revenue` smooths LEVEL only;
    `seasonal_naive_backtest` repeats the weekly shape; Holt is the
    classic level+trend recursion between them). Inherently a
    sequential fold, so it runs as ONE ordered array fold over the
    calendar-bounded day series (`ewma_daily_revenue` idiom) with BOTH
    state components re-rounded to cents BIGINTs at every step —
    l ← ⌊αy + (1−α)(l+b)⌋, b ← ⌊β(l′−l) + (1−β)b⌋ — so the recursion
    is exact integers end-to-end and the oracle replays it as a
    recursive CTE bit-for-bit. Scale: day-grain collapse first; the
    fold is calendar-bounded regardless of corpus size."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("CAST(o_orderdate AS DATE)").alias("day")
    ).agg(
        F.sum(
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
        ).alias("cents")
    )
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "cents"))).alias(
            "__a"
        )
    )
    return arr.select(
        F.expr(
            """aggregate(
                 __a,
                 named_struct(
                   'i', CAST(0 AS BIGINT),
                   'l', CAST(0 AS BIGINT),
                   'b', CAST(0 AS BIGINT),
                   'sae', CAST(0 AS BIGINT)),
                 (acc, x) -> named_struct(
                   'i', acc.i + 1,
                   'l', CAST(CASE WHEN acc.i = 0 THEN x.cents
                        ELSE CAST(FLOOR(0.5 * x.cents
                             + 0.5 * (acc.l + acc.b) + 0.5) AS BIGINT)
                        END AS BIGINT),
                   'b', CAST(CASE WHEN acc.i = 0 THEN 0
                        ELSE CAST(FLOOR(0.3 * (CAST(FLOOR(0.5 * x.cents
                               + 0.5 * (acc.l + acc.b) + 0.5) AS BIGINT)
                               - acc.l)
                             + 0.7 * acc.b + 0.5) AS BIGINT)
                        END AS BIGINT),
                   'sae', CAST(CASE WHEN acc.i = 0 THEN 0
                          ELSE acc.sae + ABS(x.cents - (acc.l + acc.b))
                          END AS BIGINT)),
                 acc -> acc)"""
        ).alias("st")
    ).filter(F.expr("st.i > 0")).select(
        F.expr("st.i").cast("bigint").alias("n_days"),
        F.expr("st.l").cast("bigint").alias("level_cents"),
        F.expr("st.b").cast("bigint").alias("trend_cents"),
        F.expr("st.l + st.b").cast("bigint").alias("forecast_1d_cents"),
        F.expr("st.l + 7 * st.b").cast("bigint").alias("forecast_7d_cents"),
        F.expr("st.sae").cast("bigint").alias("sum_abs_err_cents"),
    )


@query(
    "mann_kendall_trend_daily",
    oracle=f"""
    WITH {_DAYS_CTE},
    pairs AS (
      SELECT b.rev_c - a.rev_c AS dx, b.di - a.di AS dd
      FROM days a JOIN days b ON b.di > a.di
    ),
    sc AS (
      SELECT CAST(SUM(CASE WHEN dx > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN dx < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs
    ),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM days GROUP BY rev_c) g
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
    sl AS (
      SELECT CAST(FLOOR(1e6 * CAST(dx AS DOUBLE) / dd) AS BIGINT) AS s_e6,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pairs GROUP BY 1
    ),
    slc AS (
      SELECT s_e6, cnt,
             SUM(cnt) OVER (ORDER BY s_e6) AS cw,
             SUM(cnt) OVER () AS m
      FROM sl
    ),
    sen AS (
      SELECT MIN(CASE WHEN cw >= (m + 1) // 2 THEN s_e6 END)
               + MIN(CASE WHEN cw >= m // 2 + 1 THEN s_e6 END) AS slope2_e6
      FROM slc
    )
    SELECT nn.n AS n_days,
           sc.nc - sc.nd AS s_stat,
           sc.nc, sc.nd,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie_term AS BIGINT)
             AS var18,
           CASE WHEN nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie_term > 0
                THEN CAST(FLOOR(
                  (CASE WHEN sc.nc - sc.nd > 0 THEN sc.nc - sc.nd - 1.0
                        WHEN sc.nc - sc.nd < 0 THEN sc.nc - sc.nd + 1.0
                        ELSE 0.0 END)
                  / SQRT((nn.n * (nn.n - 1.0) * (2 * nn.n + 5) - t.tie_term)
                         / 18.0)
                  * 1e6 + 0.5) AS BIGINT)
           END AS z_e6,
           CAST(s.slope2_e6 AS BIGINT) AS sen_slope2_e6
    FROM nn CROSS JOIN sc CROSS JOIN ties t CROSS JOIN sen s
    """,
)
def mann_kendall_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Sen's slope over daily revenue — the
    monotone-trend member of the statistics family (Kendall tau-b
    correlates TWO series; MK asks whether ONE series trends against
    time, and Sen's slope is its robust effect size — the standard
    pre-forecasting screen). The quadratic pair stage is |days|² via
    broadcast theta-join; S and the tie-corrected 18·Var(S) are exact
    integers; z is one double tree (single sqrt) rounded once to e6;
    Sen's slope floors each pairwise slope once to an e6 integer and
    takes the doubled median via exact rank-SELECT
    (`values_at_global_ranks`) — no ordered global window anywhere,
    and no full rank of the near-distinct slope multiset either."""
    from local_stream_stack_spark.operators.quantiles import (
        values_at_global_ranks,
    )

    # pinned: the day table feeds both theta-join sides, ties and nn,
    # and every consumer of the lazy pair relation re-derives it
    days = _daily_revenue(spark, sf_dir, pin="spread")
    a = days.select(F.col("di").alias("dia"), F.col("rev_c").alias("ra"))
    b = days.select(F.col("di").alias("dib"), F.col("rev_c").alias("rb"))
    pairs = a.join(F.broadcast(b), F.col("dib") > F.col("dia")).select(
        (F.col("rb") - F.col("ra")).alias("dx"),
        (F.col("dib") - F.col("dia")).alias("dd"),
    )
    sc = pairs.agg(
        F.sum(F.expr("CASE WHEN dx > 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("nc"),
        F.sum(F.expr("CASE WHEN dx < 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("nd"),
    )
    ties = (
        days.groupBy("rev_c")
        .agg(F.count("*").cast("bigint").alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.expr("t * (t - 1) * (2 * t + 5)")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    nn = days.agg(F.count("*").cast("bigint").alias("n"))
    # Sen's doubled median = the values at ranks (m+1) div 2 and
    # m div 2 + 1 of the slope multiset, where m = n(n-1)/2 is known
    # from the day count — so rank-SELECT (bin counts + in-target-bin
    # refinement) replaces the full distributed rank: the old slope
    # histogram groupBy got ~no compression (slopes are near-distinct),
    # so every rank pass re-shuffled ~|days|²/2 rows; now no pass
    # shuffles more than the per-bin count table + the target-bin
    # subset (measured r13: 7.5 -> ~2.5 s at sf0.1). Guide §2.3/§2.4.
    slopes_e6 = pairs.select(
        F.expr("CAST(FLOOR(1e6 * CAST(dx AS DOUBLE) / dd) AS BIGINT)").alias(
            "s_e6"
        )
    )
    ranks = days.agg(F.count("*").cast("bigint").alias("__n")).select(
        F.expr("(__n * (__n - 1) div 2 + 1) div 2")
        .cast("bigint")
        .alias("__r1"),
        F.expr("(__n * (__n - 1) div 2) div 2 + 1")
        .cast("bigint")
        .alias("__r2"),
    )
    # pass-0 bounds in closed form from the tiny day table: floor and
    # the 1e6 scale are monotone, so the extreme s_e6 is the e6-floored
    # ADJACENT-pair slope — one fold over |days| rows replaces a full
    # |days|^2 pair pass (4 pair passes -> 3 incl. the S-stat pass)
    ext = _adjacent_slope_ext(
        days,
        "CAST(FLOOR(1e6 * CAST(x.rev_c - a.pr AS DOUBLE) / (x.di - a.pd))"
        " AS BIGINT)",
    )
    sen = values_at_global_ranks(
        slopes_e6, "s_e6", ranks, ["__r1", "__r2"], ["__v1", "__v2"],
        ext_df=ext, pin_result=False,
    ).select(
        (F.col("__v1") + F.col("__v2")).cast("bigint").alias("slope2_e6")
    )
    return (
        nn.crossJoin(F.broadcast(sc))
        .crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(sen))
        .select(
            F.col("n").alias("n_days"),
            (F.col("nc") - F.col("nd")).cast("bigint").alias("s_stat"),
            "nc",
            "nd",
            F.expr(
                "CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT)"
            ).alias("var18"),
            F.expr(
                """CASE WHEN n * (n - 1) * (2 * n + 5) - tie_term > 0
                     THEN CAST(FLOOR(
                       (CASE WHEN nc - nd > 0 THEN nc - nd - 1.0
                             WHEN nc - nd < 0 THEN nc - nd + 1.0
                             ELSE 0.0 END)
                       / SQRT((n * (n - 1.0) * (2 * n + 5) - tie_term)
                              / 18.0)
                       * 1e6 + 0.5) AS BIGINT)
                   END"""
            ).alias("z_e6"),
            F.col("slope2_e6").alias("sen_slope2_e6"),
        )
    )


@query(
    "durbin_watson_daily_revenue",
    oracle=f"""
    WITH {_DAYS_CTE},
    nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev_c) AS BIGINT) AS s
      FROM days
    ),
    rk AS (
      SELECT di, rev_c, ROW_NUMBER() OVER (ORDER BY di) AS t FROM days
    ),
    e AS (
      SELECT t, CAST(n * rev_c - s AS HUGEINT) AS e
      FROM rk CROSS JOIN nn
    ),
    agg AS (
      SELECT
        (SELECT CAST(SUM(e * e) AS HUGEINT) FROM e) AS den,
        (SELECT CAST(SUM((c.e - p.e) * (c.e - p.e)) AS HUGEINT)
         FROM e c JOIN e p ON p.t = c.t - 1) AS num
    )
    SELECT nn.n AS n_days,
           CASE WHEN agg.den > 0 THEN
             CAST(FLOOR(CAST(agg.num AS DOUBLE) / CAST(agg.den AS DOUBLE)
                        * 1e6 + 0.5) AS BIGINT)
           END AS dw_e6
    FROM nn CROSS JOIN agg
    """,
)
def durbin_watson_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Durbin-Watson first-order autocorrelation statistic over the
    mean-centered daily-revenue series — the serial-correlation screen
    a forecasting pipeline runs on residuals (DW ≈ 2(1 − ρ₁); the
    runs test checks the SIGN pattern, DW the magnitudes). Residuals
    are scaled by n (e_t = n·x_t − Σx) so they stay exact integers;
    squares and cross terms route through DECIMAL(38,0)/HUGEINT (a
    day's scaled residual can reach ~1e12 at sf0.1, its square 1e24);
    adjacency is the rank self-join (t ⋈ t−1), never an unpartitioned
    LAG window; DW is one double division rounded once to e6 — the
    n² scaling cancels in the ratio."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    days = _daily_revenue(spark, sf_dir)
    nn = days.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rev_c").cast("bigint").alias("s"),
    )
    rk = with_global_rank(days, "di", out_rank="t", bins=64,
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    )
    e = rk.crossJoin(F.broadcast(nn)).select(
        "t",
        F.expr("CAST(n * rev_c - s AS DECIMAL(38,0))").alias("e"),
    )
    den = e.agg(F.sum(F.expr("e * e")).alias("den"))
    prev = e.select((F.col("t") + 1).alias("t"), F.col("e").alias("ep"))
    num = (
        e.join(prev, "t")
        .agg(F.sum(F.expr("(e - ep) * (e - ep)")).alias("num"))
    )
    return (
        nn.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(num))
        .select(
            F.col("n").alias("n_days"),
            F.expr(
                """CASE WHEN den > 0 THEN
                     CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                                * 1e6 + 0.5) AS BIGINT)
                   END"""
            ).alias("dw_e6"),
        )
    )


@query(
    "ljung_box_daily_revenue",
    oracle=f"""
    WITH {_DAYS_CTE},
    nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev_c) AS BIGINT) AS s
      FROM days
    ),
    rk AS (
      SELECT rev_c, ROW_NUMBER() OVER (ORDER BY di) AS t FROM days
    ),
    e AS (
      SELECT t, CAST(n * rev_c - s AS HUGEINT) AS e
      FROM rk CROSS JOIN nn
    ),
    den AS (SELECT CAST(SUM(e * e) AS HUGEINT) AS den FROM e),
    lag_c AS (
      SELECT k.k, CAST(SUM(c.e * f.e) AS HUGEINT) AS ck
      FROM generate_series(1, 7) k(k)
      JOIN e c ON TRUE
      JOIN e f ON f.t = c.t + k.k
      GROUP BY k.k
    ),
    terms AS (
      SELECT l.k,
             CAST(FLOOR(
               (CAST(l.ck AS DOUBLE) / CAST(d.den AS DOUBLE))
               * (CAST(l.ck AS DOUBLE) / CAST(d.den AS DOUBLE))
               / (n.n - l.k) * 1e9 + 0.5) AS BIGINT) AS term_e9
      FROM lag_c l CROSS JOIN den d CROSS JOIN nn n
      WHERE d.den > 0
    )
    SELECT nn.n AS n_days,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM terms) AS m_lags,
           CASE WHEN dd.den > 0 AND nn.n > 1 THEN
             CAST((nn.n * (nn.n + 2)
                   * (SELECT COALESCE(SUM(term_e9), 0) FROM terms))
                  // 1000 AS BIGINT)
           END AS q_e6
    FROM nn CROSS JOIN den dd
    """,
)
def ljung_box_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test over the first 7 autocorrelation
    lags of daily revenue — the whiteness test that decides whether a
    residual series still carries structure (Durbin-Watson is lag 1
    only; Ljung-Box pools a lag window). Determinism: residuals are
    n-scaled exact integers, each lag's cross-product sum routes
    through DECIMAL(38,0)/HUGEINT, each lag's r_k²/(n−k) term is one
    identical double tree floored once to an e9 integer, and the
    final Q = n(n+2)·Σterms is pure INTEGER arithmetic (the e9→e6
    rescale is integer division) — no float summation across lags on
    either engine. Scale: the 7 lag joins run on the calendar-bounded
    rank relation."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    days = _daily_revenue(spark, sf_dir)
    nn = days.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rev_c").cast("bigint").alias("s"),
    )
    rk = with_global_rank(days, "di", out_rank="t", bins=64,
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    )
    e = rk.crossJoin(F.broadcast(nn)).select(
        "t",
        F.expr("CAST(n * rev_c - s AS DECIMAL(38,0))").alias("e"),
    )
    den = e.agg(F.sum(F.expr("e * e")).alias("den"))
    ks = spark.range(1, 8).select(F.col("id").cast("bigint").alias("k"))
    fwd = e.select(F.col("t").alias("tf"), F.col("e").alias("ef"))
    lag_c = (
        e.crossJoin(F.broadcast(ks))
        .join(
            F.broadcast(fwd),
            F.col("tf") == F.col("t") + F.col("k"),
        )
        .groupBy("k")
        .agg(F.sum(F.expr("e * ef")).alias("ck"))
    )
    terms = (
        lag_c.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(nn))
        .filter(F.col("den") > 0)
        .select(
            F.expr(
                """CAST(FLOOR(
                     (CAST(ck AS DOUBLE) / CAST(den AS DOUBLE))
                     * (CAST(ck AS DOUBLE) / CAST(den AS DOUBLE))
                     / (n - k) * 1e9 + 0.5) AS BIGINT)"""
            ).alias("term_e9")
        )
    )
    tsum = terms.agg(
        F.count("*").cast("bigint").alias("m_lags"),
        F.coalesce(F.sum("term_e9"), F.lit(0))
        .cast("bigint")
        .alias("sum_e9"),
    )
    return (
        nn.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tsum))
        .select(
            F.col("n").alias("n_days"),
            "m_lags",
            F.expr(
                """CASE WHEN den > 0 AND n > 1 THEN
                     CAST((n * (n + 2) * sum_e9) div 1000 AS BIGINT)
                   END"""
            ).alias("q_e6"),
        )
    )


@query(
    "cochran_q_daily",
    oracle=f"""
    WITH {_SEGMENT_BLOCKS_CTE},
    fc AS (
      SELECT c.di, c.segment, c.rev_c FROM cells c
      JOIN full_days f ON c.di = f.di
    ),
    med AS (
      SELECT di,
             MIN(CASE WHEN cw >= (cnt_all + 1) // 2 THEN rev_c END)
               + MIN(CASE WHEN cw >= cnt_all // 2 + 1 THEN rev_c END)
               AS med2
      FROM (
        SELECT di, rev_c,
               COUNT(*) OVER (PARTITION BY di ORDER BY rev_c, segment)
                 AS cw,
               COUNT(*) OVER (PARTITION BY di) AS cnt_all
        FROM fc
      ) t
      GROUP BY di
    ),
    x AS (
      SELECT f.di, f.segment,
             CASE WHEN 2 * f.rev_c > m.med2 THEN 1 ELSE 0 END AS x
      FROM fc f JOIN med m ON f.di = m.di
    ),
    cj AS (SELECT segment, CAST(SUM(x) AS BIGINT) AS cjs FROM x GROUP BY segment),
    ri AS (SELECT di, CAST(SUM(x) AS BIGINT) AS ris FROM x GROUP BY di),
    tot AS (
      SELECT (SELECT CAST(SUM(cjs) AS BIGINT) FROM cj) AS nsucc,
             (SELECT CAST(SUM(ris * ris) AS BIGINT) FROM ri) AS r2,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM full_days) AS b,
             (SELECT k FROM kk) AS k
    )
    SELECT t.b AS n_blocks, t.k AS k_groups,
           t.nsucc AS n_success,
           CASE WHEN t.k * t.nsucc - t.r2 > 0 THEN
             CAST(FLOOR(
               CAST((t.k - 1)
                    * (SELECT SUM((t.k * cjs - t.nsucc)
                                  * (t.k * cjs - t.nsucc)) FROM cj)
                    AS DOUBLE)
               / CAST(t.k * (t.k * t.nsucc - t.r2) AS DOUBLE)
               * 1e6 + 0.5) AS BIGINT)
           END AS q_e6
    FROM tot t
    """,
)
def cochran_q_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test over the day-blocked binary outcome "did the
    segment beat that day's median revenue" — the k-related-samples
    test for BINARY responses (Friedman handles ordinal ranks; Q is
    its dichotomous sibling, the standard A/B/n daily-winner audit).
    Complete blocks only; the per-day doubled median is exact integer
    arithmetic over the k-row block; C_j/R_i/N are integer totals and
    Q = (k−1)·Σ(kC_j − N)² / (k(kN − ΣR_i²)) is one double division
    over two exact integers, rounded once to e6. Scale: one broadcast
    dim join + hash aggregate to the (day, segment) grid; every
    window partition is exactly k rows."""
    cells, kk, full_days = _segment_blocks(spark, sf_dir)
    fc = cells.join(full_days, "di")
    wcw = Window.partitionBy("di").orderBy("rev_c", "segment")
    wall = Window.partitionBy("di")
    med = (
        fc.withColumn("cw", F.count("*").over(wcw))
        .withColumn("cnt_all", F.count("*").over(wall))
        .groupBy("di")
        .agg(
            (
                F.min(
                    F.expr(
                        "CASE WHEN cw >= (cnt_all + 1) div 2"
                        " THEN rev_c END"
                    )
                )
                + F.min(
                    F.expr(
                        "CASE WHEN cw >= cnt_all div 2 + 1"
                        " THEN rev_c END"
                    )
                )
            ).alias("med2")
        )
    )
    x = fc.join(med, "di").select(
        "di",
        "segment",
        F.expr("CASE WHEN 2 * rev_c > med2 THEN 1 ELSE 0 END").alias("x"),
    )
    cj = x.groupBy("segment").agg(F.sum("x").cast("bigint").alias("cjs"))
    ri = x.groupBy("di").agg(F.sum("x").cast("bigint").alias("ris"))
    tot = (
        cj.agg(F.sum("cjs").cast("bigint").alias("nsucc"))
        .crossJoin(
            F.broadcast(
                ri.agg(
                    F.sum(F.expr("ris * ris")).cast("bigint").alias("r2")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                full_days.agg(F.count("*").cast("bigint").alias("b"))
            )
        )
        .crossJoin(F.broadcast(kk))
    )
    num = (
        cj.crossJoin(F.broadcast(tot.select("nsucc", "k")))
        .agg(
            F.sum(
                F.expr("(k * cjs - nsucc) * (k * cjs - nsucc)")
            )
            .cast("bigint")
            .alias("num")
        )
    )
    return (
        tot.crossJoin(F.broadcast(num))
        .select(
            F.col("b").alias("n_blocks"),
            F.col("k").alias("k_groups"),
            F.col("nsucc").alias("n_success"),
            F.expr(
                """CASE WHEN k * nsucc - r2 > 0 THEN
                     CAST(FLOOR(
                       CAST((k - 1) * num AS DOUBLE)
                       / CAST(k * (k * nsucc - r2) AS DOUBLE)
                       * 1e6 + 0.5) AS BIGINT)
                   END"""
            ).alias("q_e6"),
        )
    )


@query(
    "page_trend_test_segments",
    oracle=f"""
    WITH {_SEGMENT_BLOCKS_CTE},
    r AS (
      SELECT c.di, c.segment,
             CAST(2 * RANK() OVER (PARTITION BY c.di ORDER BY c.rev_c)
                  + COUNT(*) OVER (PARTITION BY c.di, c.rev_c) - 1
                  AS BIGINT) AS r2
      FROM cells c JOIN full_days f ON c.di = f.di
    ),
    rs AS (
      SELECT segment, CAST(SUM(r2) AS BIGINT) AS rank2_sum
      FROM r GROUP BY segment
    ),
    w AS (
      SELECT a.segment, a.rank2_sum,
             CAST((SELECT COUNT(*) FROM rs b WHERE b.segment <= a.segment)
                  AS BIGINT) AS j
      FROM rs a
    ),
    tot AS (
      SELECT CAST(SUM(j * rank2_sum) AS BIGINT) AS l2,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM full_days) AS b,
             (SELECT k FROM kk) AS k
      FROM w
    )
    SELECT b AS n_blocks, k AS k_groups, l2 AS l2_stat,
           CASE WHEN k > 1 AND b > 0 THEN
             CAST(FLOOR(
               (l2 - CAST(b * k * (k + 1) * (k + 1) // 2 AS DOUBLE))
               / (2.0 * SQRT(b * CAST(k AS DOUBLE) * k * (k + 1)
                             * (k * k - 1) / 144.0))
               * 1e6 + 0.5) AS BIGINT)
           END AS z_e6
    FROM tot
    """,
)
def page_trend_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test over the Friedman rank table — the ORDERED
    alternative to Friedman (Friedman asks "do the k segments differ
    at all"; Page asks "do they trend in a predicted order", here the
    alphabetical segment order as the fixed reference ordering).
    Reuses the doubled within-block tie-average ranks; L2 = Σ j·R2_j
    is an exact integer (twice Page's L), the null mean b·k(k+1)²/2
    is exact integer arithmetic (k(k+1)² is always even), and z is
    one double tree with a single sqrt rounded once to e6. The
    alphabetical weight j comes from a k²-row self-join count, not an
    unpartitioned window. Scale: identical profile to
    `friedman_test_segments`."""
    cells, kk, full_days = _segment_blocks(spark, sf_dir)
    wd = Window.partitionBy("di").orderBy("rev_c")
    we = Window.partitionBy("di", "rev_c")
    r = cells.join(full_days, "di").select(
        "segment",
        (2 * F.rank().over(wd) + F.count("*").over(we) - 1)
        .cast("bigint")
        .alias("r2"),
    )
    rs = r.groupBy("segment").agg(
        F.sum("r2").cast("bigint").alias("rank2_sum")
    )
    other = rs.select(F.col("segment").alias("seg_b"))
    w = (
        rs.join(
            F.broadcast(other),
            F.col("seg_b") <= F.col("segment"),
        )
        .groupBy("segment", "rank2_sum")
        .agg(F.count("*").cast("bigint").alias("j"))
    )
    tot = (
        w.agg(
            F.sum(F.expr("j * rank2_sum")).cast("bigint").alias("l2")
        )
        .crossJoin(
            F.broadcast(
                full_days.agg(F.count("*").cast("bigint").alias("b"))
            )
        )
        .crossJoin(F.broadcast(kk))
    )
    return tot.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("k_groups"),
        F.col("l2").alias("l2_stat"),
        F.expr(
            """CASE WHEN k > 1 AND b > 0 THEN
                 CAST(FLOOR(
                   (l2 - CAST(b * k * (k + 1) * (k + 1) div 2 AS DOUBLE))
                   / (2.0 * SQRT(b * CAST(k AS DOUBLE) * k * (k + 1)
                                 * (k * k - 1) / 144.0))
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("z_e6"),
    )


@query(
    "jonckheere_terpstra_priority",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS prio,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    pc AS (
      SELECT prio, cents, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM o GROUP BY prio, cents
    ),
    grid AS (
      SELECT p.prio, v.cents, COALESCE(c.cnt, 0) AS cnt
      FROM (SELECT DISTINCT prio FROM pc) p
      CROSS JOIN (SELECT DISTINCT cents FROM pc) v
      LEFT JOIN pc c ON c.prio = p.prio AND c.cents = v.cents
    ),
    cum AS (
      SELECT prio, cents, cnt,
             SUM(cnt) OVER (PARTITION BY prio ORDER BY cents) - cnt
               AS below
      FROM grid
    ),
    j2t AS (
      SELECT CAST(SUM(h.cnt * (2 * g.below + g.cnt)) AS BIGINT) AS j2
      FROM pc h JOIN cum g ON g.cents = h.cents AND g.prio < h.prio
    ),
    gs AS (
      SELECT prio, CAST(SUM(cnt) AS BIGINT) AS n_g FROM pc GROUP BY prio
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g * n_g) AS BIGINT) AS sn2,
             CAST(SUM(n_g * n_g * (2 * n_g + 3)) AS BIGINT) AS sn23
      FROM gs
    ),
    ties AS (
      SELECT CAST(SUM(tcnt * (tcnt - 1)) AS BIGINT) AS tie_pairs2
      FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS tcnt FROM pc GROUP BY cents) t
    )
    SELECT t.n, t.k,
           j.j2 AS j2_stat,
           CAST((t.n * t.n - t.sn2) AS BIGINT) AS mean2,
           ti.tie_pairs2,
           CASE WHEN t.n * t.n * (2 * t.n + 3) - t.sn23 > 0 THEN
             CAST(FLOOR(
               (j.j2 - CAST(t.n * t.n - t.sn2 AS DOUBLE) / 2.0)
               / (2.0 * SQRT((t.n * CAST(t.n AS DOUBLE) * (2 * t.n + 3)
                              - t.sn23) / 72.0))
               * 1e6 + 0.5) AS BIGINT)
           END AS z_e6
    FROM tot t CROSS JOIN j2t j CROSS JOIN ties ti
    """,
)
def jonckheere_terpstra_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jonckheere-Terpstra trend test across the ordered priority
    classes — the ORDERED alternative for INDEPENDENT groups
    (Kruskal-Wallis asks "do the k priorities differ at all"; J-T
    asks "does price increase monotonically along the priority
    order", which is the hypothesis a dashboard actually has; Page's
    test is its blocked sibling). J2 = Σ_{g<h} (2·#{x<y} + #{x=y}) is
    an exact doubled integer computed from the value grid: per-group
    cumulative counts over the DISTINCT-cents grid (windows partition
    by group — bounded by distinct values, never a global sort) joined
    pairwise on equal cents, so the pair stage is value-grid-sized,
    not |rows|². The z normal approximation uses the classic no-ties
    variance (tie mass is reported alongside as tie_pairs2 so a
    downstream consumer can judge the approximation); one double tree,
    one sqrt, rounded once to e6."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    pc = (
        o.groupBy("prio", "cents")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        # the (prio, cents) grid aggregate feeds SIX consumers (both
        # grid distincts, the grid join, the J2 pair join, group sizes,
        # tie mass) — pin the value-grid-sized relation once instead of
        # six scan+groupBy re-executions (guide §5)
        .localCheckpoint(eager=True)
    )
    grid = (
        pc.select("cents")
        .distinct()
        .crossJoin(F.broadcast(pc.select("prio").distinct()))
        .join(pc, ["prio", "cents"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    wg = Window.partitionBy("prio").orderBy("cents")
    cum = grid.withColumn(
        "below", F.sum("cnt").over(wg) - F.col("cnt")
    )
    j2t = (
        pc.alias("h")
        .join(
            cum.alias("g"),
            (F.col("g.cents") == F.col("h.cents"))
            & (F.col("g.prio") < F.col("h.prio")),
        )
        .agg(
            F.sum(
                F.expr("h.cnt * (2 * g.below + g.cnt)")
            )
            .cast("bigint")
            .alias("j2")
        )
    )
    gs = pc.groupBy("prio").agg(F.sum("cnt").cast("bigint").alias("n_g"))
    tot = gs.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.expr("n_g * n_g")).cast("bigint").alias("sn2"),
        F.sum(F.expr("n_g * n_g * (2 * n_g + 3)"))
        .cast("bigint")
        .alias("sn23"),
    )
    ties = (
        pc.groupBy("cents")
        .agg(F.sum("cnt").cast("bigint").alias("tcnt"))
        .agg(
            F.sum(F.expr("tcnt * (tcnt - 1)"))
            .cast("bigint")
            .alias("tie_pairs2")
        )
    )
    return (
        tot.crossJoin(F.broadcast(j2t))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "k",
            F.col("j2").alias("j2_stat"),
            F.expr("CAST((n * n - sn2) AS BIGINT)").alias("mean2"),
            "tie_pairs2",
            F.expr(
                """CASE WHEN n * n * (2 * n + 3) - sn23 > 0 THEN
                     CAST(FLOOR(
                       (j2 - CAST(n * n - sn2 AS DOUBLE) / 2.0)
                       / (2.0 * SQRT((n * CAST(n AS DOUBLE) * (2 * n + 3)
                                      - sn23) / 72.0))
                       * 1e6 + 0.5) AS BIGINT)
                   END"""
            ).alias("z_e6"),
        )
    )


@query(
    "sign_test_daily_revenue",
    oracle=f"""
    WITH {_DAYS_CTE},
    pairs AS (
      SELECT b.rev_c - a.rev_c AS dx
      FROM days a JOIN days b ON b.di = a.di + 1
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN dx <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonzero,
             CAST(SUM(CASE WHEN dx > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS s_pos
      FROM pairs
    )
    SELECT n_pairs, n_nonzero, s_pos,
           CASE WHEN n_nonzero > 0 THEN
             CAST(FLOOR(
               (2.0 * s_pos - n_nonzero)
               / SQRT(CAST(n_nonzero AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT)
           END AS z_e6
    FROM agg
    """,
)
def sign_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on day-over-day revenue — the distribution-free
    sibling of the Wilcoxon pair: under H0 (no drift) tomorrow is as
    likely up as down, so S = #(up) among the nonzero consecutive-day
    diffs is Binomial(n, 1/2) and z = (2S − n)/√n. Consecutive days
    pair by an EQUI-join on di+1 (calendar-bounded and
    broadcastable — no ordered global window, no LAG over an
    unpartitioned frame); counts are exact
    integers and z is one double tree rounded once to e6."""
    days = _daily_revenue(spark, sf_dir)
    nxt = days.select(
        (F.col("di") - 1).alias("di"), F.col("rev_c").alias("rev_next")
    )
    pairs = days.join(F.broadcast(nxt), "di").select(
        (F.col("rev_next") - F.col("rev_c")).alias("dx")
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.expr("CASE WHEN dx <> 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_nonzero"),
        F.sum(F.expr("CASE WHEN dx > 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("s_pos"),
    ).select(
        "n_pairs",
        "n_nonzero",
        "s_pos",
        F.expr(
            """CASE WHEN n_nonzero > 0 THEN
                 CAST(FLOOR(
                   (2.0 * s_pos - n_nonzero)
                   / SQRT(CAST(n_nonzero AS DOUBLE))
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("z_e6"),
    )


@query(
    "grubbs_outlier_daily",
    oracle=f"""
    WITH {_DAYS_CTE},
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev_c) AS HUGEINT) AS s,
             CAST(SUM(CAST(rev_c AS HUGEINT) * rev_c) AS HUGEINT) AS q
      FROM days
    ),
    dev AS (
      SELECT d.di, d.rev_c,
             ABS(CAST(m.n AS HUGEINT) * d.rev_c - m.s) AS dev_n
      FROM days d CROSS JOIN mom m
    ),
    top AS (
      SELECT di, rev_c, dev_n FROM dev
      ORDER BY dev_n DESC, di LIMIT 1
    )
    SELECT m.n AS n_days,
           t.di AS argmax_day,
           t.rev_c AS argmax_rev_c,
           CASE WHEN m.n > 1
                 AND CAST(m.n AS DOUBLE) * CAST(m.q AS DOUBLE)
                     - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE) > 0 THEN
             CAST(FLOOR(
               CAST(t.dev_n AS DOUBLE)
               / (CAST(m.n AS DOUBLE)
                  * SQRT((CAST(m.n AS DOUBLE) * CAST(m.q AS DOUBLE)
                          - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE))
                         / (CAST(m.n AS DOUBLE) * (m.n - 1.0))))
               * 1e6 + 0.5) AS BIGINT)
           END AS g_e6
    FROM mom m CROSS JOIN top t
    """,
)
def grubbs_outlier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' outlier statistic on daily revenue: G = max|x − x̄|/s,
    plus WHICH day attains it — the screening step before dropping a
    spike day from a trend fit. The deviation is kept integer-exact as
    |n·x_i − Σx| (scaled by n, so no double mean enters the argmax;
    ties break to the earliest day) and only the final G is one double
    tree — max_dev/(n·s) with s from the exact integer moments — 
    rounded once to e6. Scale: one broadcast of the 3-number moment
    row, TakeOrderedAndProject(1) for the argmax."""
    days = _daily_revenue(spark, sf_dir)
    mom = days.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("rev_c").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("rev_c").cast("decimal(38,0)")
            * F.col("rev_c").cast("decimal(38,0)")
        ).alias("q"),
    )
    top = (
        days.crossJoin(F.broadcast(mom))
        .select(
            "di",
            "rev_c",
            "n",
            "s",
            "q",
            F.expr(
                "ABS(CAST(n AS DECIMAL(38,0)) * rev_c - s)"
            ).alias("dev_n"),
        )
        .orderBy(F.desc("dev_n"), F.asc("di"))
        .limit(1)
    )
    return top.select(
        F.col("n").alias("n_days"),
        F.col("di").alias("argmax_day"),
        F.col("rev_c").alias("argmax_rev_c"),
        F.expr(
            """CASE WHEN n > 1
                     AND CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0 THEN
                 CAST(FLOOR(
                   CAST(dev_n AS DOUBLE)
                   / (CAST(n AS DOUBLE)
                      * SQRT((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                             / (CAST(n AS DOUBLE) * (n - 1.0))))
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("g_e6"),
    )


@query(
    "moods_median_priority",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS prio,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    med AS (
      SELECT CAST(ROUND(2.0 * quantile_cont(CAST(cents AS DOUBLE), 0.5))
                  AS BIGINT) AS m2
      FROM o
    ),
    cls AS (
      SELECT prio,
             CAST(SUM(CASE WHEN 2 * cents > m.m2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN 2 * cents < m.m2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM o CROSS JOIN med m
      GROUP BY prio, m.m2
    ),
    tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS ta,
             CAST(SUM(b) AS BIGINT) AS tb,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cls
    ),
    contrib AS (
      SELECT CASE WHEN t.ta = 0 OR t.tb = 0 OR c.a + c.b = 0
                  THEN CAST(0 AS BIGINT) ELSE
               CAST(FLOOR(
                 (POWER(c.a - (c.a + c.b) * CAST(t.ta AS DOUBLE)
                                / (t.ta + t.tb), 2)
                  / ((c.a + c.b) * CAST(t.ta AS DOUBLE) / (t.ta + t.tb))
                  + POWER(c.b - (c.a + c.b) * CAST(t.tb AS DOUBLE)
                                  / (t.ta + t.tb), 2)
                    / ((c.a + c.b) * CAST(t.tb AS DOUBLE)
                       / (t.ta + t.tb)))
                 * 1e6 + 0.5) AS BIGINT)
             END AS c_e6
      FROM cls c CROSS JOIN tot t
    )
    SELECT t.k, m.m2,
           t.ta AS n_above, t.tb AS n_below,
           CASE WHEN t.ta > 0 AND t.tb > 0 THEN
             (SELECT CAST(SUM(c_e6) AS BIGINT) FROM contrib)
           END AS chi2_e6
    FROM tot t CROSS JOIN med m
    """,
)
def moods_median_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five order priorities: classify
    every order as above/below the GRAND median price and chi-square
    the k×2 table — the coarsest (and most outlier-proof) of the
    k-sample location tests, the one a skew-heavy money column
    actually wants. The doubled grand median (2·quantile_cont, an
    exact integer since cents are fixed-point) comes from the
    value-histogram quantile operator — shuffle bounded by distinct
    cent values, never a global sort; equal-to-median rows drop on
    both sides (the classic convention). Per-group chi-square
    contributions are floored once to e6 integers so the k-row sum is
    order-independent."""
    from local_stream_stack_spark.operators.quantiles import (
        exact_quantiles_by_value,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    med = exact_quantiles_by_value(
        o, {"cents": [0.5]}, keys=[], out_cols={"cents": ["med"]}
    ).select(
        F.expr("CAST(ROUND(2.0 * med) AS BIGINT)").alias("m2")
    )
    cls = (
        o.crossJoin(F.broadcast(med))
        .groupBy("prio", "m2")
        .agg(
            F.sum(F.expr("CASE WHEN 2 * cents > m2 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("a"),
            F.sum(F.expr("CASE WHEN 2 * cents < m2 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("b"),
        )
    )
    tot = cls.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
        F.count("*").cast("bigint").alias("k"),
    )
    chi2 = (
        cls.crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                """CASE WHEN ta = 0 OR tb = 0 OR a + b = 0
                        THEN CAST(0 AS BIGINT) ELSE
                     CAST(FLOOR(
                       (POWER(a - (a + b) * CAST(ta AS DOUBLE)
                                    / (ta + tb), 2)
                        / ((a + b) * CAST(ta AS DOUBLE) / (ta + tb))
                        + POWER(b - (a + b) * CAST(tb AS DOUBLE)
                                      / (ta + tb), 2)
                          / ((a + b) * CAST(tb AS DOUBLE)
                             / (ta + tb)))
                       * 1e6 + 0.5) AS BIGINT)
                   END"""
            ).alias("c_e6")
        )
        .agg(F.sum("c_e6").cast("bigint").alias("chi2_e6"))
    )
    return (
        tot.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(chi2))
        .select(
            "k",
            "m2",
            F.col("ta").alias("n_above"),
            F.col("tb").alias("n_below"),
            F.expr(
                "CASE WHEN ta > 0 AND tb > 0 THEN chi2_e6 END"
            ).alias("chi2_e6"),
        )
    )


@query(
    "bartlett_test_priority",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS prio,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT prio,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(cents) AS HUGEINT) AS s,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
      FROM o GROUP BY prio
    ),
    pg AS (
      SELECT * FROM (
        SELECT prio, n_g,
               (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                      / n_g) / (n_g - 1) AS s2
        FROM g WHERE n_g > 1
      ) x WHERE s2 > 0
    ),
    terms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             list_reduce(
               list(CAST((n_g - 1) * s2 AS DOUBLE) ORDER BY prio),
               (a, b) -> a + b) AS w_sum,
             CAST(SUM(CAST(FLOOR((n_g - 1) * LN(s2) * 1e9 + 0.5)
                           AS BIGINT)) AS BIGINT) AS lnterm_e9,
             CAST(SUM(CAST(FLOOR(1e15 / (n_g - 1)) AS BIGINT)) AS BIGINT)
               AS inv_e15
      FROM pg
    )
    SELECT k, n,
           CASE WHEN k > 1 AND w_sum > 0 THEN
             CAST(FLOOR(
               ((n - k) * LN(w_sum / (n - k))
                - CAST(lnterm_e9 AS DOUBLE) / 1e9)
               / (1.0 + (CAST(inv_e15 AS DOUBLE) / 1e15
                         - 1.0 / (n - k)) / (3.0 * (k - 1)))
               * 1e6 + 0.5) AS BIGINT)
           END AS t_e6
    FROM terms
    """,
)
def bartlett_test_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for homogeneity of variances across the five
    order priorities — the parametric gate before pooling variances
    in an ANOVA (Levene/Brown-Forsythe, already in the family, is its
    robust sibling; Bartlett is the more powerful choice when the
    normality assumption holds). Per-group variances come from exact
    integer moment sums; every cross-group reduction of doubles is
    floored to a scaled integer FIRST ((n_g−1)s² to units, the
    (n_g−1)·ln s² terms to e9, the 1/(n_g−1) correction terms to e15)
    so the k-row sums are order-independent, and the final statistic
    is one double tree rounded once to e6."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    g = o.groupBy("prio").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).alias("q"),
    )
    pg = (
        g.filter(F.col("n_g") > 1)
        .select(
            "prio",
            "n_g",
            F.expr(
                "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE)"
                " * CAST(s AS DOUBLE) / n_g) / (n_g - 1)"
            ).alias("s2"),
        )
        .filter(F.col("s2") > 0)
    )
    terms = pg.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        # the pooled-variance numerator reaches ~9e18 cents^2 at
        # sf0.1 (the x1/x10 curve caught a raw-BIGINT floor overflow,
        # and Spark's FLOOR(double) SATURATES at Long.MAX rather than
        # widening) — so the k-term double sum is made order-
        # independent by FIXING the fold order instead of
        # integerizing: both engines fold the per-group terms sorted
        # by group key, left to right
        F.expr(
            "aggregate(array_sort(collect_list(struct(prio,"
            " CAST((n_g - 1) * s2 AS DOUBLE) AS wg))),"
            " CAST(0.0 AS DOUBLE), (a, x) -> a + x.wg)"
        ).alias("w_sum"),
        F.sum(
            F.expr("CAST(FLOOR((n_g - 1) * LN(s2) * 1e9 + 0.5) AS BIGINT)")
        )
        .cast("bigint")
        .alias("lnterm_e9"),
        F.sum(F.expr("CAST(FLOOR(1e15 / (n_g - 1)) AS BIGINT)"))
        .cast("bigint")
        .alias("inv_e15"),
    )
    return terms.select(
        "k",
        "n",
        F.expr(
            """CASE WHEN k > 1 AND w_sum > 0 THEN
                 CAST(FLOOR(
                   ((n - k) * LN(w_sum / (n - k))
                    - CAST(lnterm_e9 AS DOUBLE) / 1e9)
                   / (1.0 + (CAST(inv_e15 AS DOUBLE) / 1e15
                             - 1.0 / (n - k)) / (3.0 * (k - 1)))
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("t_e6"),
    )


@query(
    "kendall_w_nation_months",
    oracle="""
    WITH nm AS (
      SELECT n.n_name AS judge,
             CAST(EXTRACT(month FROM CAST(o.o_orderdate AS DATE)) AS BIGINT)
               AS item,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT judge, item,
             2 * RANK() OVER (PARTITION BY judge ORDER BY rev_c)
               + CAST(COUNT(*) OVER (PARTITION BY judge, rev_c) AS BIGINT)
               - 1 AS r2
      FROM nm
    ),
    sizes AS (
      SELECT CAST(COUNT(DISTINCT judge) AS BIGINT) AS m,
             CAST(COUNT(DISTINCT item) AS BIGINT) AS n
      FROM nm
    ),
    rsum AS (
      SELECT item, CAST(SUM(r2) AS BIGINT) AS r2_i FROM ranked GROUP BY item
    ),
    s4 AS (
      SELECT CAST(SUM((r.r2_i - z.m * (z.n + 1))
                      * (r.r2_i - z.m * (z.n + 1))) AS BIGINT) AS s4
      FROM rsum r CROSS JOIN sizes z
    ),
    tie AS (
      SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS tj
      FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS t
        FROM nm GROUP BY judge, rev_c
      ) x
    )
    SELECT z.m, z.n, s.s4, t.tj,
           CAST(FLOOR(
             3.0 * s.s4
             / (CAST(z.m AS DOUBLE) * z.m * (z.n * z.n * z.n - z.n)
                - z.m * t.tj)
             * 1e6 + 0.5) AS BIGINT) AS w_e6
    FROM sizes z CROSS JOIN s4 s CROSS JOIN tie t
    """,
)
def kendall_w_nation_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W (coefficient of concordance): do the 25 nations
    agree on WHICH calendar months are the big-revenue months? Each
    nation ranks the 12 months by its own monthly revenue (average
    ranks for ties, kept as exact DOUBLED integers r2 = 2·rank +
    t − 1), W = 12·S/(m²(n³−n) − m·ΣT) computed from the doubled rank
    sums as 3·S4/denominator where S4 = Σ(R2_i − m(n+1))² — every
    intermediate an exact integer, one double division rounded once
    to e6. Ranking windows partition per judge (25 × 12 rows after
    the group-by collapse); the pair stage is rank-sum-sized, never
    |rows|²."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    nm = (
        o.join(
            F.broadcast(
                c.select("c_custkey", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("judge"),
            F.month(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("item"),
        )
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("rev_c")
        )
    )
    wrank = Window.partitionBy("judge").orderBy("rev_c")
    wtie = Window.partitionBy("judge", "rev_c")
    ranked = nm.select(
        "judge",
        "item",
        (
            2 * F.rank().over(wrank)
            + F.count("*").over(wtie).cast("bigint")
            - 1
        ).alias("r2"),
    )
    sizes = nm.agg(
        F.countDistinct("judge").cast("bigint").alias("m"),
        F.countDistinct("item").cast("bigint").alias("n"),
    )
    rsum = ranked.groupBy("item").agg(
        F.sum("r2").cast("bigint").alias("r2_i")
    )
    s4 = (
        rsum.crossJoin(F.broadcast(sizes))
        .select(
            F.expr(
                "(r2_i - m * (n + 1)) * (r2_i - m * (n + 1))"
            ).alias("d2")
        )
        .agg(F.sum("d2").cast("bigint").alias("s4"))
    )
    tie = (
        nm.groupBy("judge", "rev_c")
        .agg(F.count("*").cast("bigint").alias("t"))
        .agg(
            F.coalesce(F.sum(F.expr("t * t * t - t")), F.lit(0))
            .cast("bigint")
            .alias("tj")
        )
    )
    return (
        sizes.crossJoin(F.broadcast(s4))
        .crossJoin(F.broadcast(tie))
        .select(
            "m",
            "n",
            "s4",
            "tj",
            F.expr(
                """CAST(FLOOR(
                     3.0 * s4
                     / (CAST(m AS DOUBLE) * m * (n * n * n - n)
                        - m * tj)
                     * 1e6 + 0.5) AS BIGINT)"""
            ).alias("w_e6"),
        )
    )


@query(
    "fleiss_kappa_daily_raters",
    oracle="""
    WITH rated AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS subject,
             o_orderpriority AS cat,
             ROW_NUMBER() OVER (
               PARTITION BY CAST(o_orderdate AS DATE)
               ORDER BY o_orderkey) AS rn
      FROM orders
    ),
    kept AS (
      SELECT subject, cat FROM rated WHERE rn <= 5
    ),
    full_subj AS (
      SELECT subject FROM kept GROUP BY subject HAVING COUNT(*) = 5
    ),
    nij AS (
      SELECT k.subject, k.cat, CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM kept k JOIN full_subj f ON f.subject = k.subject
      GROUP BY k.subject, k.cat
    ),
    agg AS (
      SELECT CAST(COUNT(DISTINCT subject) AS BIGINT) AS n_subjects,
             CAST(SUM(n_ij * n_ij) AS BIGINT) AS sq_sum
      FROM nij
    ),
    catsum AS (
      SELECT CAST(SUM(cj * cj) AS HUGEINT) AS c2_sum
      FROM (SELECT CAST(SUM(n_ij) AS BIGINT) AS cj FROM nij GROUP BY cat) x
    )
    SELECT a.n_subjects,
           CAST(5 AS BIGINT) AS m_raters,
           CAST(FLOOR(
             (CAST(a.sq_sum - a.n_subjects * 5 AS DOUBLE)
              / (a.n_subjects * 5.0 * 4.0)) * 1e6 + 0.5) AS BIGINT)
             AS pbar_e6,
           CAST(FLOOR(
             (CAST(c.c2_sum AS DOUBLE)
              / (CAST(a.n_subjects AS DOUBLE) * 5.0
                 * CAST(a.n_subjects AS DOUBLE) * 5.0))
             * 1e6 + 0.5) AS BIGINT) AS pe_e6,
           CAST(FLOOR(
             ((CAST(a.sq_sum - a.n_subjects * 5 AS DOUBLE)
               / (a.n_subjects * 5.0 * 4.0))
              - (CAST(c.c2_sum AS DOUBLE)
                 / (CAST(a.n_subjects AS DOUBLE) * 5.0
                    * CAST(a.n_subjects AS DOUBLE) * 5.0)))
             / (1.0 - (CAST(c.c2_sum AS DOUBLE)
                       / (CAST(a.n_subjects AS DOUBLE) * 5.0
                          * CAST(a.n_subjects AS DOUBLE) * 5.0)))
             * 1e6 + 0.5) AS BIGINT) AS kappa_e6
    FROM agg a CROSS JOIN catsum c
    """,
)
def fleiss_kappa_daily_raters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fleiss' kappa — inter-annotator agreement for m raters per
    subject, the LLM-pipeline statistic for label-quality audits
    (Cohen's kappa handles exactly two raters; Fleiss generalizes to
    the m-way panels real annotation jobs run). Deterministic panel:
    each order DAY is a subject, its 5 lowest-orderkey orders are the
    raters, the priority class is the assigned category; days with
    fewer than 5 orders are dropped (Fleiss requires equal panel
    size). P̄ and P̄e reduce to three exact integers (Σn_ij², N, ΣC_j²)
    so kappa is one double tree rounded once to e6; the per-day
    panel-pick window partitions by day."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("subject").orderBy("o_orderkey")
    kept = (
        o.select(
            F.unix_date(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("subject"),
            F.col("o_orderpriority").alias("cat"),
            "o_orderkey",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    full_subj = (
        kept.groupBy("subject")
        .agg(F.count("*").alias("n_r"))
        .filter(F.col("n_r") == 5)
        .select("subject")
    )
    nij = (
        kept.join(full_subj, "subject")
        .groupBy("subject", "cat")
        .agg(F.count("*").cast("bigint").alias("n_ij"))
    )
    agg = nij.agg(
        F.countDistinct("subject").cast("bigint").alias("n_subjects"),
        F.sum(F.expr("n_ij * n_ij")).cast("bigint").alias("sq_sum"),
    )
    catsum = (
        nij.groupBy("cat")
        .agg(F.sum("n_ij").cast("bigint").alias("cj"))
        .agg(
            F.sum(
                F.col("cj").cast("decimal(38,0)")
                * F.col("cj").cast("decimal(38,0)")
            ).alias("c2_sum")
        )
    )
    return agg.crossJoin(F.broadcast(catsum)).select(
        "n_subjects",
        F.lit(5).cast("bigint").alias("m_raters"),
        F.expr(
            """CAST(FLOOR(
                 (CAST(sq_sum - n_subjects * 5 AS DOUBLE)
                  / (n_subjects * 5.0 * 4.0)) * 1e6 + 0.5) AS BIGINT)"""
        ).alias("pbar_e6"),
        F.expr(
            """CAST(FLOOR(
                 (CAST(c2_sum AS DOUBLE)
                  / (CAST(n_subjects AS DOUBLE) * 5.0
                     * CAST(n_subjects AS DOUBLE) * 5.0))
                 * 1e6 + 0.5) AS BIGINT)"""
        ).alias("pe_e6"),
        F.expr(
            """CAST(FLOOR(
                 ((CAST(sq_sum - n_subjects * 5 AS DOUBLE)
                   / (n_subjects * 5.0 * 4.0))
                  - (CAST(c2_sum AS DOUBLE)
                     / (CAST(n_subjects AS DOUBLE) * 5.0
                        * CAST(n_subjects AS DOUBLE) * 5.0)))
                 / (1.0 - (CAST(c2_sum AS DOUBLE)
                           / (CAST(n_subjects AS DOUBLE) * 5.0
                              * CAST(n_subjects AS DOUBLE) * 5.0)))
                 * 1e6 + 0.5) AS BIGINT)"""
        ).alias("kappa_e6"),
    )


@query(
    "benjamini_hochberg_nations",
    oracle="""
    WITH o AS (
      SELECT c.c_nationkey AS nk,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
      SELECT n.n_name AS nation,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(cents) AS HUGEINT) AS s_g
      FROM o JOIN nation n ON n.n_nationkey = o.nk
      GROUP BY n.n_name
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS HUGEINT) AS s,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
      FROM o
    ),
    ztab AS (
      SELECT g.nation, g.n_g,
             (CAST(g.s_g AS DOUBLE) / g.n_g - CAST(t.s AS DOUBLE) / t.n)
             / (SQRT((CAST(t.q AS DOUBLE) - CAST(t.s AS DOUBLE)
                      * CAST(t.s AS DOUBLE) / t.n) / (t.n - 1))
                / SQRT(CAST(g.n_g AS DOUBLE))) AS z
      FROM g CROSS JOIN tot t
    ),
    ptab AS (
      SELECT nation, n_g,
             CAST(FLOOR(z * 1e6 + 0.5) AS BIGINT) AS z_e6,
             1.0 - SQRT(1.0 - EXP(-2.0 * z * z / 3.141592653589793)) AS p
      FROM ztab
    ),
    ranked AS (
      SELECT a.nation, a.n_g, a.z_e6, a.p,
             CAST(COUNT(*) AS BIGINT) AS rnk
      FROM ptab a JOIN ptab b
        ON b.p < a.p OR (b.p = a.p AND b.nation <= a.nation)
      GROUP BY a.nation, a.n_g, a.z_e6, a.p
    ),
    cutoff AS (
      SELECT COALESCE(MAX(CASE WHEN p * 10 * (SELECT COUNT(*) FROM ptab)
                                    <= rnk THEN rnk END), 0) AS d
      FROM ranked
    )
    SELECT r.nation, r.n_g, r.z_e6,
           CAST(FLOOR(r.p * 1e9 + 0.5) AS BIGINT) AS p_e9,
           r.rnk,
           r.rnk <= c.d AS rejected
    FROM ranked r CROSS JOIN cutoff c
    ORDER BY r.rnk, r.nation
    """,
)
def benjamini_hochberg_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benjamini-Hochberg FDR correction over 25 simultaneous
    per-nation mean tests — the multiple-testing control every
    segment-level dashboard needs (25 uncorrected z-tests at p<0.1
    expect 2.5 false alarms; BH bounds the FALSE DISCOVERY RATE at
    q=0.10 by rejecting ranks 1..d where d = max{i : p(i) <= q·i/m}).
    The per-nation z uses exact integer moments; the two-sided p is
    the Polya closed form 1 − √(1 − exp(−2z²/π)) — an algebraic tree
    both engines evaluate identically (no erf dependency). Ranking is
    a broadcast theta-self-join over the 25-row p table (rank = count
    of (p, nation) pairs at-or-below — a total order, no global
    window); the cutoff comparison is cross-multiplied
    (10·p·m <= rank) so no division enters the decision."""
    o = (
        _t(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    g = (
        o.join(F.broadcast(n), F.col("nk") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("bigint").alias("n_g"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_g"),
        )
    )
    tot = o.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).alias("q"),
    )
    ptab = (
        g.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "n_g",
            F.expr(
                """(CAST(s_g AS DOUBLE) / n_g - CAST(s AS DOUBLE) / n)
                   / (SQRT((CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
                            * CAST(s AS DOUBLE) / n) / (n - 1))
                      / SQRT(CAST(n_g AS DOUBLE)))"""
            ).alias("z"),
        )
        .select(
            "nation",
            "n_g",
            F.expr("CAST(FLOOR(z * 1e6 + 0.5) AS BIGINT)").alias("z_e6"),
            F.expr(
                "1.0 - SQRT(1.0 - EXP(-2.0 * z * z"
                " / 3.141592653589793))"
            ).alias("p"),
        )
    )
    a = ptab.alias("a")
    b = ptab.select(
        F.col("nation").alias("nation_b"), F.col("p").alias("p_b")
    )
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("p_b") < F.col("p"))
            | (
                (F.col("p_b") == F.col("p"))
                & (F.col("nation_b") <= F.col("nation"))
            ),
        )
        .groupBy("nation", "n_g", "z_e6", "p")
        .agg(F.count("*").cast("bigint").alias("rnk"))
    )
    m = ptab.agg(F.count("*").cast("bigint").alias("m"))
    cutoff = (
        ranked.crossJoin(F.broadcast(m))
        .agg(
            F.coalesce(
                F.max(
                    F.expr(
                        "CASE WHEN p * 10 * m <= rnk THEN rnk END"
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("d")
        )
    )
    return (
        ranked.crossJoin(F.broadcast(cutoff))
        .select(
            "nation",
            "n_g",
            "z_e6",
            F.expr("CAST(FLOOR(p * 1e9 + 0.5) AS BIGINT)").alias("p_e9"),
            "rnk",
            (F.col("rnk") <= F.col("d")).alias("rejected"),
        )
        .orderBy("rnk", "nation")
    )


@query(
    "ansari_bradley_urgent",
    oracle="""
    WITH o AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS grp1,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    hist AS (
      SELECT cents,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(grp1) AS BIGINT) AS cnt1
      FROM o GROUP BY cents
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cnt1) AS BIGINT) AS n1
      FROM hist
    ),
    ranked AS (
      SELECT cents, cnt, cnt1,
             SUM(cnt) OVER (ORDER BY cents) AS cw
      FROM hist
    ),
    scored AS (
      SELECT r.cnt, r.cnt1,
             -- tie block covers ranks [a, b]; S2 = 2 * sum of
             -- Ansari scores min(i, N+1-i) over the block, exact
             -- integers via the piecewise arithmetic-series split at
             -- the center m = (N+1)/2
             CAST(FLOOR(CAST(
               (CASE WHEN LEAST(r.cw, (t.n + 1) // 2)
                          >= r.cw - r.cnt + 1
                     THEN (r.cw - r.cnt + 1 + LEAST(r.cw, (t.n + 1) // 2))
                          * (LEAST(r.cw, (t.n + 1) // 2)
                             - (r.cw - r.cnt + 1) + 1)
                     ELSE 0 END)
               + (CASE WHEN r.cw >= GREATEST(r.cw - r.cnt + 1,
                                             (t.n + 1) // 2 + 1)
                       THEN 2 * (t.n + 1)
                            * (r.cw - GREATEST(r.cw - r.cnt + 1,
                                               (t.n + 1) // 2 + 1) + 1)
                            - (GREATEST(r.cw - r.cnt + 1,
                                        (t.n + 1) // 2 + 1) + r.cw)
                              * (r.cw - GREATEST(r.cw - r.cnt + 1,
                                                 (t.n + 1) // 2 + 1) + 1)
                       ELSE 0 END)
               AS DOUBLE) / (2.0 * r.cnt) * 1e6 + 0.5) AS BIGINT)
               AS score_e6
      FROM ranked r CROSS JOIN tot t
    ),
    ab AS (
      SELECT CAST(SUM(cnt1 * score_e6) AS BIGINT) AS ab_e6 FROM scored
    )
    SELECT t.n1,
           t.n - t.n1 AS n2,
           a.ab_e6,
           CASE WHEN t.n1 > 0 AND t.n - t.n1 > 0 AND t.n > 2 THEN
             CAST(FLOOR(
               (CAST(a.ab_e6 AS DOUBLE) / 1e6
                - (CASE WHEN t.n % 2 = 0
                        THEN t.n1 * (t.n + 2.0) / 4.0
                        ELSE t.n1 * (t.n + 1.0) * (t.n + 1.0)
                             / (4.0 * t.n) END))
               / SQRT(CASE WHEN t.n % 2 = 0
                           THEN t.n1 * (t.n - t.n1) * (t.n + 2.0)
                                * (t.n - 2.0) / (48.0 * (t.n - 1.0))
                           ELSE t.n1 * (t.n - t.n1) * (t.n + 1.0)
                                * (3.0 + t.n * CAST(t.n AS DOUBLE))
                                / (48.0 * t.n * CAST(t.n AS DOUBLE))
                      END)
               * 1e6 + 0.5) AS BIGINT)
           END AS z_e6
    FROM tot t CROSS JOIN ab a
    """,
)
def ansari_bradley_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley scale test: do URGENT order prices have the same
    DISPERSION as the rest? — the rank-based member of the
    equal-variance family (Bartlett assumes normality, Levene/BF is
    moment-robust; A-B ranks from BOTH ENDS inward, so it needs no
    moments at all). Scores min(rank, N+1−rank) are computed per
    DISTINCT value block with exact arithmetic-series sums split at
    the center (doubled to stay integer), tie blocks get their exact
    average score floored once to e6, and the group-1 score sum is an
    exact integer. z uses the classic no-ties mean/variance (odd/even
    N forms). Scale: the cumulative rank over distinct cents runs on
    the distributed-rank operator (bin counts + partitioned windows —
    no single-reducer sort); everything downstream is
    histogram-sized."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.expr(
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        ).alias("grp1"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    hist = o.groupBy("cents").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("grp1").cast("bigint").alias("cnt1"),
    )
    tot = hist.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("cnt1").cast("bigint").alias("n1"),
    )
    ranked = with_global_rank(
        hist,
        "cents",
        out_rank="__rn",
        cumsum={"cnt": "cw"},
        acc_type="BIGINT",
        bins=64,
    )
    scored = ranked.crossJoin(F.broadcast(tot)).select(
        "cnt",
        "cnt1",
        F.expr(
            """CAST(FLOOR(CAST(
                 (CASE WHEN LEAST(cw, (n + 1) DIV 2) >= cw - cnt + 1
                       THEN (cw - cnt + 1 + LEAST(cw, (n + 1) DIV 2))
                            * (LEAST(cw, (n + 1) DIV 2)
                               - (cw - cnt + 1) + 1)
                       ELSE 0 END)
                 + (CASE WHEN cw >= GREATEST(cw - cnt + 1,
                                             (n + 1) DIV 2 + 1)
                         THEN 2 * (n + 1)
                              * (cw - GREATEST(cw - cnt + 1,
                                               (n + 1) DIV 2 + 1) + 1)
                              - (GREATEST(cw - cnt + 1,
                                          (n + 1) DIV 2 + 1) + cw)
                                * (cw - GREATEST(cw - cnt + 1,
                                                 (n + 1) DIV 2 + 1) + 1)
                         ELSE 0 END)
                 AS DOUBLE) / (2.0 * cnt) * 1e6 + 0.5) AS BIGINT)"""
        ).alias("score_e6"),
    )
    ab = scored.agg(
        F.sum(F.expr("cnt1 * score_e6")).cast("bigint").alias("ab_e6")
    )
    return tot.crossJoin(F.broadcast(ab)).select(
        "n1",
        (F.col("n") - F.col("n1")).alias("n2"),
        "ab_e6",
        F.expr(
            """CASE WHEN n1 > 0 AND n - n1 > 0 AND n > 2 THEN
                 CAST(FLOOR(
                   (CAST(ab_e6 AS DOUBLE) / 1e6
                    - (CASE WHEN n % 2 = 0
                            THEN n1 * (n + 2.0) / 4.0
                            ELSE n1 * (n + 1.0) * (n + 1.0)
                                 / (4.0 * n) END))
                   / SQRT(CASE WHEN n % 2 = 0
                               THEN n1 * (n - n1) * (n + 2.0)
                                    * (n - 2.0) / (48.0 * (n - 1.0))
                               ELSE n1 * (n - n1) * (n + 1.0)
                                    * (3.0 + n * CAST(n AS DOUBLE))
                                    / (48.0 * n * CAST(n AS DOUBLE))
                          END)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("z_e6"),
    )


@query(
    "cronbach_alpha_nation_months",
    oracle="""
    WITH nm AS (
      SELECT c.c_nationkey AS subj,
             CAST(EXTRACT(month FROM CAST(o.o_orderdate AS DATE))
                  AS BIGINT) AS item,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    subjects AS (SELECT CAST(COUNT(DISTINCT subj) AS BIGINT) AS n FROM nm),
    items AS (
      SELECT item,
             CAST(SUM(x) AS HUGEINT) AS s_i,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q_i
      FROM nm GROUP BY item
    ),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM items),
    itemvar AS (
      SELECT list_reduce(
               list(CAST(
                 (CAST(i.q_i AS DOUBLE)
                  - CAST(i.s_i AS DOUBLE) * CAST(i.s_i AS DOUBLE) / z.n)
                 / (z.n - 1) AS DOUBLE) ORDER BY i.item),
               (a, b) -> a + b) AS sum_var_i
      FROM items i CROSS JOIN subjects z
      GROUP BY z.n
    ),
    rows_tot AS (
      SELECT subj, CAST(SUM(x) AS BIGINT) AS t FROM nm GROUP BY subj
    ),
    totvar AS (
      SELECT CAST(SUM(CAST(t AS HUGEINT)) AS HUGEINT) AS st,
             CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS qt
      FROM rows_tot
    )
    SELECT kk.k AS k_items, z.n AS n_subjects,
           CASE WHEN kk.k > 1 AND z.n > 1
                 AND CAST(tv.qt AS DOUBLE)
                     - CAST(tv.st AS DOUBLE) * CAST(tv.st AS DOUBLE)
                       / z.n > 0 THEN
             CAST(FLOOR(
               (CAST(kk.k AS DOUBLE) / (kk.k - 1))
               * (1.0 - iv.sum_var_i
                        / ((CAST(tv.qt AS DOUBLE)
                            - CAST(tv.st AS DOUBLE)
                              * CAST(tv.st AS DOUBLE) / z.n)
                           / (z.n - 1)))
               * 1e6 + 0.5) AS BIGINT)
           END AS alpha_e6
    FROM k kk CROSS JOIN subjects z CROSS JOIN itemvar iv
    CROSS JOIN totvar tv
    """,
)
def cronbach_alpha_nation_months(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cronbach's alpha — internal-consistency reliability of the 12
    monthly revenue "items" across the 25 nation "subjects" (the
    psychometrics statistic a feature-quality audit reuses: do the
    months move together across nations, i.e. is "annual revenue
    level" a reliable one-dimensional signal?). alpha = k/(k−1) ·
    (1 − Σ var_item / var_rowsum); all moments are exact integers
    (missing cells contribute 0 through the sum-over-present-cells
    identity), and the k per-item variance doubles fold in a PINNED
    month order on both engines (the Bartlett lesson: order-fixing
    beats integerizing when cents² magnitudes brush Long.MAX).
    Grain-bounded: nothing downstream of the (nation × month) grid
    exceeds 300 rows."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nm = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("subj"),
            F.month(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("item"),
        )
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("x")
        )
    )
    subjects = nm.agg(
        F.countDistinct("subj").cast("bigint").alias("n")
    )
    items = nm.groupBy("item").agg(
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s_i"),
        F.sum(
            F.col("x").cast("decimal(38,0)")
            * F.col("x").cast("decimal(38,0)")
        ).alias("q_i"),
    )
    k = items.agg(F.count("*").cast("bigint").alias("k"))
    itemvar = (
        items.crossJoin(F.broadcast(subjects))
        .groupBy("n")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(item,"
                " CAST((CAST(q_i AS DOUBLE) - CAST(s_i AS DOUBLE)"
                " * CAST(s_i AS DOUBLE) / n) / (n - 1) AS DOUBLE)"
                " AS vi))), CAST(0.0 AS DOUBLE), (a, x) -> a + x.vi)"
            ).alias("sum_var_i")
        )
        .select("sum_var_i")
    )
    rows_tot = nm.groupBy("subj").agg(
        F.sum("x").cast("bigint").alias("t")
    )
    totvar = rows_tot.agg(
        F.sum(F.col("t").cast("decimal(38,0)")).alias("st"),
        F.sum(
            F.col("t").cast("decimal(38,0)")
            * F.col("t").cast("decimal(38,0)")
        ).alias("qt"),
    )
    return (
        k.crossJoin(F.broadcast(subjects))
        .crossJoin(F.broadcast(itemvar))
        .crossJoin(F.broadcast(totvar))
        .select(
            F.col("k").alias("k_items"),
            F.col("n").alias("n_subjects"),
            F.expr(
                """CASE WHEN k > 1 AND n > 1
                         AND CAST(qt AS DOUBLE)
                             - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                               / n > 0 THEN
                     CAST(FLOOR(
                       (CAST(k AS DOUBLE) / (k - 1))
                       * (1.0 - sum_var_i
                                / ((CAST(qt AS DOUBLE)
                                    - CAST(st AS DOUBLE)
                                      * CAST(st AS DOUBLE) / n)
                                   / (n - 1)))
                       * 1e6 + 0.5) AS BIGINT)
                   END"""
            ).alias("alpha_e6"),
        )
    )


@query(
    "mode_qty_by_flag",
    oracle="""
    WITH h AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_quantity) AS BIGINT) AS qty,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    mx AS (
      SELECT flag, MAX(cnt) AS max_cnt FROM h GROUP BY flag
    )
    SELECT h.flag,
           CAST(MIN(h.qty) AS BIGINT) AS mode_qty,
           CAST(MAX(h.cnt) AS BIGINT) AS mode_count
    FROM h JOIN mx ON mx.flag = h.flag AND h.cnt = mx.max_cnt
    GROUP BY h.flag
    ORDER BY h.flag
    """,
)
def mode_qty_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: the most frequent quantity per
    return flag with ties broken to the SMALLEST value — built-in
    mode() aggregates (Spark's and DuckDB's alike) leave tie order
    unspecified, which is exactly the nondeterminism a reproducible
    pipeline can't ship, so the mode is derived from the value
    histogram instead: (flag, qty) counts (partial-agg, shuffle
    bounded by distinct values), per-flag max count broadcast back,
    MIN over the argmax set. Everything integer-exact."""
    li = _t(spark, sf_dir, "lineitem")
    h = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("qty"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    mx = h.groupBy("flag").agg(F.max("cnt").alias("max_cnt"))
    return (
        h.join(F.broadcast(mx), "flag")
        .filter(F.col("cnt") == F.col("max_cnt"))
        .groupBy("flag")
        .agg(
            F.min("qty").cast("bigint").alias("mode_qty"),
            F.max("cnt").cast("bigint").alias("mode_count"),
        )
        .orderBy("flag")
    )


@query(
    "grouping_id_revenue",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS flag,
           COALESCE(l_linestatus, '<all>') AS status,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus)
                AS INT) AS gid,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS rev_c,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
    ORDER BY gid, flag, status
    """,
)
def grouping_id_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() markers over GROUPING SETS — the SQL-standard way a
    consumer tells a subtotal row from a genuine NULL group
    (`grouping_sets_revenue` covers the expansion itself; this adds
    the GROUPING/GROUPING_ID discriminator surface, with the composed
    gid = 2·g(flag) + g(status) matching the bit layout both engines
    define). COALESCE labels make the subtotal rows self-describing;
    revenue in exact integer cents. One Expand + partial/final hash
    aggregate — the same single-shuffle profile as any grouping-sets
    plan."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, '<all>') AS flag,
               COALESCE(l_linestatus, '<all>') AS status,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus)
                    AS INT) AS gid,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_c,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        ORDER BY gid, flag, status
        """
    )


@query(
    "brunner_munzel_urgent",
    oracle="""
    WITH o AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS g1,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    hist AS (
      SELECT cents,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(g1) AS BIGINT) AS cnt1
      FROM o GROUP BY cents
    ),
    cum AS (
      SELECT cents, cnt, cnt1, cnt - cnt1 AS cnt2,
             SUM(cnt) OVER (ORDER BY cents) AS cw,
             SUM(cnt1) OVER (ORDER BY cents) AS cw1,
             SUM(cnt - cnt1) OVER (ORDER BY cents) AS cw2
      FROM hist
    ),
    tot AS (
      SELECT CAST(SUM(cnt1) AS BIGINT) AS n1,
             CAST(SUM(cnt - cnt1) AS BIGINT) AS n2
      FROM hist
    ),
    marks AS (
      SELECT cnt1, cnt2,
             2 * (cw - cnt) + cnt + 1 AS m2,
             2 * cw1 - cnt1 + 1 AS m2g1,
             2 * cw2 - cnt2 + 1 AS m2g2
      FROM cum
    ),
    rsums AS (
      SELECT CAST(SUM(cnt1 * m2) AS HUGEINT) AS s2x,
             CAST(SUM(cnt2 * m2) AS HUGEINT) AS s2y
      FROM marks
    ),
    devs AS (
      SELECT
        CAST(SUM(CASE WHEN m.cnt1 > 0 THEN m.cnt1 *
          CAST(t.n1 * (m.m2 - m.m2g1) - r.s2x + t.n1 * (t.n1 + 1)
               AS HUGEINT)
          * CAST(t.n1 * (m.m2 - m.m2g1) - r.s2x + t.n1 * (t.n1 + 1)
                 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS ds1,
        CAST(SUM(CASE WHEN m.cnt2 > 0 THEN m.cnt2 *
          CAST(t.n2 * (m.m2 - m.m2g2) - r.s2y + t.n2 * (t.n2 + 1)
               AS HUGEINT)
          * CAST(t.n2 * (m.m2 - m.m2g2) - r.s2y + t.n2 * (t.n2 + 1)
                 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS ds2
      FROM marks m CROSS JOIN tot t CROSS JOIN rsums r
    )
    SELECT t.n1, t.n2,
           CAST(FLOOR(
             (CAST(r.s2y AS DOUBLE) / (2.0 * t.n2) - (t.n2 + 1) / 2.0)
             / t.n1 * 1e6 + 0.5) AS BIGINT) AS p_hat_e6,
           CASE WHEN t.n1 > 1 AND t.n2 > 1
                 AND CAST(d.ds1 AS DOUBLE) + CAST(d.ds2 AS DOUBLE) > 0
           THEN
             CAST(FLOOR(
               CAST(t.n1 AS DOUBLE) * t.n2
               * (CAST(r.s2y AS DOUBLE) / (2.0 * t.n2)
                  - CAST(r.s2x AS DOUBLE) / (2.0 * t.n1))
               / ((t.n1 + t.n2)
                  * SQRT(t.n1 * (CAST(d.ds1 AS DOUBLE)
                                 / (4.0 * t.n1 * t.n1 * (t.n1 - 1)))
                         + t.n2 * (CAST(d.ds2 AS DOUBLE)
                                   / (4.0 * t.n2 * t.n2 * (t.n2 - 1)))))
               * 1e6 + 0.5) AS BIGINT)
           END AS w_e6
    FROM tot t CROSS JOIN rsums r CROSS JOIN devs d
    """,
)
def brunner_munzel_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel test (URGENT vs rest order prices) — the
    modern replacement for Mann-Whitney when the two groups may have
    UNEQUAL variances/shapes (MW assumes exchangeability under H0; BM
    estimates the relative effect p̂ = P(X<Y) + ½P(X=Y) with its own
    variance from pooled-vs-within rank placements). Pooled and
    within-group TIE-AVERAGE ranks come from one multi-cumsum pass of
    the distributed-rank operator over the value histogram (doubled-
    integer midranks, no global row sort); each squared placement
    deviation is an exact scaled integer (×2n_g), summed in
    DECIMAL(38,0); the statistic is one double tree rounded once to
    e6 — the scipy `brunnermunzel` W under identical arithmetic."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.expr(
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        ).alias("g1"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    hist = o.groupBy("cents").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("g1").cast("bigint").alias("cnt1"),
    ).withColumn("cnt2", F.col("cnt") - F.col("cnt1"))
    cum = with_global_rank(
        hist,
        "cents",
        out_rank="__rn",
        cumsum={"cnt": "cw", "cnt1": "cw1", "cnt2": "cw2"},
        acc_type="BIGINT",
        bins=64,
    )
    tot = hist.agg(
        F.sum("cnt1").cast("bigint").alias("n1"),
        F.sum("cnt2").cast("bigint").alias("n2"),
    )
    marks = cum.select(
        "cnt1",
        "cnt2",
        (2 * (F.col("cw") - F.col("cnt")) + F.col("cnt") + 1).alias("m2"),
        (2 * F.col("cw1") - F.col("cnt1") + 1).alias("m2g1"),
        (2 * F.col("cw2") - F.col("cnt2") + 1).alias("m2g2"),
    )
    rsums = marks.agg(
        F.sum(
            F.col("cnt1").cast("decimal(38,0)")
            * F.col("m2").cast("decimal(38,0)")
        ).alias("s2x"),
        F.sum(
            F.col("cnt2").cast("decimal(38,0)")
            * F.col("m2").cast("decimal(38,0)")
        ).alias("s2y"),
    )
    devs = (
        marks.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(rsums))
        .agg(
            F.sum(
                F.expr(
                    """CASE WHEN cnt1 > 0 THEN
                         CAST(cnt1 AS DECIMAL(38,0))
                         * CAST(n1 * (m2 - m2g1) - s2x + n1 * (n1 + 1)
                                AS DECIMAL(38,0))
                         * CAST(n1 * (m2 - m2g1) - s2x + n1 * (n1 + 1)
                                AS DECIMAL(38,0))
                       ELSE CAST(0 AS DECIMAL(38,0)) END"""
                )
            ).alias("ds1"),
            F.sum(
                F.expr(
                    """CASE WHEN cnt2 > 0 THEN
                         CAST(cnt2 AS DECIMAL(38,0))
                         * CAST(n2 * (m2 - m2g2) - s2y + n2 * (n2 + 1)
                                AS DECIMAL(38,0))
                         * CAST(n2 * (m2 - m2g2) - s2y + n2 * (n2 + 1)
                                AS DECIMAL(38,0))
                       ELSE CAST(0 AS DECIMAL(38,0)) END"""
                )
            ).alias("ds2"),
        )
    )
    return (
        tot.crossJoin(F.broadcast(rsums))
        .crossJoin(F.broadcast(devs))
        .select(
            "n1",
            "n2",
            F.expr(
                """CAST(FLOOR(
                     (CAST(s2y AS DOUBLE) / (2.0 * n2) - (n2 + 1) / 2.0)
                     / n1 * 1e6 + 0.5) AS BIGINT)"""
            ).alias("p_hat_e6"),
            F.expr(
                """CASE WHEN n1 > 1 AND n2 > 1
                         AND CAST(ds1 AS DOUBLE) + CAST(ds2 AS DOUBLE) > 0
                   THEN
                     CAST(FLOOR(
                       CAST(n1 AS DOUBLE) * n2
                       * (CAST(s2y AS DOUBLE) / (2.0 * n2)
                          - CAST(s2x AS DOUBLE) / (2.0 * n1))
                       / ((n1 + n2)
                          * SQRT(n1 * (CAST(ds1 AS DOUBLE)
                                       / (4.0 * n1 * n1 * (n1 - 1)))
                                 + n2 * (CAST(ds2 AS DOUBLE)
                                         / (4.0 * n2 * n2 * (n2 - 1)))))
                       * 1e6 + 0.5) AS BIGINT)
                   END"""
            ).alias("w_e6"),
        )
    )


@query(
    "mcnemar_paired_flags",
    oracle="""
    WITH l AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS x,
             CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM l
    )
    SELECT n, b, c,
           CASE WHEN b + c > 0 THEN
             CAST(FLOOR(
               POWER(ABS(CAST(b AS DOUBLE) - c) - 1.0, 2)
               / (CAST(b AS DOUBLE) + c) * 1e6 + 0.5) AS BIGINT)
           END AS chi2_e6
    FROM agg
    """,
)
def mcnemar_paired_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired binary outcomes per lineitem — is a
    RETURNED line more likely than a kept line to also carry a deep
    discount? The paired-proportions classic: only the discordant
    cells matter (b = returned & low-discount, c = kept & deep),
    chi2 = (|b − c| − 1)² / (b + c) with the standard continuity
    correction. One scan, three exact integer counts, one double tree
    rounded once to e6 — the cheapest entry in the paired-test family
    (sign test = its sequential sibling on day pairs)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END").alias("x"),
        F.expr(
            "CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END"
        ).alias("y"),
    )
    return li.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("b"),
        F.sum(F.expr("CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c"),
    ).select(
        "n",
        "b",
        "c",
        F.expr(
            """CASE WHEN b + c > 0 THEN
                 CAST(FLOOR(
                   POWER(ABS(CAST(b AS DOUBLE) - c) - 1.0, 2)
                   / (CAST(b AS DOUBLE) + c) * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("chi2_e6"),
    )


@query(
    "jarque_bera_daily_revenue",
    oracle=f"""
    WITH {_DAYS_CTE},
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev_c) AS BIGINT) AS s
      FROM days
    ),
    dev AS (
      SELECT CAST(FLOOR(POWER((d.rev_c - CAST(t.s AS DOUBLE) / t.n)
                              / 1e8, 2) * 1e6 + 0.5) AS BIGINT) AS u2,
             CAST(FLOOR(POWER((d.rev_c - CAST(t.s AS DOUBLE) / t.n)
                              / 1e8, 3) * 1e6 + 0.5) AS BIGINT) AS u3,
             CAST(FLOOR(POWER((d.rev_c - CAST(t.s AS DOUBLE) / t.n)
                              / 1e8, 4) * 1e6 + 0.5) AS BIGINT) AS u4
      FROM days d CROSS JOIN tot t
    ),
    m AS (
      SELECT CAST(SUM(u2) AS BIGINT) AS s2,
             CAST(SUM(u3) AS BIGINT) AS s3,
             CAST(SUM(u4) AS BIGINT) AS s4
      FROM dev
    )
    SELECT t.n,
           CASE WHEN t.n > 1 AND m.s2 > 0 THEN
             CAST(FLOOR(
               (CAST(m.s3 AS DOUBLE) / t.n / 1e6)
               / POWER(CAST(m.s2 AS DOUBLE) / t.n / 1e6, 1.5)
               * 1e6 + 0.5) AS BIGINT)
           END AS skew_e6,
           CASE WHEN t.n > 1 AND m.s2 > 0 THEN
             CAST(FLOOR(
               (CAST(m.s4 AS DOUBLE) / t.n / 1e6)
               / POWER(CAST(m.s2 AS DOUBLE) / t.n / 1e6, 2)
               * 1e6 + 0.5) AS BIGINT)
           END AS kurt_e6,
           CASE WHEN t.n > 1 AND m.s2 > 0 THEN
             CAST(FLOOR(
               CAST(t.n AS DOUBLE) / 6.0
               * (POWER((CAST(m.s3 AS DOUBLE) / t.n / 1e6)
                        / POWER(CAST(m.s2 AS DOUBLE) / t.n / 1e6, 1.5), 2)
                  + POWER((CAST(m.s4 AS DOUBLE) / t.n / 1e6)
                          / POWER(CAST(m.s2 AS DOUBLE) / t.n / 1e6, 2)
                          - 3.0, 2) / 4.0)
               * 1e6 + 0.5) AS BIGINT)
           END AS jb_e6
    FROM tot t CROSS JOIN m
    """,
)
def jarque_bera_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on the daily-revenue series — the
    moment-based gate (skewness² + excess-kurtosis²) the z-score
    anomaly entries implicitly assume passes. Two passes: exact
    integer day-grain sums give the mean; per-day deviations are
    rescaled by a FIXED constant (skewness/kurtosis are
    scale-invariant, so /1e8 just keeps u⁴ inside BIGINT after the e6
    floor) and floored to integers BEFORE the cross-day sums, making
    the central moments order-independent; the statistic is one double
    tree per output rounded once to e6."""
    days = _daily_revenue(spark, sf_dir)
    tot = days.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rev_c").cast("bigint").alias("s"),
    )
    dev = days.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "CAST(FLOOR(POWER((rev_c - CAST(s AS DOUBLE) / n)"
            " / 1e8, 2) * 1e6 + 0.5) AS BIGINT)"
        ).alias("u2"),
        F.expr(
            "CAST(FLOOR(POWER((rev_c - CAST(s AS DOUBLE) / n)"
            " / 1e8, 3) * 1e6 + 0.5) AS BIGINT)"
        ).alias("u3"),
        F.expr(
            "CAST(FLOOR(POWER((rev_c - CAST(s AS DOUBLE) / n)"
            " / 1e8, 4) * 1e6 + 0.5) AS BIGINT)"
        ).alias("u4"),
    )
    m = dev.agg(
        F.sum("u2").cast("bigint").alias("s2"),
        F.sum("u3").cast("bigint").alias("s3"),
        F.sum("u4").cast("bigint").alias("s4"),
    )
    return tot.crossJoin(F.broadcast(m)).select(
        "n",
        F.expr(
            """CASE WHEN n > 1 AND s2 > 0 THEN
                 CAST(FLOOR(
                   (CAST(s3 AS DOUBLE) / n / 1e6)
                   / POWER(CAST(s2 AS DOUBLE) / n / 1e6, 1.5)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("skew_e6"),
        F.expr(
            """CASE WHEN n > 1 AND s2 > 0 THEN
                 CAST(FLOOR(
                   (CAST(s4 AS DOUBLE) / n / 1e6)
                   / POWER(CAST(s2 AS DOUBLE) / n / 1e6, 2)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("kurt_e6"),
        F.expr(
            """CASE WHEN n > 1 AND s2 > 0 THEN
                 CAST(FLOOR(
                   CAST(n AS DOUBLE) / 6.0
                   * (POWER((CAST(s3 AS DOUBLE) / n / 1e6)
                            / POWER(CAST(s2 AS DOUBLE) / n / 1e6, 1.5), 2)
                      + POWER((CAST(s4 AS DOUBLE) / n / 1e6)
                              / POWER(CAST(s2 AS DOUBLE) / n / 1e6, 2)
                              - 3.0, 2) / 4.0)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("jb_e6"),
    )


@query(
    "kuiper_test_urgent_price",
    oracle="""
    WITH o AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      FROM orders
    ),
    grp AS (
      SELECT cents,
             CAST(SUM(g1) AS BIGINT) AS c1,
             CAST(SUM(1 - g1) AS BIGINT) AS c2
      FROM o GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             SUM(c1) OVER (ORDER BY cents) AS f1,
             SUM(c2) OVER (ORDER BY cents) AS f2
      FROM grp
    ),
    tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM grp
    ),
    d AS (
      SELECT CAST(MAX(f1 * t.n2 - f2 * t.n1) AS BIGINT) AS d_plus,
             CAST(MAX(f2 * t.n1 - f1 * t.n2) AS BIGINT) AS d_minus
      FROM cum CROSS JOIN tot t
    )
    SELECT t.n1, t.n2, d.d_plus, d.d_minus,
           CAST((CAST(d.d_plus AS HUGEINT) + d.d_minus) * 1000000
                // NULLIF(CAST(t.n1 AS HUGEINT) * t.n2, 0) AS BIGINT)
             AS v_e6
    FROM d CROSS JOIN tot t
    """,
)
def kuiper_test_urgent_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper's statistic between URGENT and non-urgent order prices —
    the cyclic-sensitive sibling of the KS test (V = D⁺ + D⁻ weighs
    both tails equally, where KS's single sup-gap under-weights
    differences split across the tails). Same all-integer machinery as
    ``ks_test_urgent_price``: ECDF gaps maximized over the
    cross-multiplied integers f1·n2 − f2·n1 in BOTH directions, the
    distributed-rank cumsums over distinct cents, and one
    overflow-safe scaled division at the end."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        ).alias("g1"),
    )
    grp = o.groupBy("cents").agg(
        F.sum("g1").cast("bigint").alias("c1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("c2"),
    )
    cum = with_global_rank(
        grp, "cents", out_rank="__rn",
        cumsum={"c1": "f1", "c2": "f2"}, acc_type="BIGINT", bins=64,
    )
    tot = grp.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
            .cast("bigint")
            .alias("d_plus"),
            F.max(F.col("f2") * F.col("n1") - F.col("f1") * F.col("n2"))
            .cast("bigint")
            .alias("d_minus"),
        )
    )
    return d.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        "d_plus",
        "d_minus",
        F.expr(
            "CAST((CAST(d_plus AS DECIMAL(38,0)) + d_minus) * 1000000"
            " div NULLIF(CAST(n1 AS DECIMAL(38,0)) * n2, 0) AS BIGINT)"
        ).alias("v_e6"),
    )


@query(
    "dixon_q_daily_revenue",
    oracle=f"""
    WITH {_DAYS_CTE},
    ext AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(rev_c) AS BIGINT) AS x_lo,
             CAST(MAX(rev_c) AS BIGINT) AS x_hi
      FROM days
    ),
    inner_ext AS (
      SELECT CAST(MIN(CASE WHEN d.rev_c > e.x_lo THEN d.rev_c END)
                  AS BIGINT) AS x_lo2,
             CAST(MAX(CASE WHEN d.rev_c < e.x_hi THEN d.rev_c END)
                  AS BIGINT) AS x_hi2
      FROM days d CROSS JOIN ext e
    )
    SELECT e.n, e.x_lo, e.x_hi,
           CASE WHEN e.x_hi > e.x_lo AND i.x_lo2 IS NOT NULL THEN
             CAST(FLOOR(CAST(i.x_lo2 - e.x_lo AS DOUBLE)
                        / (e.x_hi - e.x_lo) * 1e6 + 0.5) AS BIGINT)
           END AS q_low_e6,
           CASE WHEN e.x_hi > e.x_lo AND i.x_hi2 IS NOT NULL THEN
             CAST(FLOOR(CAST(e.x_hi - i.x_hi2 AS DOUBLE)
                        / (e.x_hi - e.x_lo) * 1e6 + 0.5) AS BIGINT)
           END AS q_high_e6
    FROM ext e CROSS JOIN inner_ext i
    """,
)
def dixon_q_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon's Q ratio for the candidate outlier at each end of the
    daily-revenue series — gap-to-range screening (r10 form), the
    small-sample complement to Grubbs' z-based flag already in the
    family: Q = (nearest-neighbor gap of the suspect extreme) / range.
    Two aggregate passes over the calendar-bounded day grain (extremes,
    then conditional inner extremes against the broadcast extremes);
    every input to the final ratios is an exact integer."""
    days = _daily_revenue(spark, sf_dir)
    ext = days.agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("rev_c").cast("bigint").alias("x_lo"),
        F.max("rev_c").cast("bigint").alias("x_hi"),
    )
    inner = days.crossJoin(F.broadcast(ext)).agg(
        F.min(F.expr("CASE WHEN rev_c > x_lo THEN rev_c END"))
        .cast("bigint")
        .alias("x_lo2"),
        F.max(F.expr("CASE WHEN rev_c < x_hi THEN rev_c END"))
        .cast("bigint")
        .alias("x_hi2"),
    )
    return ext.crossJoin(F.broadcast(inner)).select(
        "n",
        "x_lo",
        "x_hi",
        F.expr(
            """CASE WHEN x_hi > x_lo AND x_lo2 IS NOT NULL THEN
                 CAST(FLOOR(CAST(x_lo2 - x_lo AS DOUBLE)
                            / (x_hi - x_lo) * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("q_low_e6"),
        F.expr(
            """CASE WHEN x_hi > x_lo AND x_hi2 IS NOT NULL THEN
                 CAST(FLOOR(CAST(x_hi - x_hi2 AS DOUBLE)
                            / (x_hi - x_lo) * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("q_high_e6"),
    )


@query(
    "anderson_darling_daily_revenue",
    oracle=f"""
    WITH {_DAYS_CTE},
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev_c) AS HUGEINT) AS s,
             CAST(SUM(CAST(rev_c AS HUGEINT) * rev_c) AS HUGEINT) AS q
      FROM days
    ),
    grp AS (
      SELECT rev_c AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM days GROUP BY rev_c
    ),
    cum AS (
      SELECT v, c, SUM(c) OVER (ORDER BY v) AS f FROM grp
    ),
    zt AS (
      SELECT cm.c, cm.f, t.n,
             (cm.v - CAST(t.s AS DOUBLE) / t.n)
             / SQRT((CAST(t.q AS DOUBLE) - CAST(t.s AS DOUBLE)
                     * CAST(t.s AS DOUBLE) / t.n) / (t.n - 1)) AS z
      FROM cum cm CROSS JOIN tot t
      WHERE t.n > 1
        AND (CAST(t.q AS DOUBLE) - CAST(t.s AS DOUBLE)
             * CAST(t.s AS DOUBLE) / t.n) > 0
    ),
    terms AS (
      SELECT CAST(SUM(CAST(FLOOR(
               (c * (2 * f - c)
                * LN(GREATEST(CASE WHEN z >= 0
                       THEN 0.5 * (1.0 + SQRT(1.0 - EXP(-2.0 * z * z
                                                / 3.141592653589793)))
                       ELSE 0.5 * (1.0 - SQRT(1.0 - EXP(-2.0 * z * z
                                                / 3.141592653589793)))
                     END, 1e-300))
                + c * (2 * n - 2 * f + c)
                  * LN(GREATEST(CASE WHEN z >= 0
                         THEN 0.5 * (1.0 - SQRT(1.0 - EXP(-2.0 * z * z
                                                  / 3.141592653589793)))
                         ELSE 0.5 * (1.0 + SQRT(1.0 - EXP(-2.0 * z * z
                                                  / 3.141592653589793)))
                       END, 1e-300)))
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s_e6
      FROM zt
    )
    SELECT t.n,
           CASE WHEN t.n > 1
                 AND (CAST(t.q AS DOUBLE) - CAST(t.s AS DOUBLE)
                      * CAST(t.s AS DOUBLE) / t.n) > 0 THEN
             CAST(FLOOR(
               (-CAST(t.n AS DOUBLE)
                - CAST(x.s_e6 AS DOUBLE) / 1e6 / t.n)
               * 1e6 + 0.5) AS BIGINT)
           END AS a2_e6
    FROM tot t CROSS JOIN terms x
    """,
)
def anderson_darling_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Anderson-Darling normality statistic for the daily-revenue
    series — the tail-weighted upgrade of the moment-based Jarque-Bera
    gate (A² weighs ECDF deviations by 1/(Φ(1−Φ)), so heavy tails that
    JB's kurtosis can miss dominate the sum). Fully distributed and
    order-independent: mean/sd from exact integer moments; the sorted
    ranks come from the distinct-value histogram + partitioned cumsum
    (the per-rank weights (2i−1) collapse per distinct value to the
    closed forms c(2F−c) and c(2n−2F+c), so ties need no ordering
    convention); Φ is the Pólya closed form with a 1e-300 clamp under
    the logs; every per-value term is floored to e6 BEFORE the global
    sum."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    days = _daily_revenue(spark, sf_dir)
    tot = days.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("rev_c").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("rev_c").cast("decimal(38,0)")
            * F.col("rev_c").cast("decimal(38,0)")
        ).alias("q"),
    )
    grp = days.groupBy(F.col("rev_c").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    cum = with_global_rank(
        grp, "v", out_rank="__rn", cumsum={"c": "f"},
        acc_type="BIGINT", bins=64,
    )
    zt = (
        cum.crossJoin(F.broadcast(tot))
        .filter(
            F.expr(
                "n > 1 AND (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)"
                " * CAST(s AS DOUBLE) / n) > 0"
            )
        )
        .select(
            "c",
            "f",
            "n",
            F.expr(
                """(v - CAST(s AS DOUBLE) / n)
                   / SQRT((CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
                           * CAST(s AS DOUBLE) / n) / (n - 1))"""
            ).alias("z"),
        )
    )
    terms = zt.agg(
        F.sum(
            F.expr(
                """CAST(FLOOR(
                     (c * (2 * f - c)
                      * LN(GREATEST(CASE WHEN z >= 0
                             THEN 0.5 * (1.0 + SQRT(1.0 - EXP(-2.0 * z * z
                                                      / 3.141592653589793)))
                             ELSE 0.5 * (1.0 - SQRT(1.0 - EXP(-2.0 * z * z
                                                      / 3.141592653589793)))
                           END, 1e-300))
                      + c * (2 * n - 2 * f + c)
                        * LN(GREATEST(CASE WHEN z >= 0
                               THEN 0.5 * (1.0 - SQRT(1.0 - EXP(-2.0 * z * z
                                                        / 3.141592653589793)))
                               ELSE 0.5 * (1.0 + SQRT(1.0 - EXP(-2.0 * z * z
                                                        / 3.141592653589793)))
                             END, 1e-300)))
                     * 1e6 + 0.5) AS BIGINT)"""
            )
        )
        .cast("bigint")
        .alias("s_e6")
    )
    return tot.crossJoin(F.broadcast(terms)).select(
        "n",
        F.expr(
            """CASE WHEN n > 1
                     AND (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
                          * CAST(s AS DOUBLE) / n) > 0 THEN
                 CAST(FLOOR(
                   (-CAST(n AS DOUBLE)
                    - CAST(s_e6 AS DOUBLE) / 1e6 / n)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("a2_e6"),
    )


@query(
    "cramer_von_mises_urgent_price",
    oracle="""
    WITH o AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      FROM orders
    ),
    grp AS (
      SELECT cents,
             CAST(SUM(g1) AS BIGINT) AS c1,
             CAST(SUM(1 - g1) AS BIGINT) AS c2
      FROM o GROUP BY cents
    ),
    cum AS (
      SELECT cents, c1, c2,
             SUM(c1) OVER (ORDER BY cents) AS f1,
             SUM(c2) OVER (ORDER BY cents) AS f2
      FROM grp
    ),
    tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM grp
    ),
    s AS (
      SELECT CAST(SUM(CAST(c1 + c2 AS HUGEINT)
                      * (f1 * t.n2 - f2 * t.n1)
                      * (f1 * t.n2 - f2 * t.n1)) AS HUGEINT) AS num
      FROM cum CROSS JOIN tot t
    )
    SELECT t.n1, t.n2,
           CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN
             CAST(FLOOR(
               CAST(s.num AS DOUBLE)
               / (CAST(t.n1 AS DOUBLE) * t.n2
                  * (t.n1 + t.n2) * (t.n1 + t.n2))
               * 1e6 + 0.5) AS BIGINT)
           END AS t_e6
    FROM s CROSS JOIN tot t
    """,
)
def cramer_von_mises_urgent_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Cramér-von Mises criterion between URGENT and
    non-urgent order prices — the INTEGRATED-squared-gap member of the
    ECDF family (KS takes the sup, Kuiper the two one-sided sups; CvM
    sums (F1−F2)² over every pooled observation, so diffuse
    distributional differences that never produce one big gap still
    register). Computational form T = Σ c·(f1·n2 − f2·n1)² /
    (n1·n2·N²) over the distinct-value histogram: the same
    cross-multiplied integers as the KS machinery, squared and
    count-weighted (DECIMAL/HUGEINT per-term products — they reach
    ~1e20 at sf0.1), with one double division at the end rounded to
    e6."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        ).alias("g1"),
    )
    grp = o.groupBy("cents").agg(
        F.sum("g1").cast("bigint").alias("c1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("c2"),
    )
    cum = with_global_rank(
        grp, "cents", out_rank="__rn",
        cumsum={"c1": "f1", "c2": "f2"}, acc_type="BIGINT", bins=64,
    )
    tot = grp.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    s = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                """CAST(c1 + c2 AS DECIMAL(38,0))
                   * CAST(f1 * n2 - f2 * n1 AS DECIMAL(38,0))
                   * CAST(f1 * n2 - f2 * n1 AS DECIMAL(38,0))"""
            ).alias("term")
        )
        .agg(F.sum("term").alias("num"))
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        F.expr(
            """CASE WHEN n1 > 0 AND n2 > 0 THEN
                 CAST(FLOOR(
                   CAST(num AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * n2
                      * (n1 + n2) * (n1 + n2))
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("t_e6"),
    )


@query(
    "periodogram_daily_revenue",
    oracle=f"""
    WITH {_DAYS_CTE},
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev_c) AS BIGINT) AS s
      FROM days
    ),
    periods AS (SELECT unnest([7, 14, 30]) AS p),
    terms AS (
      SELECT p.p,
             CAST(SUM(CAST(FLOOR(
               ((d.rev_c - CAST(t.s AS DOUBLE) / t.n) / 1e8)
               * COS(2.0 * 3.141592653589793 * (d.di % p.p) / p.p)
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sc_e6,
             CAST(SUM(CAST(FLOOR(
               ((d.rev_c - CAST(t.s AS DOUBLE) / t.n) / 1e8)
               * SIN(2.0 * 3.141592653589793 * (d.di % p.p) / p.p)
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS ss_e6
      FROM days d CROSS JOIN tot t CROSS JOIN periods p
      GROUP BY p.p
    )
    SELECT CAST(x.p AS INT) AS period,
           x.sc_e6, x.ss_e6,
           CASE WHEN t.n > 0 THEN
             CAST(FLOOR(
               (POWER(CAST(x.sc_e6 AS DOUBLE) / 1e6, 2)
                + POWER(CAST(x.ss_e6 AS DOUBLE) / 1e6, 2)) / t.n
               * 1e6 + 0.5) AS BIGINT)
           END AS power_e6
    FROM terms x CROSS JOIN tot t
    ORDER BY period
    """,
)
def periodogram_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schuster periodogram of the daily-revenue series at the
    candidate calendar periods (7/14/30 days) — the frequency-domain
    seasonality probe next to the time-domain tier (autocorrelation,
    seasonal-naive backtest, weekday decomposition): power at period p
    is the squared projection of the mean-centered series onto the
    cos/sin pair at that frequency. Deviations are rescaled by the
    same fixed constant as the Jarque-Bera entry, each cos/sin term is
    floored to an e6 integer BEFORE the cross-day sums (the memory
    rule for order-independent double folds), and the power roll-up is
    one double tree per period."""
    days = _daily_revenue(spark, sf_dir)
    tot = days.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rev_c").cast("bigint").alias("s"),
    )
    periods = spark.createDataFrame([(7,), (14,), (30,)], "p int")
    terms = (
        days.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(periods))
        .groupBy("p")
        .agg(
            F.sum(
                F.expr(
                    """CAST(FLOOR(
                         ((rev_c - CAST(s AS DOUBLE) / n) / 1e8)
                         * COS(2.0 * 3.141592653589793 * (di % p) / p)
                         * 1e6 + 0.5) AS BIGINT)"""
                )
            )
            .cast("bigint")
            .alias("sc_e6"),
            F.sum(
                F.expr(
                    """CAST(FLOOR(
                         ((rev_c - CAST(s AS DOUBLE) / n) / 1e8)
                         * SIN(2.0 * 3.141592653589793 * (di % p) / p)
                         * 1e6 + 0.5) AS BIGINT)"""
                )
            )
            .cast("bigint")
            .alias("ss_e6"),
        )
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            F.col("p").cast("int").alias("period"),
            "sc_e6",
            "ss_e6",
            F.expr(
                """CASE WHEN n > 0 THEN
                     CAST(FLOOR(
                       (POWER(CAST(sc_e6 AS DOUBLE) / 1e6, 2)
                        + POWER(CAST(ss_e6 AS DOUBLE) / 1e6, 2)) / n
                       * 1e6 + 0.5) AS BIGINT)
                   END"""
            ).alias("power_e6"),
        )
        .orderBy("period")
    )


@query(
    "pacf_daily_revenue",
    oracle=f"""
    WITH {_DAYS_CTE},
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev_c) AS BIGINT) AS s
      FROM days
    ),
    s0 AS (
      SELECT CAST(SUM(CAST(FLOOR(
               POWER((d.rev_c - CAST(t.s AS DOUBLE) / t.n) / 1e8, 2)
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM days d CROSS JOIN tot t
    ),
    s1 AS (
      SELECT CAST(SUM(CAST(FLOOR(
               ((a.rev_c - CAST(t.s AS DOUBLE) / t.n) / 1e8)
               * ((b.rev_c - CAST(t.s AS DOUBLE) / t.n) / 1e8)
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM days a JOIN days b ON b.di = a.di + 1 CROSS JOIN tot t
    ),
    s2 AS (
      SELECT CAST(SUM(CAST(FLOOR(
               ((a.rev_c - CAST(t.s AS DOUBLE) / t.n) / 1e8)
               * ((b.rev_c - CAST(t.s AS DOUBLE) / t.n) / 1e8)
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM days a JOIN days b ON b.di = a.di + 2 CROSS JOIN tot t
    )
    SELECT t.n,
           CASE WHEN s0.v > 0 THEN
             CAST(FLOOR(CAST(s1.v AS DOUBLE) / s0.v * 1e6 + 0.5) AS BIGINT)
           END AS r1_e6,
           CASE WHEN s0.v > 0 THEN
             CAST(FLOOR(CAST(s2.v AS DOUBLE) / s0.v * 1e6 + 0.5) AS BIGINT)
           END AS r2_e6,
           CASE WHEN s0.v > 0
                 AND ABS(1.0 - POWER(CAST(s1.v AS DOUBLE) / s0.v, 2))
                     > 1e-12 THEN
             CAST(FLOOR(
               (CAST(s2.v AS DOUBLE) / s0.v
                - POWER(CAST(s1.v AS DOUBLE) / s0.v, 2))
               / (1.0 - POWER(CAST(s1.v AS DOUBLE) / s0.v, 2))
               * 1e6 + 0.5) AS BIGINT)
           END AS pacf2_e6
    FROM tot t CROSS JOIN s0 CROSS JOIN s1 CROSS JOIN s2
    """,
)
def pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lag 2 via the
    Durbin-Levinson closed form φ22 = (r2 − r1²)/(1 − r1²) — the AR
    order-selection diagnostic next to the raw autocorrelation entry
    (r2 can be large purely because r1 is; φ22 isolates the DIRECT
    lag-2 effect). Lag pairs come from calendar equi-joins on di+k
    (the sign-test idiom — no ordered global window); every cross-day
    product is floored to an e6 integer before summing (the
    order-independence rule), and r1/r2/φ22 are double trees over
    those integer sums rounded once to e6. Biased (n-denominator) ACF
    normalization: both lags share the same Σu² denominator, which
    cancels in φ22's ratio structure."""
    days = _daily_revenue(spark, sf_dir)
    tot = days.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rev_c").cast("bigint").alias("s"),
    )
    s0 = (
        days.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.expr(
                    "CAST(FLOOR(POWER((rev_c - CAST(s AS DOUBLE) / n)"
                    " / 1e8, 2) * 1e6 + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("s0")
        )
    )

    def lag_sum(k: int, alias: str):
        b = days.select(
            (F.col("di") - k).alias("di"),
            F.col("rev_c").alias("rev_b"),
        )
        return (
            days.join(F.broadcast(b), "di")
            .crossJoin(F.broadcast(tot))
            .agg(
                F.sum(
                    F.expr(
                        "CAST(FLOOR("
                        "((rev_c - CAST(s AS DOUBLE) / n) / 1e8)"
                        " * ((rev_b - CAST(s AS DOUBLE) / n) / 1e8)"
                        " * 1e6 + 0.5) AS BIGINT)"
                    )
                )
                .cast("bigint")
                .alias(alias)
            )
        )

    s1 = lag_sum(1, "s1")
    s2 = lag_sum(2, "s2")
    return (
        tot.crossJoin(F.broadcast(s0))
        .crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(s2))
        .select(
            "n",
            F.expr(
                """CASE WHEN s0 > 0 THEN
                     CAST(FLOOR(CAST(s1 AS DOUBLE) / s0 * 1e6 + 0.5)
                          AS BIGINT)
                   END"""
            ).alias("r1_e6"),
            F.expr(
                """CASE WHEN s0 > 0 THEN
                     CAST(FLOOR(CAST(s2 AS DOUBLE) / s0 * 1e6 + 0.5)
                          AS BIGINT)
                   END"""
            ).alias("r2_e6"),
            F.expr(
                """CASE WHEN s0 > 0
                         AND ABS(1.0 - POWER(CAST(s1 AS DOUBLE) / s0, 2))
                             > 1e-12 THEN
                     CAST(FLOOR(
                       (CAST(s2 AS DOUBLE) / s0
                        - POWER(CAST(s1 AS DOUBLE) / s0, 2))
                       / (1.0 - POWER(CAST(s1 AS DOUBLE) / s0, 2))
                       * 1e6 + 0.5) AS BIGINT)
                   END"""
            ).alias("pacf2_e6"),
        )
    )


@query(
    "decision_stump_train",
    oracle="""
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_c,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    feat AS (
      SELECT 'quantity' AS feature, qty AS v, y FROM li
      UNION ALL
      SELECT 'discount_c' AS feature, disc_c AS v, y FROM li
    ),
    grp AS (
      SELECT feature, v,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(y) AS BIGINT) AS p
      FROM feat GROUP BY feature, v
    ),
    cum AS (
      SELECT feature, v,
             SUM(c) OVER (PARTITION BY feature ORDER BY v) AS n_l,
             SUM(p) OVER (PARTITION BY feature ORDER BY v) AS p_l
      FROM grp
    ),
    tot AS (
      SELECT feature, CAST(SUM(c) AS BIGINT) AS big_n,
             CAST(SUM(p) AS BIGINT) AS big_p
      FROM grp GROUP BY feature
    ),
    cand AS (
      SELECT c.feature, c.v AS threshold,
             CAST(c.n_l AS BIGINT) AS n_left,
             CAST(t.big_n - c.n_l AS BIGINT) AS n_right,
             CAST(c.p_l AS BIGINT) AS pos_left,
             CAST(t.big_p - c.p_l AS BIGINT) AS pos_right,
             CAST(FLOOR(
               (2.0 * t.big_p / t.big_n * (1.0 - CAST(t.big_p AS DOUBLE)
                                                  / t.big_n)
                - CAST(c.n_l AS DOUBLE) / t.big_n
                  * (2.0 * c.p_l / c.n_l
                     * (1.0 - CAST(c.p_l AS DOUBLE) / c.n_l))
                - CAST(t.big_n - c.n_l AS DOUBLE) / t.big_n
                  * (2.0 * (t.big_p - c.p_l) / (t.big_n - c.n_l)
                     * (1.0 - CAST(t.big_p - c.p_l AS DOUBLE)
                              / (t.big_n - c.n_l))))
               * 1e9 + 0.5) AS BIGINT) AS gain_e9
      FROM cum c JOIN tot t ON t.feature = c.feature
      WHERE c.n_l > 0 AND t.big_n - c.n_l > 0
    )
    SELECT feature, threshold, n_left, n_right, pos_left, pos_right,
           gain_e9
    FROM cand
    ORDER BY gain_e9 DESC, feature, threshold
    LIMIT 1
    """,
)
def decision_stump_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-level decision-tree training (a Gini stump) — the
    interpretable baseline every quality-classifier stack starts from
    (the logreg trainer in the family is its iterative sibling):
    over two integer features (quantity, discount cents) find the
    single split x <= t maximizing Gini gain for predicting a
    returned line. Every candidate threshold is evaluated from the
    per-feature distinct-value histogram + partitioned cumulative
    sums (counts and positives left of t are exact integers; the scan
    never re-reads data per threshold), the gain is one double tree
    per candidate floored to e9, and the argmax is a deterministic
    ORDER BY ... LIMIT 1 over those integers. Scale: one scan, one
    hash aggregate per feature, candidate set bounded by distinct
    feature values — the classic distributed-histogram tree-split
    pattern (XGBoost/LightGBM's approx mode)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(l_quantity AS BIGINT)").alias("qty"),
        F.expr("CAST(ROUND(l_discount * 100) AS BIGINT)").alias("disc_c"),
        F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END").alias(
            "y"
        ),
    )
    feat = li.select(
        F.lit("quantity").alias("feature"),
        F.col("qty").alias("v"),
        "y",
    ).unionByName(
        li.select(
            F.lit("discount_c").alias("feature"),
            F.col("disc_c").alias("v"),
            "y",
        )
    )
    grp = feat.groupBy("feature", "v").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("p"),
    )
    w = Window.partitionBy("feature").orderBy("v")
    cum = grp.select(
        "feature",
        "v",
        F.sum("c").over(w).alias("n_l"),
        F.sum("p").over(w).alias("p_l"),
    )
    tot = grp.groupBy("feature").agg(
        F.sum("c").cast("bigint").alias("big_n"),
        F.sum("p").cast("bigint").alias("big_p"),
    )
    cand = (
        cum.join(F.broadcast(tot), "feature")
        .filter(
            (F.col("n_l") > 0) & (F.col("big_n") - F.col("n_l") > 0)
        )
        .select(
            "feature",
            F.col("v").alias("threshold"),
            F.col("n_l").cast("bigint").alias("n_left"),
            (F.col("big_n") - F.col("n_l"))
            .cast("bigint")
            .alias("n_right"),
            F.col("p_l").cast("bigint").alias("pos_left"),
            (F.col("big_p") - F.col("p_l"))
            .cast("bigint")
            .alias("pos_right"),
            F.expr(
                """CAST(FLOOR(
                     (2.0 * big_p / big_n * (1.0 - CAST(big_p AS DOUBLE)
                                                    / big_n)
                      - CAST(n_l AS DOUBLE) / big_n
                        * (2.0 * p_l / n_l
                           * (1.0 - CAST(p_l AS DOUBLE) / n_l))
                      - CAST(big_n - n_l AS DOUBLE) / big_n
                        * (2.0 * (big_p - p_l) / (big_n - n_l)
                           * (1.0 - CAST(big_p - p_l AS DOUBLE)
                                    / (big_n - n_l))))
                     * 1e9 + 0.5) AS BIGINT)"""
            ).alias("gain_e9"),
        )
    )
    return cand.orderBy(
        F.desc("gain_e9"), F.asc("feature"), F.asc("threshold")
    ).limit(1)


@query(
    "welch_anova_priority",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS prio,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT prio,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(cents) AS HUGEINT) AS s,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
      FROM o GROUP BY prio
    ),
    pg AS (
      SELECT * FROM (
        SELECT prio, n_g,
               CAST(s AS DOUBLE) / n_g AS mean_g,
               (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                      / n_g) / (n_g - 1) AS s2
        FROM g WHERE n_g > 1
      ) x WHERE s2 > 0
    ),
    wsum AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             list_reduce(list(n_g / s2 ORDER BY prio),
                         (a, b) -> a + b) AS w,
             list_reduce(list(n_g / s2 * mean_g ORDER BY prio),
                         (a, b) -> a + b) AS wm
      FROM pg
    ),
    parts AS (
      SELECT z.k, z.w,
             list_reduce(
               list(p.n_g / p.s2
                    * POWER(p.mean_g - z.wm / z.w, 2) ORDER BY p.prio),
               (a, b) -> a + b) AS num,
             list_reduce(
               list(POWER(1.0 - (p.n_g / p.s2) / z.w, 2) / (p.n_g - 1)
                    ORDER BY p.prio),
               (a, b) -> a + b) AS h
      FROM pg p CROSS JOIN wsum z
      GROUP BY z.k, z.w, z.wm
    )
    SELECT k,
           CASE WHEN k > 1 THEN
             CAST(FLOOR(
               (num / (k - 1))
               / (1.0 + 2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1.0) * h)
               * 1e6 + 0.5) AS BIGINT)
           END AS f_e6,
           CASE WHEN k > 1 THEN
             CAST(FLOOR(
               (CAST(k AS DOUBLE) * k - 1.0) / (3.0 * h) * 1e6 + 0.5)
               AS BIGINT)
           END AS df2_e6
    FROM parts
    """,
)
def welch_anova_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA across the five order
    priorities — the k-sample mean test that does NOT assume equal
    variances (classic ANOVA F, already in the family, pools them;
    Bartlett gates that pooling; Welch is what you run when Bartlett
    rejects). Per-group means/variances come from exact integer
    moment sums; every cross-group reduction of doubles (Σw_j,
    Σw_j·x̄_j, the weighted between-group sum, the h correction) is a
    PINNED-ORDER fold over the group key (the Bartlett idiom — both
    engines fold sorted by priority, left to right), and the statistic
    plus its Welch-Satterthwaite df2 are double trees rounded once to
    e6."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    g = o.groupBy("prio").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).alias("q"),
    )
    pg = (
        g.filter(F.col("n_g") > 1)
        .select(
            "prio",
            "n_g",
            F.expr("CAST(s AS DOUBLE) / n_g").alias("mean_g"),
            F.expr(
                "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE)"
                " * CAST(s AS DOUBLE) / n_g) / (n_g - 1)"
            ).alias("s2"),
        )
        .filter(F.col("s2") > 0)
    )
    wsum = pg.agg(
        F.count("*").cast("bigint").alias("k"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(prio,"
            " n_g / s2 AS wg))), CAST(0.0 AS DOUBLE),"
            " (a, x) -> a + x.wg)"
        ).alias("w"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(prio,"
            " n_g / s2 * mean_g AS wmg))), CAST(0.0 AS DOUBLE),"
            " (a, x) -> a + x.wmg)"
        ).alias("wm"),
    )
    parts = pg.crossJoin(F.broadcast(wsum)).agg(
        F.max("k").alias("k"),
        F.max("w").alias("w"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(prio,"
            " n_g / s2 * POWER(mean_g - wm / w, 2) AS t))),"
            " CAST(0.0 AS DOUBLE), (a, x) -> a + x.t)"
        ).alias("num"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(prio,"
            " POWER(1.0 - (n_g / s2) / w, 2) / (n_g - 1) AS t))),"
            " CAST(0.0 AS DOUBLE), (a, x) -> a + x.t)"
        ).alias("h"),
    )
    return parts.select(
        "k",
        F.expr(
            """CASE WHEN k > 1 THEN
                 CAST(FLOOR(
                   (num / (k - 1))
                   / (1.0 + 2.0 * (k - 2)
                      / (CAST(k AS DOUBLE) * k - 1.0) * h)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("f_e6"),
        F.expr(
            """CASE WHEN k > 1 THEN
                 CAST(FLOOR(
                   (CAST(k AS DOUBLE) * k - 1.0) / (3.0 * h)
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("df2_e6"),
    )
