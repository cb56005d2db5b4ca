"""Window-function queries: ranking, analytic, frame specs.

SURVEY.md §2B "Window functions" — absent from the reference, planned
on Spark's `Window` spec. Each window carries a total order (unique-key
tiebreaker) so results are deterministic and oracle-comparable.

Scale note: a window over `partitionBy(k)` is one shuffle on k; frames
evaluate incrementally (no per-row rescan). Ranking-filter queries get
Spark's WindowGroupLimit pushdown so executors drop rows early.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from local_stream_stack_spark.catalog import oracle_table as _t
from local_stream_stack_spark.queries.registry import query
from local_stream_stack_spark.utils.ts import epoch_us


@query(
    "window_ranking",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile over one window spec."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "window_analytic",
    oracle="""
    SELECT event_id, user_id,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
           LAG(event_type) OVER w AS prev_type,
           LEAD(event_type) OVER w AS next_type,
           FIRST_VALUE(event_type) OVER w AS first_type,
           CAST(epoch_us(CAST(LAG(ts) OVER w AS TIMESTAMP)) AS BIGINT) AS prev_ts_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead / first_value over per-user event-time order.

    Timestamps are emitted as epoch microseconds (BIGINT) so the
    Spark(us) vs DuckDB(ns) parquet timestamp readers compare equal.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("ts_us"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"),
        epoch_us(F.lag("ts").over(w)).alias("prev_ts_us"),
    )


@query(
    "window_frames",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS last3_total,
           COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
    FROM orders
    """,
)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame specs: running cumulative sum, rolling 3-row sum, and an
    unbounded (whole-partition) count. DECIMAL accumulation keeps the
    running sums exact so both engines agree bit-for-bit."""
    o = _t(spark, sf_dir, "orders")
    ordered = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dec = F.col("o_totalprice").cast("decimal(14,2)")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(dec)
        .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_total"),
        F.sum(dec)
        .over(ordered.rowsBetween(-2, Window.currentRow))
        .cast("double")
        .alias("last3_total"),
        F.count("*").over(Window.partitionBy("o_custkey")).alias("n_orders"),
    )


@query(
    "window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           ROUND(CAST(o_totalprice AS DOUBLE)
             - CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER p, 2)
                    AS DOUBLE) / COUNT(*) OVER p,
             4) AS delta_from_prio_avg
    FROM orders
    WHERE o_orderkey <= 2000
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey),
           p AS (PARTITION BY o_orderpriority)
    ORDER BY o_orderkey
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist plus an unbounded-frame analytic
    (delta from partition average) — the distribution-rank surface.
    percent_rank/cume_dist are integer-ratio doubles (rank/n), so the
    6-dp round is engine-stable; the partition average is the exact
    decimal-sum/count form (a plain double AVG would be summation-
    order dependent across engines). The o_orderkey filter keeps the
    oracle result small without changing the shapes."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    p = Window.partitionBy("o_orderpriority")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round(
                F.col("o_totalprice").cast("double")
                - F.expr(
                    "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))) "
                    "OVER (PARTITION BY o_orderpriority), 2) AS DOUBLE)"
                )
                / F.count("*").over(p),
                4,
            ).alias("delta_from_prio_avg"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                 PARTITION BY user_id
                 ORDER BY CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS trailing_1h_sum
    FROM events
    ORDER BY event_id
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE BETWEEN frame: per-user trailing-1-hour value sum keyed on
    event-time seconds (value-based frame, peers included — unlike the
    rowsBetween frames in window_frames). DECIMAL accumulation keeps
    the within-frame sum order-independent for the oracle compare."""
    e = _t(spark, sf_dir, "events")
    e = e.withColumn("__epoch_s", F.floor(epoch_us("ts") / 1_000_000))
    w = (
        Window.partitionBy("user_id")
        .orderBy("__epoch_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            epoch_us("ts").alias("ts_us"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .over(w)
            .cast("double")
            .alias("trailing_1h_sum"),
        )
        .orderBy("event_id")
    )
