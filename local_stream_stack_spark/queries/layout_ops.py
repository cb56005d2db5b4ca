"""Data-layout queries: Z-order clustering and compaction planning.

The scan-layer tier of a 100 TB pipeline: these queries PLAN physical
layout (multi-dimensional clustering, small-file bin-packing) with
pure integer expression math, so every decision is deterministic and
oracle-verified. See operators/layout.py for the scale rationale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from local_stream_stack_spark.catalog import oracle_table as _t
from local_stream_stack_spark.operators.layout import zorder_sql, zorder_value
from local_stream_stack_spark.queries.registry import query
from local_stream_stack_spark.utils.ts import epoch_s


_Z_DIMS_SQL = [
    "user_id % 256",
    "(CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 60) % 256",
]


@query(
    "zorder_layout_events",
    oracle=f"""
    WITH z AS (
      SELECT {zorder_sql(_Z_DIMS_SQL, bits=8)} AS zval,
             user_id % 256 AS u,
             (CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 60)
               % 256 AS tb
      FROM events
    )
    SELECT zval // 1024 AS file_id,
           COUNT(*) AS n_rows,
           CAST(MIN(u) AS BIGINT) AS u_min, CAST(MAX(u) AS BIGINT) AS u_max,
           CAST(MIN(tb) AS BIGINT) AS tb_min,
           CAST(MAX(tb) AS BIGINT) AS tb_max
    FROM z
    GROUP BY zval // 1024
    ORDER BY file_id
    """,
)
def zorder_layout_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering plan for the events table: interleave the
    bits of (user bucket, minute-of-epoch bucket) into a Morton code,
    cut the code space into files, and report each file's min/max span
    in BOTH dimensions — the zone map a scan would prune against.
    Because the Morton curve keeps both dimensions local, every file's
    (u, tb) bounding box is tight, so predicates on EITHER column skip
    most files; a single-key sort gives tight boxes in one dimension
    only. This is the layout step behind Delta/Iceberg
    ``OPTIMIZE ZORDER BY`` expressed as a first-class query.

    Plan: the interleave is a pure bitwise codegen expression (no UDF),
    one hash aggregate on the file id — scan-shaped, no extra shuffle
    beyond the aggregate. At 100 TB the same expression becomes the
    ``repartitionByRange`` / write-sort key; file count scales with
    data (here: 16-bit code space // 1024 = 64 files).

    Oracle: identical integer Morton math (operators/layout.zorder_sql
    generates the same bit-interleave SQL the DataFrame expression
    evaluates)."""
    e = _t(spark, sf_dir, "events")
    u = (F.col("user_id") % 256).cast("bigint")
    tb = (F.floor(epoch_s("ts") / 60).cast("bigint") % 256).cast("bigint")
    z = e.select(
        zorder_value([u, tb], bits=8).alias("zval"),
        u.alias("u"),
        tb.alias("tb"),
    )
    return (
        z.groupBy(F.expr("zval div 1024").alias("file_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max"),
            F.min("tb").alias("tb_min"),
            F.max("tb").alias("tb_max"),
        )
        .orderBy("file_id")
    )


@query(
    "compaction_bin_packing",
    oracle="""
    WITH sized AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_chars
               AS offset_chars
      FROM documents
    )
    SELECT source,
           CAST(offset_chars // 200000 AS BIGINT) AS bin,
           COUNT(*) AS n_files,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM sized
    GROUP BY source, offset_chars // 200000
    ORDER BY source, bin
    """,
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION planner: greedily pack each partition's
    files (here: documents standing in for data files, sized by
    n_chars) into ~200 KB bins by prefix-sum offset — the planning
    step of an OPTIMIZE/compact job, which then rewrites each bin as
    one file. Deterministic: bin assignment is the integer starting
    offset divided by the target, over a fixed (source, doc_id) order.

    Scale: the running sum windows PER SOURCE PARTITION — never a
    global single-reducer window; a real lakehouse table compacts per
    partition exactly like this (files within a partition, ordered,
    prefix-summed, cut at the size target). One shuffle on source for
    the window, one aggregate on (source, bin)."""
    d = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = d.select(
        "source",
        "doc_id",
        "n_chars",
        (F.sum("n_chars").over(w) - F.col("n_chars")).alias("offset_chars"),
    )
    return (
        sized.groupBy(
            "source", F.expr("offset_chars div 200000").alias("bin")
        )
        .agg(
            F.count("*").alias("n_files"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source", "bin")
    )


@query(
    "zonemap_pruning_stats",
    oracle=f"""
    WITH z AS (
      SELECT {zorder_sql(_Z_DIMS_SQL, bits=8)} AS zval,
             user_id % 256 AS u,
             (CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 60)
               % 256 AS tb
      FROM events
    ),
    za AS (
      SELECT u // 4 AS file_id, MIN(tb) AS tb_min, MAX(tb) AS tb_max,
             COUNT(*) AS n_rows
      FROM z GROUP BY u // 4
    ),
    zb AS (
      SELECT zval // 1024 AS file_id, MIN(tb) AS tb_min, MAX(tb) AS tb_max,
             COUNT(*) AS n_rows
      FROM z GROUP BY zval // 1024
    ),
    sa AS (
      SELECT 'user_sorted' AS layout,
             COUNT(*) AS n_files,
             SUM(CASE WHEN tb_max >= 96 AND tb_min <= 103
                      THEN 1 ELSE 0 END) AS files_scanned,
             SUM(CASE WHEN tb_max >= 96 AND tb_min <= 103
                      THEN n_rows ELSE 0 END) AS rows_scanned
      FROM za
    ),
    sb AS (
      SELECT 'zorder' AS layout,
             COUNT(*) AS n_files,
             SUM(CASE WHEN tb_max >= 96 AND tb_min <= 103
                      THEN 1 ELSE 0 END) AS files_scanned,
             SUM(CASE WHEN tb_max >= 96 AND tb_min <= 103
                      THEN n_rows ELSE 0 END) AS rows_scanned
      FROM zb
    )
    SELECT layout, CAST(n_files AS BIGINT) AS n_files,
           CAST(files_scanned AS BIGINT) AS files_scanned,
           CAST(rows_scanned AS BIGINT) AS rows_scanned
    FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb) t
    ORDER BY layout
    """,
)
def zonemap_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-SKIPPING payoff of the Z-order layout, quantified: build
    per-file (min, max) zone maps on the time dimension under two
    64-file layouts — single-key user-sorted (files cut on the user
    bucket) and Z-ordered (files cut on the Morton code) — then count
    how many files an 8-minute time-band predicate (tb in [96, 103])
    must scan under each. Under the user-sorted layout the time
    dimension is uncorrelated with the cut key, so every file's span
    covers the band and nothing skips; under the Z-order cut the same
    predicate touches only the files whose hyper-rectangle intersects
    the band — the measured difference IS the scan saving a 100 TB
    table gets from ``OPTIMIZE ZORDER BY``.

    Plan: one scan, two grid-bounded aggregates (<= 64 rows each), a
    two-row union — no extra shuffle beyond the aggregates. Pure
    integer math, bit-identical on both engines."""
    e = _t(spark, sf_dir, "events")
    u = (F.col("user_id") % 256).cast("bigint")
    tb = (F.floor(epoch_s("ts") / 60).cast("bigint") % 256).cast("bigint")
    z = e.select(
        zorder_value([u, tb], bits=8).alias("zval"),
        u.alias("u"),
        tb.alias("tb"),
    )

    def stats(file_id: F.Column, layout: str) -> DataFrame:
        zone = z.groupBy(file_id.alias("file_id")).agg(
            F.min("tb").alias("tb_min"),
            F.max("tb").alias("tb_max"),
            F.count("*").alias("n_rows"),
        )
        hit = (F.col("tb_max") >= 96) & (F.col("tb_min") <= 103)
        return zone.agg(
            F.lit(layout).alias("layout"),
            F.count("*").cast("bigint").alias("n_files"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias(
                "files_scanned"
            ),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
        ).select("layout", "n_files", "files_scanned", "rows_scanned")

    return (
        stats(F.expr("u div 4"), "user_sorted")
        .unionByName(stats(F.expr("zval div 1024"), "zorder"))
        .orderBy("layout")
    )


@query(
    "bitmap_zone_intersection",
    oracle="""
    WITH b AS (
      SELECT event_id // 62 AS zone,
             event_id % 62 AS pos,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pa,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS pb
      FROM events
    ),
    z AS (
      SELECT zone,
             CAST(bit_or(CASE WHEN pa = 1
                  THEN CAST(1 AS BIGINT) << pos ELSE 0 END) AS BIGINT)
               AS ma,
             CAST(bit_or(CASE WHEN pb = 1
                  THEN CAST(1 AS BIGINT) << pos ELSE 0 END) AS BIGINT)
               AS mb
      FROM b GROUP BY zone
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_zones,
           CAST(SUM(bit_count(ma)) AS BIGINT) AS rows_a,
           CAST(SUM(bit_count(mb)) AS BIGINT) AS rows_b,
           CAST(SUM(bit_count(ma & mb)) AS BIGINT) AS rows_and,
           CAST(SUM(CASE WHEN ma <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zones_a,
           CAST(SUM(CASE WHEN mb <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zones_b,
           CAST(SUM(CASE WHEN (ma & mb) <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zones_and
    FROM z
    """,
)
def bitmap_zone_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index intersection audit — the zone-level AND that a
    bitmap-indexed store (Druid/Pinot/ORC row-group bloom layouts)
    runs to combine two predicates before touching any rows: each
    62-row zone packs per-predicate membership into one BIGINT mask
    (event_id is dense and unique, so ``id % 62`` is collision-free
    within its ``id // 62`` zone), predicate conjunction becomes
    ``bit_count(ma & mb)``, and zone pruning is ``(ma & mb) <> 0``.
    One shuffle on the zone key, then a scalar roll-up: rows_and
    equals the direct conjunctive count by construction (that's the
    audit), and the zones_and/n_zones ratio is the fraction of zones
    a combined scan must read."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("event_id div 62").alias("zone"),
        F.expr("event_id % 62").alias("pos"),
        F.expr(
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        ).alias("pa"),
        F.expr("CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END").alias("pb"),
    )
    z = e.groupBy("zone").agg(
        F.expr(
            "bit_or(CASE WHEN pa = 1"
            " THEN shiftleft(CAST(1 AS BIGINT), pos) ELSE 0 END)"
        )
        .cast("bigint")
        .alias("ma"),
        F.expr(
            "bit_or(CASE WHEN pb = 1"
            " THEN shiftleft(CAST(1 AS BIGINT), pos) ELSE 0 END)"
        )
        .cast("bigint")
        .alias("mb"),
    )
    return z.agg(
        F.count("*").cast("bigint").alias("n_zones"),
        F.sum(F.bit_count("ma")).cast("bigint").alias("rows_a"),
        F.sum(F.bit_count("mb")).cast("bigint").alias("rows_b"),
        F.sum(F.bit_count(F.expr("ma & mb"))).cast("bigint").alias(
            "rows_and"
        ),
        F.sum(F.expr("CASE WHEN ma <> 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("zones_a"),
        F.sum(F.expr("CASE WHEN mb <> 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("zones_b"),
        F.sum(F.expr("CASE WHEN (ma & mb) <> 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("zones_and"),
    )
