"""End-to-end Structured Streaming queries with DuckDB oracles.

The rest of the streaming surface is covered two ways: identical
logical plans run in batch form (``events_ops``, oracle-checked) and
live micro-batch runs in pytest with hand-built inputs
(``tests/test_streaming.py``). These queries close the remaining gap:
they execute REAL streaming queries — FileStreamSource over the
driver's events table, micro-batch engine, memory sink — and return
the materialized result, so the DuckDB oracle checks the streaming
engine's output itself, not a batch stand-in. This is the reference's
own execution model (micro-batch incremental execution,
`streaming_pipeline.py:203-207`) under an oracle.

Determinism notes:
- complete-mode aggregation emits the full aggregate state at the end
  of the replay, so the result equals the batch aggregation whatever
  the micro-batch split was.
- dropDuplicatesWithinWatermark keyed on the projected columns emits
  exactly one row per key for any arrival order once the output is
  projected to the key columns themselves.
- the foreachBatch compaction merge is idempotent (max-by-order wins),
  so replayed epochs converge to the same view.

Scale notes (100 TB): the memory sink + per-query temp checkpoints are
the TEST harness; production runs swap in Kafka/parquet sinks with
durable checkpoints (same plans — the sink is declared last). State in
every query here is bounded: windows+watermark, dedup keys within the
watermark, and one row per key in the compacted view.
"""

from __future__ import annotations

import itertools
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from local_stream_stack_spark.queries.registry import query
from local_stream_stack_spark.session import configure_for_oracle
from local_stream_stack_spark.streaming.ops import (
    latest_per_key_stream_parquet,
    read_compacted_view,
)
from local_stream_stack_spark.utils.scratch import ephemeral_dir
from local_stream_stack_spark.utils.ts import epoch_s, epoch_us


def _stage_ordered(in_dir: str, *writers) -> None:
    """Write each ``writer`` (a no-arg callable producing files under
    ``in_dir``) with strictly increasing, widely separated mtimes.
    FileStreamSource orders same-listing files by modification time;
    two back-to-back writes can land in the same millisecond and flip
    the processing order, so the deterministic first-seen-wins
    semantics of the ingest-dedup oracles would become flaky. Explicit
    ``os.utime`` spacing (10 s apart) makes the intended order a hard
    guarantee, not a race."""
    now = time.time()
    seen: set[str] = set()
    for i, write in enumerate(writers):
        write()
        current = {
            os.path.join(in_dir, f) for f in os.listdir(in_dir)
        }
        t = now - 10.0 * (len(writers) - i)
        for path in sorted(current - seen):
            os.utime(path, (t, t))
        seen = current


_run_seq = itertools.count()


def _table_source(sf_dir: str, table: str) -> tuple[str, str]:
    """(source_dir, pathGlobFilter) for a table under either corpus
    layout: the driver testdata keeps one FILE per table
    (``{sf_dir}/{table}.parquet``), while Spark-written corpora (the
    scaling-curve .scale dirs, any real lake) keep a DIRECTORY of
    part files under the same name. FileStreamSource needs a
    directory either way; the glob pins which leaf files enter the
    stream."""
    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(p):
        return p, "*.parquet"
    return sf_dir, f"{table}.parquet"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table (bounded replay).

    FileStreamSource needs a directory; pathGlobFilter pins it to the
    single events file so sibling tables don't enter the stream.

    The stream schema is probed from a batch read of the same file so
    the query adapts to how the driver generated the data: naive
    TIMESTAMP(MICROS) reads as TIMESTAMP_NTZ directly, while legacy
    TIMESTAMP(NANOS) drops decode ``ts`` as long
    (spark.sql.legacy.parquet.nanosAsLong — same path as
    catalog.load_table) and are truncated to microsecond timestamps.
    """
    configure_for_oracle(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src_dir, glob = _table_source(sf_dir, "events")
    batch_schema = spark.read.option("pathGlobFilter", glob).parquet(
        src_dir
    ).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", glob)
        .parquet(src_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        # Watermarks require a session-zoned TIMESTAMP event-time
        # column (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise). The
        # session timezone is pinned to UTC above, so the cast is
        # instant-preserving and epoch extraction stays oracle-exact.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _drain(q) -> None:
    """Run a started streaming query until its bounded input is
    consumed, then stop it (also when processing fails)."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _run_to_table(out: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run a bounded streaming query to a memory sink; return the table.

    The per-run sequence number keeps memory-sink names unique across
    repeated invocations in one session (an active query may not reuse
    a name).
    """
    spark = out.sparkSession
    qname = f"{name}_{next(_run_seq)}"
    cp = os.path.join(ephemeral_dir(prefix=f"stream-e2e-{name}-"), "cp")
    q = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", cp)
        .start()
    )
    _drain(q)
    return spark.table(qname)


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT) AS window_start_s,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live streaming tumbling-window aggregate, oracle-checked.

    The same plan as ``tumbling_window_agg`` executed by the
    micro-batch engine (watermarked window + complete-mode memory
    sink); complete mode emits final window state, so the streaming
    result must equal the batch/DuckDB aggregation exactly.
    """
    s = _events_stream(spark, sf_dir)
    out = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                "CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)"
            ).alias("sum_value"),
        )
    )
    table = _run_to_table(out, "stream_tumbling", "complete")
    return table.select(
        epoch_s("w.start").alias("window_start_s"),
        "event_type",
        "n_events",
        "sum_value",
    ).orderBy("window_start_s", "event_type")


@query(
    "stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stateful streaming dedup, oracle-checked.

    dropDuplicatesWithinWatermark on (user_id, event_type) — bounded
    state, append mode — projected to the key columns, so the emitted
    set is exactly the distinct keys regardless of which concrete row
    won per key.
    """
    s = _events_stream(spark, sf_dir)
    out = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    table = _run_to_table(out, "stream_dedup", "append")
    return table.orderBy("user_id", "event_type")


@query(
    "stream_latest_per_key",
    oracle="""
    SELECT user_id, event_id, event_type, value,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def stream_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live compacted-topic materialization, oracle-checked.

    The reference's Kafka log-compaction semantics (A15/A16,
    `sample_kafka_process.sh:165-215`) executed as a real stream:
    foreachBatch reduces each micro-batch to latest-per-key and merges
    it into a bucket-partitioned parquet view, rewriting only touched
    partitions (``latest_per_key_stream_parquet`` — no driver
    materialization). After the bounded replay the view must equal the
    batch latest-per-key oracle.
    """
    s = _events_stream(spark, sf_dir)
    base = ephemeral_dir(prefix="stream-e2e-compact-")
    target = os.path.join(base, "view")
    cp = os.path.join(base, "cp")
    q = latest_per_key_stream_parquet(
        s,
        keys=["user_id"],
        order_col="ts",
        target_path=target,
        checkpoint_location=cp,
    )
    _drain(q)
    return (
        read_compacted_view(spark, target)
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            epoch_us("ts").alias("ts_us"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_sliding_counts",
    oracle="""
    WITH buckets AS (
      SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 1800) * 1800 AS BIGINT) AS b0, value
      FROM events
    ),
    assigned AS (
      SELECT b0 AS window_start_s, value FROM buckets
      UNION ALL
      SELECT b0 - 1800 AS window_start_s, value FROM buckets
    )
    SELECT window_start_s, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
    FROM assigned
    GROUP BY window_start_s
    ORDER BY window_start_s
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live sliding-window aggregate (1 h width / 30 min slide) on the
    micro-batch engine, complete mode — each event expands into
    width/slide windows executor-side; the oracle is the batch
    2-bucket union."""
    s = _events_stream(spark, sf_dir)
    out = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                "CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)"
            ).alias("sum_value"),
        )
    )
    table = _run_to_table(out, "stream_sliding", "complete")
    return table.select(
        epoch_s("w.start").alias("window_start_s"),
        "n_events",
        "sum_value",
    ).orderBy("window_start_s")


@query(
    "stream_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS BIGINT) AS session_start_us,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live session windows (30-min gap) on the micro-batch engine,
    complete mode: merging gap-based session state is the hardest
    streaming-window case (sessions merge as late events bridge gaps);
    the bounded replay must converge to the batch gaps-and-islands
    oracle."""
    s = _events_stream(spark, sf_dir)
    out = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    table = _run_to_table(out, "stream_session", "complete")
    return table.select(
        "user_id",
        epoch_us("w.start").alias("session_start_us"),
        "n_events",
    ).orderBy("user_id", "session_start_us")


@query(
    "stream_pipeline_yaml",
    oracle="""
    SELECT doc_id, lang, n_chars,
           UPPER(SUBSTR(text, 1, 40)) AS head_upper
    FROM documents
    WHERE n_chars > 100 AND lang = 'en'
    ORDER BY doc_id
    """,
)
def stream_pipeline_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full flow — YAML config -> streaming source ->
    processor chain -> sink (`streaming_pipeline.py:145-219`) — run
    LIVE on the micro-batch engine and checked against the oracle.
    Same config as pipeline_yaml_batch except ``streaming: true`` and a
    memory sink: the batch/stream symmetry claim, proven end-to-end.
    Append mode with no aggregation emits every row exactly once on a
    bounded replay, so the result equals the batch projection.
    """
    import pyspark.sql.types as T

    from local_stream_stack_spark.pipeline import Pipeline
    from local_stream_stack_spark.schemas import get_schema, register_schema

    configure_for_oracle(spark)
    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    )
    try:
        get_schema("harness_document")
    except KeyError:
        register_schema("harness_document", doc_schema)
    qname = f"stream_pipeline_yaml_{next(_run_seq)}"
    cfg = {
        "name": "docs-curation-stream",
        "source": {
            "type": "parquet",
            "path": _table_source(sf_dir, "documents")[0],
            "streaming": True,
            "schema": "harness_document",
            "pathGlobFilter": _table_source(sf_dir, "documents")[1],
        },
        "processors": [
            {"name": "filter", "params": {"predicate": "n_chars > 100 AND lang = 'en'"}},
            {
                "name": "with_column",
                "params": {"name": "head_upper", "expr": "upper(substring(text, 1, 40))"},
            },
            {"name": "select", "params": {"columns": ["doc_id", "lang", "n_chars", "head_upper"]}},
        ],
        "sink": {"type": "memory", "output_mode": "append", "query_name": qname},
    }
    pipe = Pipeline(spark, cfg)
    q = pipe.run()
    _drain(q)
    return spark.table(qname).orderBy("doc_id")


@query(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           v.event_id AS view_id,
           p.user_id,
           CAST(epoch_us(CAST(p.ts AS TIMESTAMP)) AS BIGINT) AS purchase_ts_us,
           CAST(epoch_us(CAST(v.ts AS TIMESTAMP)) AS BIGINT) AS view_ts_us
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts
     AND v.ts <= p.ts + INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    ORDER BY purchase_id, view_id
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-stream interval join under the oracle: views within
    30 minutes AFTER each purchase, both sides real streams. Inner
    stream-stream joins emit each matched pair exactly once as it
    arrives (the watermark only bounds buffered state), so the bounded
    replay must equal the batch inequality join. State is
    watermark-expired on both sides — the only unbounded-state-safe
    stream-stream join form."""
    from local_stream_stack_spark.streaming.ops import (
        stream_stream_interval_join,
    )

    left = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    right = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("event_id", "user_id", "ts")
    )
    joined = stream_stream_interval_join(
        left,
        right,
        key="user_id",
        watermark="1 hour",
        lower="INTERVAL 0 SECONDS",
        upper="INTERVAL 30 MINUTES",
    )
    table = _run_to_table(joined, "stream_ssjoin", "append")
    return table.select(
        F.col("event_id").alias("purchase_id"),
        F.col("event_id_r").alias("view_id"),
        "user_id",
        epoch_us("ts").alias("purchase_ts_us"),
        epoch_us("ts_r").alias("view_ts_us"),
    ).orderBy("purchase_id", "view_id")


@query(
    "stream_running_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE arbitrary stateful operator under the oracle: per-user
    running (count, sum) via applyInPandasWithState, update mode. The
    stream carries exact integer cents so state accumulation order
    cannot perturb the value (ints are exact in the double state up to
    2^53); the LAST emission per key — n_events is strictly increasing,
    so max-by-n_events — must equal the batch aggregate."""
    from local_stream_stack_spark.operators.events import latest_per_key
    from local_stream_stack_spark.streaming.ops import (
        running_totals_with_state,
    )

    s = _events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    out = running_totals_with_state(
        s, key="user_id", value_col="cents", ts_col="ts", watermark="2 hours"
    )
    table = _run_to_table(out, "stream_totals", "update")
    final = latest_per_key(table, keys=["user_id"], order_by=["n_events"])
    return final.select(
        "user_id",
        "n_events",
        F.col("sum_value").cast("bigint").alias("sum_cents"),
    ).orderBy("user_id")


@query(
    "stream_topk_per_window",
    oracle="""
    WITH counts AS (
      SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT)
               AS window_start_s,
             user_id, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT window_start_s, user_id, n_events, rk FROM (
      SELECT window_start_s, user_id, n_events,
             ROW_NUMBER() OVER (PARTITION BY window_start_s
                                ORDER BY n_events DESC, user_id) AS rk
      FROM counts
    ) t
    WHERE rk <= 3
    ORDER BY window_start_s, rk
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE windowed top-k under the oracle: per-hour per-user counts
    accumulate in streaming window state (complete mode), and the
    top-3 ranking runs as a batch window over the materialized state —
    the standard two-stage shape, since rank-over-stream isn't an
    incremental operator. The streaming stage's state is (window x
    user) counters; the rank stage sees |windows| x |users| rows, not
    events, and prunes to k per window via WindowGroupLimit."""
    from pyspark.sql.window import Window

    s = _events_stream(spark, sf_dir)
    out = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    table = _run_to_table(out, "stream_topk", "complete")
    w = Window.partitionBy("window_start_s").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        table.select(
            epoch_s("w.start").alias("window_start_s"), "user_id", "n_events"
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("window_start_s", "rk")
    )


@query(
    "stream_ingest_dedup",
    oracle="""
    SELECT doc_id, fp, lang
    FROM (
      SELECT doc_id, md5(text) AS fp, lang,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
               AS rn
      FROM documents
    ) t
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming ingestion dedup under the oracle: the corpus plus
    an exact duplicate of itself (doc_ids shifted by 1,000,000)
    streams file-by-file into ``ingest_dedup_stream_parquet``; every
    duplicate must be rejected against the persistent fingerprint
    store, leaving the minimum-doc_id representative of every distinct
    text (the corpus itself contains a few identical texts at larger
    SFs — the oracle's per-fingerprint ROW_NUMBER mirrors first-seen-
    wins, so the contract holds at ANY scale factor, not just ones
    with no intra-corpus dups). Within-batch ties resolve to the
    minimum doc_id and the store anti-join drops cross-epoch repeats,
    so the admitted set is deterministic whatever the micro-batch
    split was — the crawl-pipeline dedup shape (at scale: bucket the
    store by fingerprint; swap md5 for MinHash bands for streaming
    NEAR-dup)."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        ingest_dedup_stream_parquet,
        read_ingest_store,
    )

    configure_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    base = ephemeral_dir(prefix="stream-e2e-ingest-")
    in_dir = os.path.join(base, "in")
    store = os.path.join(base, "store")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: docs.coalesce(1).write.parquet(in_dir),
        lambda: docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
        ).coalesce(1).write.mode("append").parquet(in_dir),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("fp", F.md5("text"))
    )
    q = ingest_dedup_stream_parquet(
        stream,
        fp_col="fp",
        order_col="doc_id",
        store_path=store,
        checkpoint_location=cp,
    )
    _drain(q)
    return (
        read_ingest_store(spark, store)
        .select("doc_id", "fp", "lang")
        .orderBy("doc_id")
    )


def _neardup_stream_oracle_sql() -> str:
    """Replay the two-epoch streaming near-dup ingestion in SQL:
    epoch 0 = the original corpus (in-batch band collisions, first id
    wins), epoch 1 = the full duplicate (+1e6 ids) rejected against
    epoch 0's ADMITTED band keys plus its own in-batch collisions —
    exactly the store semantics of ``ingest_neardup_stream_parquet``
    in portable-hash mode."""
    from local_stream_stack_spark.queries.llm import (
        _minhash_bandkey_cte_sql,
    )

    cte = _minhash_bandkey_cte_sql(32, 3, 4, source="corpus")
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
    ),
    {cte},
    e0 AS (SELECT doc_id, band, bh FROM bandkey WHERE doc_id < 1000000),
    rej0 AS (
      SELECT DISTINCT a.doc_id FROM e0 a
      JOIN e0 b ON a.band = b.band AND a.bh = b.bh AND b.doc_id < a.doc_id
    ),
    adm0 AS (
      SELECT d.doc_id FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM rej0)
    ),
    keys0 AS (
      SELECT DISTINCT band, bh FROM e0
      WHERE doc_id IN (SELECT doc_id FROM adm0)
    ),
    e1 AS (SELECT doc_id, band, bh FROM bandkey WHERE doc_id >= 1000000),
    rej1 AS (
      SELECT DISTINCT a.doc_id FROM e1 a
      JOIN e1 b ON a.band = b.band AND a.bh = b.bh AND b.doc_id < a.doc_id
      UNION
      SELECT DISTINCT a.doc_id FROM e1 a
      JOIN keys0 k ON a.band = k.band AND a.bh = k.bh
    ),
    adm1 AS (
      SELECT d.doc_id + 1000000 AS doc_id FROM documents d
      WHERE d.doc_id + 1000000 NOT IN (SELECT doc_id FROM rej1)
    )
    SELECT doc_id FROM adm0
    UNION ALL
    SELECT doc_id FROM adm1
    ORDER BY doc_id
    """


@query("stream_ingest_neardup", oracle=_neardup_stream_oracle_sql())
def stream_ingest_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming NEAR-dup ingestion: the corpus plus a full
    duplicate of itself streams through the MinHash-band store
    (``ingest_neardup_stream_parquet``); every identical re-text
    collides in all bands and is rejected, and LSH-similar originals
    within the first batch dedup against each other (first-id wins).

    Runs the PORTABLE pipeline (md5-derived minhash + '|'-joined band
    keys), so the previously rows-only LIVE query is fully
    ORACLE-BACKED: the SQL replays both epochs' signature computation,
    in-batch first-id-wins collisions, and the admitted-key store
    lookup bit-for-bit (``_neardup_stream_oracle_sql``).
    tests/test_streaming_e2e.py additionally pins reject/admit
    behavior on exact, edited, and unrelated documents and
    crash-replay safety."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        ingest_neardup_stream_parquet,
        read_neardup_store,
    )

    configure_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = ephemeral_dir(prefix="stream-e2e-neardup-")
    in_dir = os.path.join(base, "in")
    store = os.path.join(base, "store")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: docs.coalesce(1).write.parquet(in_dir),
        lambda: docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        ).coalesce(1).write.mode("append").parquet(in_dir),
    )
    q = ingest_neardup_stream_parquet(
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        id_col="doc_id",
        text_col="text",
        order_col="doc_id",
        store_path=store,
        checkpoint_location=cp,
        portable=True,
    )
    _drain(q)
    return (
        read_neardup_store(spark, store)
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "stream_ingest_neardup_compacted",
    oracle=_neardup_stream_oracle_sql(),
)
def stream_ingest_neardup_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming NEAR-dup ingestion across a store compaction: epoch 0
    (the corpus) streams into the MinHash-band store, BOTH families
    (admitted rows + band keys) fold into hash-bucketed generations
    (``compact_neardup_store``), and the full duplicate corpus then
    streams in on the resumed checkpoint — every re-text must collide
    against the GENERATION's band keys (the epoch dirs are gone).
    Same portable-hash semantics and the same two-epoch SQL replay
    oracle as `stream_ingest_neardup`, so the fold is proven
    invisible to the admit path under the driver's hash gate."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.compaction import (
        compact_neardup_store,
    )
    from local_stream_stack_spark.streaming.ops import (
        ingest_neardup_stream_parquet,
        read_neardup_store,
    )

    configure_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = ephemeral_dir(prefix="stream-e2e-neardupc-")
    in_dir = os.path.join(base, "in")
    store = os.path.join(base, "store")
    cp = os.path.join(base, "cp")

    def run():
        q = ingest_neardup_stream_parquet(
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir),
            id_col="doc_id",
            text_col="text",
            order_col="doc_id",
            store_path=store,
            checkpoint_location=cp,
            portable=True,
        )
        _drain(q)

    _stage_ordered(
        in_dir,
        lambda: docs.coalesce(1).write.parquet(in_dir),
    )
    run()
    compact_neardup_store(spark, store, id_col="doc_id", n_buckets=8)
    _stage_ordered(
        in_dir,
        lambda: None,
        lambda: docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        ).coalesce(1).write.mode("append").parquet(in_dir),
    )
    run()
    return (
        read_neardup_store(spark, store)
        .select("doc_id")
        .orderBy("doc_id")
    )


def _neardup_tws_oracle_sql() -> str:
    """Replay the two-epoch TWS (indexed-state-store) near-dup
    ingestion in SQL. Identical to ``_neardup_stream_oracle_sql``
    except the cross-epoch store holds band keys of every SEEN epoch-0
    doc — the seen-claims semantic the band-key dedup state
    accumulates (the per-key state cannot depend on the doc-grain
    admit decision computed downstream of it)."""
    from local_stream_stack_spark.queries.llm import (
        _minhash_bandkey_cte_sql,
    )

    cte = _minhash_bandkey_cte_sql(32, 3, 4, source="corpus")
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
    ),
    {cte},
    e0 AS (SELECT doc_id, band, bh FROM bandkey WHERE doc_id < 1000000),
    rej0 AS (
      SELECT DISTINCT a.doc_id FROM e0 a
      JOIN e0 b ON a.band = b.band AND a.bh = b.bh AND b.doc_id < a.doc_id
    ),
    adm0 AS (
      SELECT d.doc_id FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM rej0)
    ),
    keys0 AS (
      SELECT DISTINCT band, bh FROM e0
    ),
    e1 AS (SELECT doc_id, band, bh FROM bandkey WHERE doc_id >= 1000000),
    rej1 AS (
      SELECT DISTINCT a.doc_id FROM e1 a
      JOIN e1 b ON a.band = b.band AND a.bh = b.bh AND b.doc_id < a.doc_id
      UNION
      SELECT DISTINCT a.doc_id FROM e1 a
      JOIN keys0 k ON a.band = k.band AND a.bh = k.bh
    ),
    adm1 AS (
      SELECT d.doc_id + 1000000 AS doc_id FROM documents d
      WHERE d.doc_id + 1000000 NOT IN (SELECT doc_id FROM rej1)
    )
    SELECT doc_id FROM adm0
    UNION ALL
    SELECT doc_id FROM adm1
    ORDER BY doc_id
    """


@query("stream_ingest_neardup_tws", oracle=_neardup_tws_oracle_sql())
def stream_ingest_neardup_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming near-dup ingestion through the INDEXED state
    store (VERDICT r9 task #5 — the last designed-not-built scale
    component): the corpus plus a full duplicate of itself streams
    through ``ingest_neardup_stream_tws``, where every LSH band key is
    a key of Spark's streaming dedup state, so the per-epoch
    admitted-key lookup is O(batch keys) state probes instead of the
    parquet twin's O(store) scan. Exact duplicates collide in all
    bands and are rejected; LSH-similar originals dedup in-batch
    (first id wins).

    The oracle replays the seen-claims store semantics bit-for-bit
    (``_neardup_tws_oracle_sql``). The operator is JVM-only, so it
    runs on the SparkSession's own state-store provider with no Python
    runner and no conf set around the run."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        ingest_neardup_stream_tws,
        read_neardup_tws_store,
    )

    configure_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = ephemeral_dir(prefix="stream-e2e-neardup-tws-")
    in_dir = os.path.join(base, "in")
    _stage_ordered(
        in_dir,
        lambda: docs.coalesce(1).write.parquet(in_dir),
        lambda: docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        ).coalesce(1).write.mode("append").parquet(in_dir),
    )
    store = os.path.join(base, "store")
    q = ingest_neardup_stream_tws(
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        id_col="doc_id",
        text_col="text",
        order_col="doc_id",
        store_path=store,
        checkpoint_location=os.path.join(base, "cp"),
    )
    _drain(q)
    return (
        read_neardup_tws_store(spark, store)
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "stream_bm25_incremental",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avglen
      FROM doclen
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY tok
    ),
    qterms AS (
      SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3
    ),
    idf AS (
      SELECT q.tok, q.df,
             CAST(FLOOR(ln((CAST(s.n_docs AS DOUBLE) - q.df + 0.5)
                           / (q.df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)
               AS idf_e6
      FROM qterms q CROSS JOIN stats s
    ),
    tf AS (
      SELECT t.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN qterms q ON t.tok = q.tok
      GROUP BY t.doc_id, t.tok
    ),
    contrib AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               CAST(i.idf_e6 AS DOUBLE) * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * dl.len / s.avglen))
               + 0.5) AS BIGINT) AS c_e6
      FROM tf
      JOIN idf i ON i.tok = tf.tok
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(c_e6) AS BIGINT) AS bm25_e6
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, bm25_e6
    FROM scored
    ORDER BY bm25_e6 DESC, doc_id
    LIMIT 20
    """,
)
def stream_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE incremental view maintenance (VERDICT r9 task #7 — the
    shape a 100 TB corpus actually runs): the corpus streams in two
    halves through ``maintain_bm25_index_stream_parquet``, each epoch
    tokenized ONCE and folded into epoch-partitioned postings /
    doclen / term-df / corpus-stat families; the final BM25 top-20 is
    then scored from the MAINTAINED index (``read_bm25_index_topk``)
    with no re-tokenization of earlier epochs — and must hash-match
    the from-scratch batch oracle over the full corpus
    (`bm25_topk_docs`'s SQL verbatim). All folded statistics are exact
    integer sums, so the incremental result is bit-equal to batch
    whatever the micro-batch split was."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        maintain_bm25_index_stream_parquet,
        read_bm25_index_topk,
    )

    configure_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = ephemeral_dir(prefix="stream-e2e-bm25-")
    in_dir = os.path.join(base, "in")
    store = os.path.join(base, "store")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: docs.filter(F.col("doc_id") % 2 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: docs.filter(F.col("doc_id") % 2 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    q = maintain_bm25_index_stream_parquet(
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        id_col="doc_id",
        text_col="text",
        store_path=store,
        checkpoint_location=cp,
    )
    _drain(q)
    return read_bm25_index_topk(spark, store, id_col="doc_id", k=20)


@query(
    "stream_bm25_compacted",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avglen
      FROM doclen
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY tok
    ),
    qterms AS (
      SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3
    ),
    idf AS (
      SELECT q.tok, q.df,
             CAST(FLOOR(ln((CAST(s.n_docs AS DOUBLE) - q.df + 0.5)
                           / (q.df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)
               AS idf_e6
      FROM qterms q CROSS JOIN stats s
    ),
    tf AS (
      SELECT t.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN qterms q ON t.tok = q.tok
      GROUP BY t.doc_id, t.tok
    ),
    contrib AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               CAST(i.idf_e6 AS DOUBLE) * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * dl.len / s.avglen))
               + 0.5) AS BIGINT) AS c_e6
      FROM tf
      JOIN idf i ON i.tok = tf.tok
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(c_e6) AS BIGINT) AS bm25_e6
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, bm25_e6
    FROM scored
    ORDER BY bm25_e6 DESC, doc_id
    LIMIT 20
    """,
)
def stream_bm25_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained-store EPOCH COMPACTION under the oracle (VERDICT r10
    task #2 — the last designed-not-built 100 TB component): the
    corpus streams in two epochs into the maintained BM25 index, the
    accumulated epoch deltas are folded into a TERM-BUCKETED base
    generation (``compact_bm25_index``, manifest-committed via atomic
    rename), the stream then RESUMES on the same checkpoint and folds
    a third epoch on top of the generation, and the final top-20 is
    scored from generation + live delta — it must hash-match the
    from-scratch batch oracle over the full corpus
    (`bm25_topk_docs`'s SQL verbatim), proving the fold, the swap,
    and the post-swap delta path are all exact. Scale: this is what
    bounds read cost for a year of daily increments — O(1) generation
    + O(days since last compaction) deltas instead of O(all epochs)
    (SCALE.md has the measured decade curve)."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.compaction import (
        compact_bm25_index,
    )
    from local_stream_stack_spark.streaming.ops import (
        maintain_bm25_index_stream_parquet,
        read_bm25_index_topk,
    )

    configure_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = ephemeral_dir(prefix="stream-e2e-bm25c-")
    in_dir = os.path.join(base, "in")
    store = os.path.join(base, "store")
    cp = os.path.join(base, "cp")

    def run():
        q = maintain_bm25_index_stream_parquet(
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir),
            id_col="doc_id",
            text_col="text",
            store_path=store,
            checkpoint_location=cp,
        )
        _drain(q)

    _stage_ordered(
        in_dir,
        lambda: docs.filter(F.col("doc_id") % 3 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: docs.filter(F.col("doc_id") % 3 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    compact_bm25_index(spark, store, id_col="doc_id", n_buckets=8)
    _stage_ordered(
        in_dir,
        lambda: None,  # existing files keep their order
        lambda: docs.filter(F.col("doc_id") % 3 == 2)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    return read_bm25_index_topk(spark, store, id_col="doc_id", k=20)


@query(
    "stream_ingest_dedup_compacted",
    oracle="""
    SELECT doc_id, fp, lang
    FROM (
      SELECT doc_id, md5(text) AS fp, lang,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
               AS rn
      FROM documents
    ) t
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def stream_ingest_dedup_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingest dedup across a store compaction: the corpus
    streams in two epochs, the fingerprint store is folded into one
    fingerprint-bucketed generation (``compact_ingest_store``), and a
    FULL DUPLICATE of the corpus (+1e6 doc_ids) then streams in on the
    resumed checkpoint — every duplicate must be rejected against the
    GENERATION (the epoch dirs are gone), leaving exactly the
    first-seen representative per distinct text, same oracle as
    `stream_ingest_dedup`. The post-swap admit path reads generation
    rows as ``__epoch = -1`` (strictly earlier than any live epoch),
    which is also what makes crash-replay of a folded epoch
    re-admit nothing."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.compaction import (
        compact_ingest_store,
    )
    from local_stream_stack_spark.streaming.ops import (
        ingest_dedup_stream_parquet,
        read_ingest_store,
    )

    configure_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    base = ephemeral_dir(prefix="stream-e2e-ingestc-")
    in_dir = os.path.join(base, "in")
    store = os.path.join(base, "store")
    cp = os.path.join(base, "cp")

    def run():
        stream = (
            spark.readStream.schema(
                "doc_id bigint, text string, lang string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .withColumn("fp", F.md5("text"))
        )
        q = ingest_dedup_stream_parquet(
            stream,
            fp_col="fp",
            order_col="doc_id",
            store_path=store,
            checkpoint_location=cp,
        )
        _drain(q)

    _stage_ordered(
        in_dir,
        lambda: docs.filter(F.col("doc_id") % 2 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: docs.filter(F.col("doc_id") % 2 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    compact_ingest_store(spark, store, fp_col="fp", n_buckets=8)
    _stage_ordered(
        in_dir,
        lambda: None,
        lambda: docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    return (
        read_ingest_store(spark, store)
        .select("doc_id", "fp", "lang")
        .orderBy("doc_id")
    )


@query(
    "stream_join_enriched_incremental",
    oracle="""
    SELECT o.o_custkey AS custkey,
           o.o_orderkey,
           o.o_totalprice,
           c.c_name,
           c.c_mktsegment
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_orderkey
    """,
)
def stream_join_enriched_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incrementally-maintained JOIN view (VERDICT r10 task #5 — the
    denormalized orders ⋈ customer feature table, the most common
    maintained view in training-data pipelines): both relations
    stream in tagged and interleaved (half the customers, half the
    orders, compaction fold, then the other halves), each epoch
    emitting only the two-sided join DELTA (ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS)
    against the accumulated side stores. The final view union must
    hash-match the from-scratch batch join — including pairs whose
    order arrived EPOCHS BEFORE its customer (created by the
    R_old ⋈ ΔS term) and pairs probed against the folded GENERATION
    rather than epoch dirs (the mid-stream ``compact_join_view``).
    Scale: every epoch is two standing-store scans probed by
    broadcast micro-batch deltas — the stores are never shuffled, and
    the generation fold keeps their file listing O(1) in stream
    lifetime."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        compact_join_view,
        maintain_join_view_stream_parquet,
        read_join_view,
    )

    configure_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name", "c_mktsegment"
    )

    def tagged(df: DataFrame, side: str) -> DataFrame:
        base = df.withColumn("side", F.lit(side))
        for c in ["o_orderkey", "o_totalprice", "c_name", "c_mktsegment"]:
            if c not in df.columns:
                typ = {
                    "o_orderkey": "bigint",
                    "o_totalprice": "double",
                    "c_name": "string",
                    "c_mktsegment": "string",
                }[c]
                base = base.withColumn(c, F.lit(None).cast(typ))
        return base.select(
            "side", "custkey", "o_orderkey", "o_totalprice",
            "c_name", "c_mktsegment",
        )

    base = ephemeral_dir(prefix="stream-e2e-joinview-")
    in_dir = os.path.join(base, "in")
    store = os.path.join(base, "store")
    cp = os.path.join(base, "cp")
    schema = (
        "side string, custkey bigint, o_orderkey bigint,"
        " o_totalprice double, c_name string, c_mktsegment string"
    )

    def run():
        q = maintain_join_view_stream_parquet(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir),
            side_col="side",
            left_tag="orders",
            right_tag="customer",
            left_cols=["custkey", "o_orderkey", "o_totalprice"],
            right_cols=["custkey", "c_name", "c_mktsegment"],
            on=["custkey"],
            store_path=store,
            checkpoint_location=cp,
        )
        _drain(q)

    _stage_ordered(
        in_dir,
        lambda: tagged(customer.filter(F.col("custkey") % 2 == 0), "customer")
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: tagged(orders.filter(F.col("o_orderkey") % 2 == 0), "orders")
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    compact_join_view(spark, store, key="custkey", n_buckets=8)
    _stage_ordered(
        in_dir,
        lambda: None,
        lambda: tagged(orders.filter(F.col("o_orderkey") % 2 == 1), "orders")
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
        lambda: tagged(
            customer.filter(F.col("custkey") % 2 == 1), "customer"
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    return (
        read_join_view(spark, store)
        .select(
            "custkey", "o_orderkey", "o_totalprice", "c_name",
            "c_mktsegment",
        )
        .orderBy("o_orderkey")
    )


@query(
    "stream_ivf_index_incremental",
    oracle="""
    WITH ev AS (
      SELECT vec_id, label, i.i AS i,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, generate_series(0, 63) i(i)
    ),
    cent AS (SELECT label, i, SUM(x) AS s FROM ev GROUP BY label, i),
    centn AS (SELECT label, SUM(s * s) AS ss FROM cent GROUP BY label),
    qn AS (SELECT vec_id, SUM(x * x) AS qq
           FROM ev WHERE vec_id < 5 GROUP BY vec_id),
    cn AS (SELECT vec_id, SUM(x * x) AS cc FROM ev GROUP BY vec_id),
    qdot AS (
      SELECT q.vec_id, c.label, SUM(q.x * c.s) AS dot
      FROM ev q JOIN cent c ON q.i = c.i
      WHERE q.vec_id < 5
      GROUP BY q.vec_id, c.label
    ),
    csim AS (
      SELECT d.vec_id AS query_id, d.label,
             CAST(ROUND(CAST(d.dot AS DOUBLE)
                        / (sqrt(CAST(q.qq AS DOUBLE))
                           * sqrt(CAST(n.ss AS DOUBLE))) * 1000000)
                  AS BIGINT) AS cent_sim_e6
      FROM qdot d
      JOIN qn q ON q.vec_id = d.vec_id
      JOIN centn n ON n.label = d.label
    ),
    probes AS (
      SELECT query_id, label FROM (
        SELECT query_id, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cent_sim_e6 DESC, label) AS pr
        FROM csim) t
      WHERE pr <= 3
    ),
    pairdot AS (
      SELECT p.query_id, e.vec_id AS corpus_id, SUM(q.x * e.x) AS dot
      FROM probes p
      JOIN ev e ON e.label = p.label
      JOIN ev q ON q.vec_id = p.query_id AND q.i = e.i
      GROUP BY p.query_id, e.vec_id
    ),
    scored AS (
      SELECT pd.query_id, pd.corpus_id,
             CAST(ROUND(CAST(pd.dot AS DOUBLE)
                        / (sqrt(CAST(qn.qq AS DOUBLE))
                           * sqrt(CAST(cn.cc AS DOUBLE))) * 1000000)
                  AS BIGINT) AS cosine_sim_e6
      FROM pairdot pd
      JOIN qn ON qn.vec_id = pd.query_id
      JOIN cn ON cn.vec_id = pd.corpus_id
      WHERE pd.corpus_id <> pd.query_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cosine_sim_e6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim_e6 DESC, corpus_id)
               AS rk
      FROM scored
    )
    SELECT query_id, corpus_id, cosine_sim_e6, rk
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, rk
    """,
)
def stream_ivf_index_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incrementally-maintained IVF ANN index — the vector-search
    member of the maintained-view tier (the BM25 index maintains the
    lexical side; this maintains the embedding side, which is what a
    production retrieval stack actually keeps warm): embeddings
    stream in two epochs into cell-partitioned inverted lists plus
    ADDITIVE per-cell integer centroid sums, the store folds into a
    cell-bucketed generation mid-stream (``compact_ivf_index``), a
    third epoch lands on the generation, and the final nprobe=3 /
    top-10 probe of the MAINTAINED index must hash-match the
    from-scratch batch `sim_ivf_topk` oracle over the full corpus —
    exact because centroid sums are order-independent BIGINTs and
    cosine is scale-invariant (the sum points exactly where the mean
    does). Scale: per-epoch work is one quantize pass + a cells×dim
    aggregate; probe-side reads prune to the queried cells' buckets
    after compaction."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        compact_ivf_index,
        maintain_ivf_index_stream_parquet,
        read_ivf_index_topk,
    )

    configure_for_oracle(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    base = ephemeral_dir(prefix="stream-e2e-ivf-")
    in_dir = os.path.join(base, "in")
    store = os.path.join(base, "store")
    cp = os.path.join(base, "cp")

    def run():
        q = maintain_ivf_index_stream_parquet(
            spark.readStream.schema(
                "vec_id bigint, label int, embedding array<float>"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir),
            id_col="vec_id",
            label_col="label",
            vec_col="embedding",
            store_path=store,
            checkpoint_location=cp,
        )
        _drain(q)

    _stage_ordered(
        in_dir,
        lambda: emb.filter(F.col("vec_id") % 3 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: emb.filter(F.col("vec_id") % 3 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    compact_ivf_index(spark, store, n_buckets=8)
    _stage_ordered(
        in_dir,
        lambda: None,
        lambda: emb.filter(F.col("vec_id") % 3 == 2)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    return read_ivf_index_topk(
        spark, store, id_col="vec_id", query_ids_below=5, nprobe=3, k=10
    )


@query(
    "stream_scd2_dimension",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
             event_id
      FROM events
    ),
    flags AS (
      SELECT user_id, event_type, ts_us, event_id,
             CASE WHEN LAG(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS is_new
      FROM ev
    ),
    runs AS (
      SELECT user_id, event_type, ts_us, event_id,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id) AS run_id
      FROM flags
    ),
    grp AS (
      SELECT user_id, run_id,
             MIN(event_type) AS event_type,
             CAST(MIN(ts_us) AS BIGINT) AS valid_from_us
      FROM runs GROUP BY user_id, run_id
    ),
    hist AS (
      SELECT user_id, event_type, valid_from_us,
             CAST(LEAD(valid_from_us) OVER (
               PARTITION BY user_id ORDER BY run_id) AS BIGINT)
               AS valid_to_us
      FROM grp
    )
    SELECT user_id, event_type, valid_from_us, valid_to_us
    FROM hist
    ORDER BY user_id, valid_from_us
    """,
)
def stream_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE maintained TYPE-2 dimension: the event stream (split into
    two event-time epochs) folds into each user's full event-type
    validity history through ``scd2_dimension_stream_parquet`` — the
    classic warehouse SCD-2 loader as an incrementally maintained
    view, including the cross-epoch carry (a run that spans the epoch
    boundary keeps its original valid_from; a changed attribute closes
    the previous open tail at the new run's start). The result must
    hash-match the from-scratch batch gaps-and-islands over the whole
    stream — the strongest split-invariance check in the maintained-
    view tier because the fold algebra is a stateful carry, not an
    additive sum."""
    from local_stream_stack_spark.catalog import load_table

    configure_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        epoch_us(F.col("ts")).cast("bigint").alias("ts_us"),
        "event_id",
    )
    mid = ev.agg(
        ((F.min("ts_us") + F.max("ts_us")) / 2).cast("bigint").alias("m")
    ).collect()[0].m
    base = ephemeral_dir(prefix="stream-e2e-scd2-")
    in_dir = os.path.join(base, "in")
    view = os.path.join(base, "view")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: ev.filter(F.col("ts_us") <= mid)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: ev.filter(F.col("ts_us") > mid)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    from local_stream_stack_spark.streaming.ops import (
        read_scd2_dimension,
        scd2_dimension_stream_parquet,
    )

    q = scd2_dimension_stream_parquet(
        spark.readStream.schema(
            "user_id bigint, event_type string, ts_us bigint,"
            " event_id bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        key_col="user_id",
        attr_col="event_type",
        ts_col="ts_us",
        tiebreak_col="event_id",
        target_path=view,
        checkpoint_location=cp,
    )
    _drain(q)
    return (
        read_scd2_dimension(spark, view)
        .select(
            "user_id",
            "event_type",
            F.col("valid_from").alias("valid_from_us"),
            F.col("valid_to").alias("valid_to_us"),
        )
        .orderBy("user_id", "valid_from_us")
    )


@query(
    "stream_kmv_distinct_incremental",
    oracle="""
    WITH h AS (
      SELECT DISTINCT
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) + 1 AS h
      FROM events
    ),
    topk AS (SELECT h FROM h ORDER BY h LIMIT 64)
    SELECT CAST(COUNT(*) AS INT) AS k_used,
           CAST(MAX(h) AS BIGINT) AS kth_hash,
           CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                     ELSE CAST(ROUND(270582939648.0 / MAX(h)) AS BIGINT)
                END AS BIGINT) AS est_distinct
    FROM topk
    """,
)
def stream_kmv_distinct_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE maintained cardinality sketch: the event stream folds into
    a K-minimum-values view (k=64, <= 64 rows written per epoch no
    matter the batch size), and the final merged sketch must equal the
    from-scratch sketch of the whole stream — KMV's exact-merge
    property (sketch(A ∪ B) == merge of the parts, pinned in
    tests/test_sketches.py) is what makes distinct-count a maintainable
    view at all; additive counters can't answer it. Same portable md5
    estimator as `kmv_distinct_rollup`. At 100 TB the per-epoch delta
    stays k rows — the cheapest maintained view in the catalog."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        kmv_view_stream_parquet,
        read_kmv_view,
    )

    configure_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    base = ephemeral_dir(prefix="stream-e2e-kmv-")
    in_dir = os.path.join(base, "in")
    view = os.path.join(base, "view")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: ev.filter(F.col("event_id") % 2 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: ev.filter(F.col("event_id") % 2 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    q = kmv_view_stream_parquet(
        spark.readStream.schema("event_id bigint, user_id bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        key_col="user_id",
        target_path=view,
        checkpoint_location=cp,
        k=64,
    )
    _drain(q)
    return read_kmv_view(spark, view, k=64)


@query(
    "stream_kmv_compacted",
    oracle="""
    WITH h AS (
      SELECT DISTINCT
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) + 1 AS h
      FROM events
    ),
    topk AS (SELECT h FROM h ORDER BY h LIMIT 64)
    SELECT CAST(COUNT(*) AS INT) AS k_used,
           CAST(MAX(h) AS BIGINT) AS kth_hash,
           CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                     ELSE CAST(ROUND(270582939648.0 / MAX(h)) AS BIGINT)
                END AS BIGINT) AS est_distinct
    FROM topk
    """,
)
def stream_kmv_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV view maintenance ACROSS a generation fold: two epochs of
    k-minimum deltas, the writer's ``compact_every_n_epochs=2``
    AUTO-TRIGGER folding them in-stream (the fold keeps only the
    global k minima — LOSSLESS for the sketch, since a hash outside
    them can never re-enter a future merge), a third epoch merged on
    top of the generation on the resumed checkpoint, and the final
    sketch must equal the from-scratch sketch of the whole stream —
    same oracle as `stream_kmv_distinct_incremental`. This puts the
    last maintained-store family's fold under the driver's hash
    gate."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.compaction import (
        latest_generation,
    )
    from local_stream_stack_spark.streaming.ops import (
        kmv_view_stream_parquet,
        read_kmv_view,
    )

    configure_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    base = ephemeral_dir(prefix="stream-e2e-kmvc-")
    in_dir = os.path.join(base, "in")
    view = os.path.join(base, "view")
    cp = os.path.join(base, "cp")

    def run():
        q = kmv_view_stream_parquet(
            spark.readStream.schema("event_id bigint, user_id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir),
            key_col="user_id",
            target_path=view,
            checkpoint_location=cp,
            k=64,
            compact_every_n_epochs=2,
        )
        _drain(q)

    _stage_ordered(
        in_dir,
        lambda: ev.filter(F.col("event_id") % 3 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: ev.filter(F.col("event_id") % 3 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    gen, _ = latest_generation(spark, view)
    assert gen is not None, "auto-compaction trigger never fired"
    _stage_ordered(
        in_dir,
        lambda: None,
        lambda: ev.filter(F.col("event_id") % 3 == 2)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    return read_kmv_view(spark, view, k=64)


@query(
    "stream_unigram_lm_incremental",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    cnts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM cnts
    )
    SELECT c.tok, c.cnt,
           CAST(FLOOR(ln((c.cnt + 1.0) / (t.total + t.vocab)) * 1e6 + 0.5)
                AS BIGINT) AS logp_e6
    FROM cnts c CROSS JOIN tot t
    ORDER BY c.cnt DESC, c.tok
    LIMIT 20
    """,
)
def stream_unigram_lm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE maintained unigram language model: documents stream in two
    halves, each epoch tokenized once into additive (token, count)
    deltas through the generic `aggregate_view_stream_parquet`
    operator; the Laplace-smoothed log-probabilities of the top-20
    tokens are then computed from the FOLDED view — total tokens and
    vocabulary size both derive from the maintained counts, never from
    re-reading text — and must hash-match the from-scratch batch LM.
    The ln is rounded once to e6 over a one-double-tree of exact
    integers (the portable-transcendental rule)."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )

    configure_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = ephemeral_dir(prefix="stream-e2e-unigram-")
    in_dir = os.path.join(base, "in")
    view = os.path.join(base, "view")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: docs.filter(F.col("doc_id") % 2 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: docs.filter(F.col("doc_id") % 2 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    stream_toks = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("tok")
        )
    )
    q = aggregate_view_stream_parquet(
        stream_toks,
        keys=["tok"],
        sum_cols=[],
        target_path=view,
        checkpoint_location=cp,
    )
    _drain(q)
    cnts = read_aggregate_view(spark, view).select(
        "tok", F.col("n_rows").cast("bigint").alias("cnt")
    )
    tot = cnts.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("vocab"),
    )
    return (
        cnts.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "cnt",
            F.expr(
                "CAST(FLOOR(ln((cnt + 1.0) / (total + vocab))"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("logp_e6"),
        )
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(20)
    )


@query(
    "stream_corpus_card_incremental",
    oracle="""
    WITH card AS (
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(SUM(len(list_filter(regexp_split_to_array(trim(text),
                    '\\s+'), x -> len(x) > 0))) AS BIGINT) AS sum_tokens
      FROM documents
      GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM card)
    SELECT c.lang, c.source, c.n_docs, c.sum_chars, c.sum_tokens,
           CAST(CAST(c.n_docs AS HUGEINT) * 1000000
                // NULLIF(CAST(t.total AS HUGEINT), 0) AS BIGINT)
             AS share_e6
    FROM card c CROSS JOIN tot t
    ORDER BY c.lang, c.source
    """,
)
def stream_corpus_card_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE maintained dataset card: the per-(lang, source) corpus
    statistics a curation pipeline publishes (doc counts, char and
    token volume, corpus share) maintained as additive epoch deltas
    while documents stream in — the card is always current without
    rescanning the corpus, which is how a 100 TB ingest actually
    reports itself. Token counts fold exactly (whitespace tokens per
    doc are computed once at ingest); the share uses the
    overflow-safe scaled-integer division idiom."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )

    configure_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    base = ephemeral_dir(prefix="stream-e2e-card-")
    in_dir = os.path.join(base, "in")
    view = os.path.join(base, "view")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: docs.filter(F.col("doc_id") % 2 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: docs.filter(F.col("doc_id") % 2 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string,"
            " source string, n_chars bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .select(
            "lang",
            "source",
            F.col("n_chars").alias("chars"),
            F.size(
                F.filter(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: F.length(t) > 0,
                )
            )
            .cast("bigint")
            .alias("toks"),
        )
    )
    q = aggregate_view_stream_parquet(
        stream,
        keys=["lang", "source"],
        sum_cols=["chars", "toks"],
        target_path=view,
        checkpoint_location=cp,
    )
    _drain(q)
    card = read_aggregate_view(spark, view).select(
        "lang",
        "source",
        F.col("n_rows").cast("bigint").alias("n_docs"),
        F.col("sum_chars").cast("bigint").alias("sum_chars"),
        F.col("sum_toks").cast("bigint").alias("sum_tokens"),
    )
    tot = card.agg(F.sum("n_docs").cast("bigint").alias("total"))
    return (
        card.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "sum_chars",
            "sum_tokens",
            F.expr(
                "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000"
                " div NULLIF(total, 0) AS BIGINT)"
            ).alias("share_e6"),
        )
        .orderBy("lang", "source")
    )


@query(
    "stream_embedding_centroids_incremental",
    oracle="""
    WITH cells AS (
      SELECT label, u.p AS pos,
             CAST(FLOOR(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT) AS x_e6
      FROM embeddings,
           unnest(list_transform(generate_series(1, len(embedding)),
                  i -> {'p': i - 1, 'x': embedding[i]})) t(u)
    )
    SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(FLOOR(CAST(SUM(x_e6) AS DOUBLE) / COUNT(*) + 0.5)
                AS BIGINT) AS mean_e6
    FROM cells
    GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def stream_embedding_centroids_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE maintained per-label embedding centroids: vectors stream
    in two halves and fold into additive (label, dimension) sums of
    e6-quantized components — the running class centroids a curation
    pipeline needs for drift checks and nearest-centroid routing,
    maintained without re-reading any vector. Quantize-once-then-
    integer-sum makes the fold exact whatever the micro-batch split;
    the final mean is one double division rounded half-up. Spark-4
    note: posexplode rides its own select stage (the analyzer loses
    literal struct field names when a generator shares a select with
    struct access)."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )

    configure_for_oracle(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    base = ephemeral_dir(prefix="stream-e2e-centroid-")
    in_dir = os.path.join(base, "in")
    view = os.path.join(base, "view")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: emb.filter(F.col("vec_id") % 2 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: emb.filter(F.col("vec_id") % 2 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    exploded = (
        spark.readStream.schema(
            "vec_id bigint, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.posexplode(F.col("embedding")).alias("pos", "x"),
        )
        .select(
            "label",
            F.col("pos").cast("bigint").alias("pos"),
            F.expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")
            .alias("x_e6"),
        )
    )
    q = aggregate_view_stream_parquet(
        exploded,
        keys=["label", "pos"],
        sum_cols=["x_e6"],
        target_path=view,
        checkpoint_location=cp,
    )
    _drain(q)
    return (
        read_aggregate_view(spark, view)
        .select(
            "label",
            "pos",
            F.col("n_rows").cast("bigint").alias("n_vecs"),
            F.expr(
                "CAST(FLOOR(CAST(sum_x_e6 AS DOUBLE) / n_rows + 0.5)"
                " AS BIGINT)"
            ).alias("mean_e6"),
        )
        .orderBy("label", "pos")
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_nationkey, e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_nationkey, e.event_type
    ORDER BY c.c_nationkey, e.event_type
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-static join under the oracle: the event stream
    enriches against the static customer dimension (the reference's
    lookup-table pattern), then aggregates per (nation, event type) in
    complete mode. The static side re-reads per micro-batch — at scale
    a broadcast dimension — and the stream side never buffers join
    state (stream-static joins are stateless on the stream side), so
    the bounded replay must equal the batch join. Integer cents keep
    sums accumulation-order-exact across micro-batch splits."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import stream_static_join

    s = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    joined = stream_static_join(
        s.withColumn("cents", F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")),
        dim,
        on=F.col("user_id") == F.col("c_custkey"),
    )
    out = joined.groupBy("c_nationkey", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    table = _run_to_table(out, "stream_enrich", "complete")
    return table.orderBy("c_nationkey", "event_type")


@query(
    "stream_parquet_sink",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us
    FROM events
    WHERE event_type IN ('purchase', 'click')
    ORDER BY event_id
    """,
)
def stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE durable-sink path under the oracle: a filtered projection
    streams into an append-mode PARQUET sink (the production sink the
    memory-sink tests stand in for), and the files read back must
    equal the batch filter exactly — append mode with no aggregation
    emits every row exactly once on a bounded replay, and the sink's
    _spark_metadata commit log makes the read transactional."""
    s = _events_stream(spark, sf_dir)
    out = s.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id", "user_id", "event_type", "ts"
    )
    base = ephemeral_dir(prefix="stream-e2e-psink-")
    target = os.path.join(base, "out")
    cp = os.path.join(base, "cp")
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", target)
        .option("checkpointLocation", cp)
        .start()
    )
    _drain(q)
    return (
        spark.read.parquet(target)
        .select(
            "event_id",
            "user_id",
            "event_type",
            epoch_us("ts").alias("ts_us"),
        )
        .orderBy("event_id")
    )


@query(
    "stream_aggregate_view",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_aggregate_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE incremental view maintenance under the oracle: per-user
    additive aggregates stream into parquet epoch deltas
    (``aggregate_view_stream_parquet`` — replay-idempotent because a
    re-run epoch overwrites its own delta directory), and the read-side
    fold over deltas must equal the batch aggregate. Integer cents make
    the sums accumulation-order-exact."""
    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )

    s = _events_stream(spark, sf_dir).select(
        "user_id", F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents")
    )
    base = ephemeral_dir(prefix="stream-e2e-ivm-")
    target = os.path.join(base, "view")
    cp = os.path.join(base, "cp")
    q = aggregate_view_stream_parquet(
        s,
        keys=["user_id"],
        sum_cols=["cents"],
        target_path=target,
        checkpoint_location=cp,
    )
    _drain(q)
    return (
        read_aggregate_view(spark, target)
        .select("user_id", "n_rows", F.col("sum_cents").cast("bigint"))
        .orderBy("user_id")
    )


@query(
    "stream_aggregate_view_compacted",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_aggregate_view_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive-aggregate view maintenance ACROSS a generation fold,
    with the fold AUTO-TRIGGERED by the writer's
    ``compact_every_n_epochs`` policy (VERDICT r12: the trigger fires
    off the admit path once two live epochs accumulate — no manual
    mid-stream ``compact_aggregate_view`` call): two epochs of
    per-user deltas fold into a generation in-stream, a third epoch
    lands ON TOP of the generation on the resumed checkpoint, and the
    final read (generation + live delta) must equal the batch
    aggregate — same oracle as `stream_aggregate_view`. Integer cents
    keep the sums accumulation-order-exact."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )
    from local_stream_stack_spark.streaming.compaction import (
        latest_generation,
    )

    configure_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    base = ephemeral_dir(prefix="stream-e2e-ivmc-")
    in_dir = os.path.join(base, "in")
    target = os.path.join(base, "view")
    cp = os.path.join(base, "cp")

    def run():
        q = aggregate_view_stream_parquet(
            spark.readStream.schema(
                "event_id bigint, user_id bigint, cents bigint"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .select("user_id", "cents"),
            keys=["user_id"],
            sum_cols=["cents"],
            target_path=target,
            checkpoint_location=cp,
            compact_every_n_epochs=2,
        )
        _drain(q)

    _stage_ordered(
        in_dir,
        lambda: ev.filter(F.col("event_id") % 3 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: ev.filter(F.col("event_id") % 3 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    gen, _ = latest_generation(spark, target)
    assert gen is not None, "auto-compaction trigger never fired"
    _stage_ordered(
        in_dir,
        lambda: None,
        lambda: ev.filter(F.col("event_id") % 3 == 2)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    return (
        read_aggregate_view(spark, target)
        .select("user_id", "n_rows", F.col("sum_cents").cast("bigint"))
        .orderBy("user_id")
    )


@query(
    "stream_restart_resume_view",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_restart_resume_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintained-view crash recovery ACROSS A PROCESS BOUNDARY
    (VERDICT r11 #5): phase A runs in a SUBPROCESS with its own JVM —
    it streams two epochs of per-user cent deltas into an aggregate
    view and folds them into a generation, then the process exits.
    Phase B resumes the SAME checkpoint in THIS session (a different
    JVM), folds a third epoch on top of the generation, and the final
    read (generation + live delta) must equal the batch aggregate —
    the recovery contract every long-lived 100 TB maintainer needs:
    nothing about the store or checkpoint is process-local. Integer
    cents keep the sums accumulation-order-exact."""
    import subprocess
    import sys as _sys
    import textwrap

    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.compaction import (
        latest_generation,
    )
    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )

    configure_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    base = ephemeral_dir(prefix="stream-e2e-restart-")
    in_dir = os.path.join(base, "in")
    target = os.path.join(base, "view")
    cp = os.path.join(base, "cp")

    ev.filter(F.col("event_id") % 3 == 0).select(
        "user_id", "cents"
    ).coalesce(1).write.parquet(in_dir)
    ev.filter(F.col("event_id") % 3 == 1).select(
        "user_id", "cents"
    ).coalesce(1).write.mode("append").parquet(in_dir)

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    # the child is a fresh interpreter without this module's `_drain`,
    # so its drain is spelled out
    phase_a = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession
        from local_stream_stack_spark.streaming.ops import (
            aggregate_view_stream_parquet,
            compact_aggregate_view,
        )

        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        q = aggregate_view_stream_parquet(
            spark.readStream.schema("user_id bigint, cents bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet({in_dir!r}),
            keys=["user_id"],
            sum_cols=["cents"],
            target_path={target!r},
            checkpoint_location={cp!r},
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        compact_aggregate_view(spark, {target!r})
        spark.stop()
        """
    )
    proc = subprocess.run(
        [_sys.executable, "-c", phase_a],
        capture_output=True,
        text=True,
        timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            "phase-A subprocess failed:\n" + proc.stderr[-3000:]
        )
    gen, _ = latest_generation(spark, target)
    assert gen is not None, "phase-A fold is invisible across the JVM"

    ev.filter(F.col("event_id") % 3 == 2).select(
        "user_id", "cents"
    ).coalesce(1).write.mode("append").parquet(in_dir)
    q = aggregate_view_stream_parquet(
        spark.readStream.schema("user_id bigint, cents bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        keys=["user_id"],
        sum_cols=["cents"],
        target_path=target,
        checkpoint_location=cp,
    )
    _drain(q)
    return (
        read_aggregate_view(spark, target)
        .select("user_id", "n_rows", F.col("sum_cents").cast("bigint"))
        .orderBy("user_id")
    )


@query(
    "pyds_stream_agg",
    oracle="""
    SELECT CAST(g % 10 AS INT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM((g * 2654435761) % 4294967296) AS BIGINT) AS sum_k,
           CAST(ROUND(CAST(SUM((g * 2654435761) % 4294967296) AS DOUBLE)
                      / COUNT(*) / 4294967296 * 1000000) AS BIGINT)
             AS mean_unit_e6
    FROM generate_series(0, 49999) t(g)
    GROUP BY 1
    ORDER BY bucket
    """,
)
def pyds_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE custom STREAMING source under the oracle: the Python
    DataSource's SimpleDataSourceStreamReader (sources/pyds.py) serves
    the 50k-row id space in 10k-row micro-batches; the drained parquet
    sink must equal the batch read row-for-row, so the IDENTICAL
    generate_series oracle that checks `pyds_synthetic_agg` checks the
    whole streaming path — offsets, micro-batch planning, replay
    (readBetweenOffsets), and the sink. This is the reference's
    connector contract (stream AND batch faces over one source,
    kafka_connector.py:156-211) closed end-to-end in pure Python."""
    from local_stream_stack_spark.sources.pyds import register

    configure_for_oracle(spark)
    register(spark)
    base = ephemeral_dir(prefix="stream-e2e-pyds-")
    out = os.path.join(base, "out")
    q = (
        spark.readStream.format("lss_synthetic")
        .option("n_rows", "50000")
        .option("n_buckets", "10")
        .option("rows_per_batch", "10000")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(base, "cp"))
        .start()
    )
    _drain(q)
    df = spark.read.parquet(out)
    return (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(
                F.sum("k").cast("double")
                / F.count("*")
                / F.lit(4294967296.0)
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("mean_unit_e6"),
        )
        .orderBy("bucket")
    )


@query(
    "stream_interval_join_outer",
    oracle="""
    WITH wm AS (
      SELECT LEAST(
        (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT MAX(ts) FROM events WHERE event_type = 'view')
      ) AS m
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts
      FROM events
      WHERE event_type = 'purchase'
        AND ts < (SELECT m FROM wm) - INTERVAL 95 MINUTE
    ),
    v AS (
      SELECT event_id AS view_id, user_id, ts
      FROM events WHERE event_type = 'view'
    )
    SELECT p.purchase_id, p.user_id,
           CAST(epoch_us(CAST(p.ts AS TIMESTAMP)) AS BIGINT)
             AS purchase_ts_us,
           v.view_id,
           CAST(epoch_us(CAST(v.ts AS TIMESTAMP)) AS BIGINT)
             AS view_ts_us
    FROM p LEFT JOIN v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts
     AND v.ts <= p.ts + INTERVAL 30 MINUTE
    ORDER BY purchase_id, view_id
    """,
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-stream LEFT OUTER interval join under the oracle:
    views within 30 minutes after each purchase, both sides real
    streams — and purchases with NO view in the window emit one
    null-padded row ONCE the watermark closes their join window (the
    semantics an inner join cannot give). The bounded replay's
    finalizing no-data micro-batch advances the watermark to
    max(ts) - 1h, so every left row older than max(ts) - 91min
    (window upper bound + watermark + 1min guard band) has fully
    finalized outer output; BOTH engines restrict to that CLOSED
    region — the same cutoff a production consumer applies when
    reading an outer-join stream. The global watermark is the MIN over
    both sides' watermark operators, each fed by its own FILTERED
    stream — so the closed-region bound derives from
    least(max purchase ts, max view ts), minus watermark (1h) + window
    upper (30min) + a 5-minute guard band. State remains
    watermark-expired on both sides."""
    from local_stream_stack_spark.streaming.ops import (
        stream_stream_interval_join,
    )

    left = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    right = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("event_id", "user_id", "ts")
    )
    joined = stream_stream_interval_join(
        left,
        right,
        key="user_id",
        watermark="1 hour",
        lower="INTERVAL 0 SECONDS",
        upper="INTERVAL 30 MINUTES",
        how="left_outer",
    )
    table = _run_to_table(joined, "stream_ssjoin_outer", "append")
    # closed-region cutoff as INTEGER epoch micros, computed inside
    # the plan: a collect()ed Python datetime re-entering via F.lit
    # converts through the OS timezone (not the session one) — the
    # classic driver-boundary trap; integer microseconds dodge it
    cut_src, cut_glob = _table_source(sf_dir, "events")
    cut = (
        spark.read.option("pathGlobFilter", cut_glob)
        .parquet(cut_src)
        .filter(F.col("event_type").isin("purchase", "view"))
        .groupBy("event_type")
        .agg(F.max(epoch_us("ts")).alias("m"))
        .agg((F.min("m") - F.lit(95 * 60 * 1_000_000)).alias("cut_us"))
    )
    return (
        table.crossJoin(F.broadcast(cut))
        .filter(epoch_us("ts") < F.col("cut_us"))
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            epoch_us("ts").alias("purchase_ts_us"),
            F.col("event_id_r").alias("view_id"),
            epoch_us("ts_r").alias("view_ts_us"),
        )
        .orderBy("purchase_id", "view_id")
    )


@query(
    "stream_windowed_rollup_chain",
    oracle="""
    WITH minute AS (
      SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 60) * 60
                  AS BIGINT) AS m_start,
             COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    wm AS (
      SELECT CAST(FLOOR(epoch(CAST(MAX(ts) AS TIMESTAMP))) AS BIGINT)
               - 3660 AS closed_end
      FROM events
    )
    SELECT CAST(FLOOR(m_start / 3600) * 3600 AS BIGINT) AS hour_start_s,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(COUNT(*) AS BIGINT) AS n_minutes,
           CAST(MAX(n) AS BIGINT) AS peak_minute
    FROM minute
    GROUP BY 1
    HAVING CAST(FLOOR(m_start / 3600) * 3600 AS BIGINT) + 3600
           <= (SELECT closed_end FROM wm)
    ORDER BY hour_start_s
    """,
)
def stream_windowed_rollup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE chained stateful operators (Spark's multiple-stateful-
    operator support): a minute-window count feeding an hour-window
    rollup in ONE streaming query, append mode — the continuous-
    aggregate cascade (`rollup_time_hierarchy`) running incrementally.
    The second aggregate windows over ``window_time`` of the first
    (the event-time column a downstream stateful op must derive from
    an upstream window), and the watermark propagates through both.

    Append mode emits an hour window once the watermark passes its
    end, so the bounded replay's closed region is hours with
    end <= max(ts) - watermark(1h) - 1min guard; BOTH engines
    restrict to it (same discipline as stream_interval_join_outer)."""
    s = _events_stream(spark, sf_dir)
    minute = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 minute").alias("w1"))
        .agg(F.count("*").alias("n"))
    )
    hour = (
        minute.groupBy(
            F.window(F.window_time("w1"), "1 hour").alias("w2")
        )
        .agg(
            F.sum("n").cast("bigint").alias("total_events"),
            F.count("*").cast("bigint").alias("n_minutes"),
            F.max("n").cast("bigint").alias("peak_minute"),
        )
    )
    table = _run_to_table(hour, "stream_rollup_chain", "append")
    cut_src, cut_glob = _table_source(sf_dir, "events")
    cut = (
        spark.read.option("pathGlobFilter", cut_glob)
        .parquet(cut_src)
        .agg((F.max(epoch_us("ts")) / 1_000_000).cast("bigint").alias("mx"))
        .select((F.col("mx") - 3660).alias("closed_end"))
    )
    return (
        table.crossJoin(F.broadcast(cut))
        .filter(epoch_s("w2.end") <= F.col("closed_end"))
        .select(
            epoch_s("w2.start").alias("hour_start_s"),
            "total_events",
            "n_minutes",
            "peak_minute",
        )
        .orderBy("hour_start_s")
    )


@query(
    "stream_quality_quarantine",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             len(toks) AS nw,
             COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
               AS wc,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
               AS aw,
             len(list_filter(toks, x -> lower(x) IN
               ('the','a','and','of','is','to','in','it'))) AS sh
      FROM t
    ),
    m AS (
      SELECT doc_id, MAX(cnt) AS mx FROM (
        SELECT doc_id, tok, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(toks) AS tok FROM t) u
        GROUP BY doc_id, tok) c
      GROUP BY doc_id
    ),
    flags AS (
      SELECT s.doc_id,
             CASE
               WHEN NOT (nw BETWEEN 25 AND 1000) THEN 'word_count'
               WHEN NOT (wc >= 3 * nw AND wc <= 10 * nw)
                 THEN 'mean_word_len'
               WHEN NOT (5 * aw >= 4 * nw) THEN 'alpha_words'
               WHEN NOT (sh >= 2) THEN 'stopwords'
               WHEN NOT (5 * COALESCE(mx, 0) <= nw) THEN 'repetition'
               ELSE NULL
             END AS reject_reason
      FROM s LEFT JOIN m USING (doc_id)
    )
    SELECT CASE WHEN reject_reason IS NULL THEN 'clean'
                ELSE 'quarantine' END AS route,
           COALESCE(reject_reason, 'ok') AS reason,
           COUNT(*) AS n_docs
    FROM flags
    GROUP BY 1, 2
    ORDER BY route, reason
    """,
)
def stream_quality_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE dead-letter-queue pattern under the oracle: the Gopher
    quality gate runs INSIDE a streaming query, and foreachBatch
    splits every micro-batch into a clean parquet sink and a
    quarantine sink that carries the FIRST failing rule as the
    reject reason - the production shape for fail-open ingestion
    (nothing is dropped; rejects stay queryable for triage). Each
    epoch lands in its own ``epoch=<id>`` subdirectory with
    mode("overwrite"), so a retried epoch REPLACES its own output
    instead of appending duplicates (ADVICE r6: plain append was only
    idempotent under the single-run/no-retry assumption); the sinks
    read back as partitioned datasets. The returned summary is read
    back from the SINKS, so the oracle checks what actually landed on
    disk."""
    from local_stream_stack_spark.operators.text import quality_flags

    configure_for_oracle(spark)
    src_dir, glob = _table_source(sf_dir, "documents")
    batch_schema = spark.read.option(
        "pathGlobFilter", glob
    ).parquet(src_dir).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", glob)
        .parquet(src_dir)
    )
    flagged = quality_flags(stream, "text").withColumn(
        "reject_reason",
        F.expr(
            """CASE
                 WHEN ok_word_count = 0 THEN 'word_count'
                 WHEN ok_mean_word_len = 0 THEN 'mean_word_len'
                 WHEN ok_alpha_words = 0 THEN 'alpha_words'
                 WHEN ok_stopwords = 0 THEN 'stopwords'
                 WHEN ok_repetition = 0 THEN 'repetition'
                 ELSE NULL
               END"""
        ),
    )
    base = ephemeral_dir(prefix="stream-e2e-dlq-")
    clean_dir = os.path.join(base, "clean")
    dlq_dir = os.path.join(base, "quarantine")
    cp = os.path.join(base, "cp")

    def route(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            batch.filter(F.col("reject_reason").isNull()).select(
                "doc_id", "lang", "source"
            ).write.mode("overwrite").parquet(
                os.path.join(clean_dir, f"epoch={epoch_id}")
            )
            batch.filter(F.col("reject_reason").isNotNull()).select(
                "doc_id", "lang", "source", "reject_reason"
            ).write.mode("overwrite").parquet(
                os.path.join(dlq_dir, f"epoch={epoch_id}")
            )
        finally:
            batch.unpersist()

    q = (
        flagged.writeStream.outputMode("append")
        .foreachBatch(route)
        .option("checkpointLocation", cp)
        .start()
    )
    _drain(q)

    def read_or_empty(path: str, schema: str) -> DataFrame:
        # a corpus can legitimately route 100% one way; the absent
        # sink then has no directory to read
        if os.path.isdir(path):
            return spark.read.parquet(path)
        return spark.createDataFrame([], schema)

    clean = read_or_empty(
        clean_dir, "doc_id long, lang string, source string"
    ).select(F.lit("clean").alias("route"), F.lit("ok").alias("reason"))
    dlq = read_or_empty(
        dlq_dir,
        "doc_id long, lang string, source string, reject_reason string",
    ).select(
        F.lit("quarantine").alias("route"),
        F.col("reject_reason").alias("reason"),
    )
    return (
        clean.unionByName(dlq)
        .groupBy("route", "reason")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("route", "reason")
    )


def _register_doc_schema():
    import pyspark.sql.types as T

    from local_stream_stack_spark.schemas import get_schema, register_schema

    try:
        get_schema("harness_document")
    except KeyError:
        register_schema(
            "harness_document",
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType(), True),
                    T.StructField("text", T.StringType(), True),
                    T.StructField("lang", T.StringType(), True),
                    T.StructField("source", T.StringType(), True),
                    T.StructField("n_chars", T.LongType(), True),
                ]
            ),
        )


def _stream_curation_oracle() -> str:
    from local_stream_stack_spark.queries.llm import _LANG_SCORE_SQL

    return f"""
    WITH scored AS ({_LANG_SCORE_SQL}),
    gated AS (
      SELECT predicted_lang,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS norm_hash
      FROM scored
      WHERE quality_score >= 0.80 AND n_tokens >= 10
        AND predicted_lang IN ('en', 'und')
    ),
    uniq AS (SELECT DISTINCT predicted_lang, norm_hash FROM gated)
    SELECT predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           MIN(norm_hash) AS min_hash,
           MAX(norm_hash) AS max_hash
    FROM uniq
    GROUP BY predicted_lang
    ORDER BY predicted_lang
    """


@query("stream_curation_yaml", oracle=_stream_curation_oracle())
def stream_curation_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 curation transforms (``text_stats`` -> ``lang_id``
    -> quality gate -> content-hash dedup) running LIVE as a YAML
    streaming pipeline — the stream twin of ``curation_pipeline_yaml``
    and the proof that the registry's curation stages are
    batch/stream-symmetric. The dedup stage is the engine's stateful
    ``drop_duplicates`` (streaming dedup state); rows are projected to
    (predicted_lang, norm_hash) BEFORE the dedup so every row of a key
    is identical and the arbitrary-first-arrival pick cannot leak
    nondeterminism into the memory sink. The replay result collapses
    to per-language unique-content counts, which must equal the batch
    DISTINCT oracle exactly."""
    from local_stream_stack_spark.pipeline import Pipeline

    configure_for_oracle(spark)
    _register_doc_schema()
    qname = f"stream_curation_yaml_{next(_run_seq)}"
    path, glob = _table_source(sf_dir, "documents")
    cfg = {
        "name": "curation-stream",
        "source": {
            "type": "parquet",
            "path": path,
            "streaming": True,
            "schema": "harness_document",
            "pathGlobFilter": glob,
        },
        "processors": [
            {"name": "text_stats", "params": {}},
            {"name": "lang_id", "params": {}},
            {
                "name": "filter",
                "params": {
                    "predicate": (
                        "quality_score >= 0.80 AND n_tokens >= 10"
                        " AND predicted_lang IN ('en', 'und')"
                    )
                },
            },
            {
                "name": "with_column",
                "params": {
                    "name": "norm_hash",
                    "expr": (
                        "md5(regexp_replace(lower(trim(text)),"
                        " '\\\\s+', ' '))"
                    ),
                },
            },
            {
                "name": "select",
                "params": {"columns": ["predicted_lang", "norm_hash"]},
            },
            {"name": "drop_duplicates", "params": {"columns": ["norm_hash"]}},
        ],
        "sink": {
            "type": "memory",
            "output_mode": "append",
            "query_name": qname,
        },
    }
    pipe = Pipeline(spark, cfg)
    q = pipe.run()
    _drain(q)
    return (
        spark.table(qname)
        .groupBy("predicted_lang")
        .agg(
            F.count("*").cast("bigint").alias("n_unique"),
            F.min("norm_hash").alias("min_hash"),
            F.max("norm_hash").alias("max_hash"),
        )
        .orderBy("predicted_lang")
    )


@query(
    "stream_skyline_frontier",
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
      SELECT a.p_size, a.price_c, COUNT(*) AS n_parts
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
def stream_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE incremental skyline: the Pareto frontier of (price, size)
    maintained across micro-batches by ``skyline_stream_parquet`` —
    per-group (min, count-at-min) is a SEMIGROUP, so the converged
    frontier is batch-boundary-insensitive and must equal the batch
    dominance oracle exactly. Epoch state is bounded by |distinct
    sizes| (tiny at any corpus scale); each epoch merges the latest
    prior state with its own per-group minima and overwrites its own
    ``__epoch`` directory (crash-replay exactly-once). The cross-group
    dominance anti-join runs at read time over the tiny state."""
    from local_stream_stack_spark.streaming.ops import (
        read_skyline_store,
        skyline_stream_parquet,
    )

    configure_for_oracle(spark)
    src_dir, glob = _table_source(sf_dir, "part")
    schema = spark.read.option("pathGlobFilter", glob).parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .select(
            F.col("p_size").cast("int").alias("p_size"),
            F.expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)").alias(
                "price_c"
            ),
        )
    )
    base = ephemeral_dir(prefix="stream-skyline-")
    q = skyline_stream_parquet(
        stream,
        group_col="p_size",
        value_col="price_c",
        store_path=os.path.join(base, "store"),
        checkpoint_location=os.path.join(base, "cp"),
    )
    _drain(q)
    return (
        read_skyline_store(
            spark, os.path.join(base, "store"), "p_size", "price_c"
        )
        .select(
            "p_size",
            F.col("price_c").alias("min_price_cents"),
            F.col("n").alias("n_parts_at_point"),
        )
        .orderBy("p_size")
    )


def _psi_cells(df: DataFrame, keys: list) -> DataFrame:
    return (
        df.select(
            *keys,
            F.expr(
                "length(bin(CAST(ROUND(o_totalprice * 100) AS BIGINT))) - 1"
            ).alias("b"),
        )
        .groupBy(*keys, "b")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


@query(
    "stream_psi_monitor",
    oracle="""
    WITH o AS (
      SELECT CAST(o_orderkey % 3 AS INT) AS chunk,
             length(bin(CAST(ROUND(o_totalprice * 100) AS BIGINT))) - 1
               AS b
      FROM orders
    ),
    cells AS (
      SELECT chunk, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM o GROUP BY chunk, b
    ),
    ref AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cr FROM cells GROUP BY b),
    bins AS (SELECT DISTINCT b FROM ref),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbins FROM bins),
    reftot AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM ref),
    chunks AS (
      SELECT chunk, CAST(SUM(c) AS BIGINT) AS na FROM cells GROUP BY chunk
    ),
    grid AS (
      SELECT ch.chunk, bb.b, ch.na,
             COALESCE(cl.c, 0) AS ca, r.cr, rt.nr, nb.nbins
      FROM chunks ch
      CROSS JOIN bins bb
      LEFT JOIN cells cl ON cl.chunk = ch.chunk AND cl.b = bb.b
      JOIN ref r ON r.b = bb.b
      CROSS JOIN reftot rt CROSS JOIN nb
    ),
    terms AS (
      SELECT chunk, na, nr, nbins,
             CAST((ca + 1) * (nr + nbins)
                  - (cr + 1) * (na + nbins) AS HUGEINT) AS diff_cross,
             CAST(ROUND(ln(
               (CAST(ca + 1 AS DOUBLE) * (nr + nbins))
               / (CAST(cr + 1 AS DOUBLE) * (na + nbins))) * 1000000)
               AS BIGINT) AS t_e6
      FROM grid
    )
    SELECT chunk,
           CAST(MAX(na) AS BIGINT) AS n_rows,
           CAST(SUM(diff_cross * t_e6)
                // NULLIF(CAST(MAX(na + nbins) AS HUGEINT)
                          * MAX(nr + nbins), 0) AS BIGINT) AS psi_e6
    FROM terms
    GROUP BY chunk
    ORDER BY chunk
    """,
)
def stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE drift monitoring: each micro-batch computes the PSI of its
    own price distribution against the static reference book and
    appends one (chunk, n_rows, psi_e6) row to an epoch-dir store —
    the per-batch data-quality gate a production ingest runs before
    admitting a feed's day into the corpus. The input is staged as
    three files keyed by ``o_orderkey % 3`` with maxFilesPerTrigger=1,
    so each epoch IS one chunk; the output keys on the chunk value
    from the DATA (not the epoch id), so file-listing order cannot
    leak in. Same integer-exact PSI recipe as the batch
    `psi_price_drift_by_segment` (log2 bins, add-one smoothing,
    cross-multiplied diff, single e6-rounded ln, HUGEINT division);
    crash replay overwrites the same epoch dir. Reference histogram is
    broadcast-sized (|bins| rows)."""
    configure_for_oracle(spark)
    base = ephemeral_dir(prefix="stream-psi-")
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    src_dir, glob = _table_source(sf_dir, "orders")
    orders = (
        spark.read.option("pathGlobFilter", glob)
        .parquet(src_dir)
        .select("o_orderkey", "o_totalprice")
    )
    for i in range(3):
        orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    # static reference: the whole book's log2-bin histogram
    ref = (
        _psi_cells(orders, [])
        .select(F.col("b"), F.col("c").alias("cr"))
        .localCheckpoint(eager=True)
    )
    store = os.path.join(base, "store")

    def monitor(batch_df: DataFrame, epoch_id: int) -> None:
        keyed = batch_df.withColumn(
            "chunk", F.expr("CAST(o_orderkey % 3 AS INT)")
        )
        cells = _psi_cells(keyed, ["chunk"])
        grid = (
            cells.groupBy("chunk")
            .agg(F.sum("c").cast("bigint").alias("na"))
            .crossJoin(F.broadcast(ref.select("b")))
            .join(cells, ["chunk", "b"], "left")
            .join(F.broadcast(ref), "b")
            .crossJoin(
                F.broadcast(
                    ref.agg(
                        F.sum("cr").cast("bigint").alias("nr"),
                        F.count("*").cast("bigint").alias("nbins"),
                    )
                )
            )
            .select(
                "chunk",
                "na",
                "nr",
                "nbins",
                F.coalesce(F.col("c"), F.lit(0)).alias("ca"),
                "cr",
            )
        )
        terms = grid.select(
            "chunk",
            "na",
            "nr",
            "nbins",
            F.expr(
                "CAST((ca + 1) * (nr + nbins)"
                " - (cr + 1) * (na + nbins) AS DECIMAL(38,0))"
            ).alias("diff_cross"),
            F.expr(
                "CAST(ROUND(ln("
                "(CAST(ca + 1 AS DOUBLE) * (nr + nbins))"
                " / (CAST(cr + 1 AS DOUBLE) * (na + nbins))) * 1000000)"
                " AS BIGINT)"
            ).alias("t_e6"),
        )
        out = (
            terms.groupBy("chunk")
            .agg(
                F.max("na").cast("bigint").alias("n_rows"),
                F.expr(
                    "CAST(SUM(diff_cross * t_e6)"
                    " div NULLIF(CAST(MAX(na + nbins) AS DECIMAL(38,0))"
                    "            * MAX(nr + nbins), 0) AS BIGINT)"
                ).alias("psi_e6"),
            )
        )
        out.coalesce(1).write.mode("overwrite").parquet(
            f"{store}/__epoch={epoch_id}"
        )

    stream = (
        spark.readStream.schema("o_orderkey bigint, o_totalprice double")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(monitor)
        .option("checkpointLocation", os.path.join(base, "cp"))
        .start()
    )
    _drain(q)
    return (
        spark.read.option("basePath", store)
        .parquet(f"{store}/__epoch=*")
        .select("chunk", "n_rows", "psi_e6")
        .orderBy("chunk")
    )


@query(
    "stream_cms_heavy_hitters_incremental",
    oracle="""
    WITH probes AS (
      SELECT e.user_id, d.d,
             CAST('0x' || substring(md5(CAST(e.user_id AS VARCHAR)
                                        || '|' || CAST(d.d AS VARCHAR)),
                                    1, 8) AS BIGINT) % 1024 AS w
      FROM events e CROSS JOIN generate_series(0, 3) d(d)
    ),
    grid AS (
      SELECT d, w, COUNT(*) AS cnt FROM probes GROUP BY d, w
    ),
    keyprobes AS (
      SELECT DISTINCT user_id, d, w FROM probes
    ),
    est AS (
      SELECT k.user_id, MIN(g.cnt) AS est
      FROM keyprobes k JOIN grid g ON k.d = g.d AND k.w = g.w
      GROUP BY k.user_id
    )
    SELECT user_id, est FROM est
    ORDER BY est DESC, user_id
    LIMIT 20
    """,
)
def stream_cms_heavy_hitters_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE maintained count-min sketch: the event stream folds into a
    4×1024 counter grid maintained as additive epoch deltas (each
    micro-batch ships at most depth×width cells, regardless of batch
    size — the counter-grid twin of the KMV view), and heavy-hitter
    estimates from the FOLDED grid must equal the from-scratch batch
    sketch — CMS mergeability (grid(A ∪ B) == grid(A) + grid(B),
    pinned in tests/test_sketches.py) is exactly what makes the
    sketch maintainable. Portable md5 probes so the oracle replays
    placement bit-for-bit; estimation joins the candidate keys
    against the broadcast grid. At 100 TB the per-epoch delta stays
    grid-sized — O(4096) rows — while the estimate pass is one
    broadcast join over distinct keys."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.operators.sketches import (
        _probes,
        cms_estimate,
    )
    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )

    configure_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    base = ephemeral_dir(prefix="stream-e2e-cms-")
    in_dir = os.path.join(base, "in")
    view = os.path.join(base, "view")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: ev.filter(F.col("event_id") % 2 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: ev.filter(F.col("event_id") % 2 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    stream_cells = (
        spark.readStream.schema("event_id bigint, user_id bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .select(
            F.explode(
                _probes(F.col("user_id"), 4, 1024, portable=True)
            ).alias("p")
        )
        .select(F.col("p.d").alias("d"), F.col("p.w").alias("w"))
    )
    q = aggregate_view_stream_parquet(
        stream_cells,
        keys=["d", "w"],
        sum_cols=[],
        target_path=view,
        checkpoint_location=cp,
    )
    _drain(q)
    grid = read_aggregate_view(spark, view).select(
        "d", "w", F.col("n_rows").alias("cnt")
    )
    users = ev.select("user_id").distinct()
    return (
        cms_estimate(grid, users, "user_id", depth=4, width=1024, portable=True)
        .orderBy(F.desc("est"), F.asc("user_id"))
        .limit(20)
    )


@query(
    "stream_pmi_collocations_incremental",
    oracle="""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
      FROM documents
    ),
    uni AS (
      SELECT unnest(t) AS a FROM docs
    ),
    unic AS (
      SELECT a, CAST(COUNT(*) AS BIGINT) AS na FROM uni GROUP BY a
    ),
    tot1 AS (SELECT CAST(SUM(na) AS BIGINT) AS t1 FROM unic),
    big AS (
      SELECT u['a'] AS a, u['b'] AS b
      FROM (
        SELECT unnest([{'a': t[i], 'b': t[i + 1]}
                       for i in generate_series(1, len(t) - 1)]) AS u
        FROM docs
      )
    ),
    bigc AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab
      FROM big GROUP BY a, b
    ),
    tot2 AS (SELECT CAST(SUM(nab) AS BIGINT) AS t2 FROM bigc)
    SELECT g.a, g.b, g.nab,
           CAST(FLOOR(LN(
             (CAST(g.nab AS DOUBLE) / t2.t2)
             * (CAST(t1.t1 AS DOUBLE) / ua.na)
             * (CAST(t1.t1 AS DOUBLE) / ub.na)
           ) * 1e6 + 0.5) AS BIGINT) AS pmi_e6
    FROM bigc g
    JOIN unic ua ON ua.a = g.a
    JOIN unic ub ON ub.a = g.b
    CROSS JOIN tot1 t1 CROSS JOIN tot2 t2
    WHERE g.nab >= 5
    ORDER BY g.nab DESC, g.a, g.b
    LIMIT 20
    """,
)
def stream_pmi_collocations_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE maintained collocation model: documents stream in two
    halves and each micro-batch is tokenized ONCE into additive
    unigram and adjacent-bigram count deltas (one keyed view,
    kind='1'/'2' rows), the maintained shape of
    `token_pmi_collocations`; top-20 PMI collocations computed from
    the FOLDED view must hash-match the from-scratch batch compute.
    PMI = ln(p(a,b)/(p(a)p(b))) over exact integer counts — one ln
    per surviving pair, rounded once to e6 with the division tree
    written identically on both engines. At 100 TB the per-epoch
    delta is bounded by the batch's distinct-bigram set (sub-linear
    in tokens), and the final join is counts-to-counts, never a
    re-read of text."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )

    configure_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = ephemeral_dir(prefix="stream-e2e-pmi-")
    in_dir = os.path.join(base, "in")
    view = os.path.join(base, "view")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: docs.filter(F.col("doc_id") % 2 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: docs.filter(F.col("doc_id") % 2 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    toked = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .select(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias(
                "t"
            )
        )
    )
    uni = toked.select(
        F.lit("1").alias("kind"),
        F.explode("t").alias("a"),
        F.lit("").alias("b"),
    )
    big = toked.select(
        F.lit("2").alias("kind"),
        F.explode(
            F.expr(
                """CASE WHEN size(t) >= 2 THEN
                     transform(sequence(1, size(t) - 1),
                       i -> struct(element_at(t, i) AS a,
                                   element_at(t, i + 1) AS b))
                   ELSE array() END"""
            )
        ).alias("p"),
    ).select("kind", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    q = aggregate_view_stream_parquet(
        uni.unionByName(big),
        keys=["kind", "a", "b"],
        sum_cols=[],
        target_path=view,
        checkpoint_location=cp,
    )
    _drain(q)
    folded = read_aggregate_view(spark, view)
    unic = folded.filter(F.col("kind") == "1").select(
        "a", F.col("n_rows").cast("bigint").alias("na")
    )
    bigc = folded.filter(F.col("kind") == "2").select(
        "a", "b", F.col("n_rows").cast("bigint").alias("nab")
    )
    tot1 = unic.agg(F.sum("na").cast("bigint").alias("t1"))
    tot2 = bigc.agg(F.sum("nab").cast("bigint").alias("t2"))
    ua = unic.select(F.col("a"), F.col("na").alias("na_a"))
    ub = unic.select(
        F.col("a").alias("b"), F.col("na").alias("na_b")
    )
    return (
        bigc.filter(F.col("nab") >= 5)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(tot1))
        .crossJoin(F.broadcast(tot2))
        .select(
            "a",
            "b",
            "nab",
            F.expr(
                """CAST(FLOOR(LN(
                     (CAST(nab AS DOUBLE) / t2)
                     * (CAST(t1 AS DOUBLE) / na_a)
                     * (CAST(t1 AS DOUBLE) / na_b)
                   ) * 1e6 + 0.5) AS BIGINT)"""
            ).alias("pmi_e6"),
        )
        .orderBy(F.desc("nab"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


@query(
    "stream_histogram_quantiles_incremental",
    oracle="""
    WITH bins AS (
      SELECT CAST(CASE WHEN value <= 0 THEN -9999
                       ELSE CAST(FLOOR(LOG2(value)) AS INT) END AS INT)
               AS bucket_log2,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT bucket_log2, n_events,
             SUM(n_events) OVER (ORDER BY bucket_log2) AS cw
      FROM bins
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n FROM bins),
    qs AS (SELECT unnest([50, 90, 99]) AS q)
    SELECT CAST(qs.q AS INT) AS q,
           CAST(MIN(c.bucket_log2) AS INT) AS bucket_log2,
           CAST(MAX((qs.q * t.n + 99) // 100) AS BIGINT) AS thr_events,
           CAST(MAX(t.n) AS BIGINT) AS total_events
    FROM qs
    CROSS JOIN tot t
    JOIN cum c ON c.cw >= (qs.q * t.n + 99) // 100
    GROUP BY qs.q
    ORDER BY q
    """,
)
def stream_histogram_quantiles_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE maintained histogram → quantile view: event values stream
    in two halves into an additive log2-bin histogram (per-epoch
    delta = O(bins) rows), and p50/p90/p99 bucket estimates computed
    from the FOLDED histogram must equal the from-scratch batch
    answer — the maintained-view route to streaming quantiles
    (per-value exact quantiles are not additively maintainable;
    bin-grain ones are, which is how production metric stores do it).
    Bucket = floor(log2(v)) with the ≤0 sentinel of
    `value_histogram_log2`; the quantile pick is the smallest bucket
    whose exact integer cumsum reaches ceil(q·n/100), computed via
    the distributed-rank cumsum — all BIGINTs, no doubles anywhere.
    At 100 TB: per-epoch delta stays bin-grain and the read side
    folds |bins| rows."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )
    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )

    configure_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    base = ephemeral_dir(prefix="stream-e2e-histq-")
    in_dir = os.path.join(base, "in")
    view = os.path.join(base, "view")
    cp = os.path.join(base, "cp")
    _stage_ordered(
        in_dir,
        lambda: ev.filter(F.col("event_id") % 2 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: ev.filter(F.col("event_id") % 2 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    stream_bins = (
        spark.readStream.schema("event_id bigint, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .select(
            F.expr(
                """CAST(CASE WHEN value <= 0 THEN -9999
                       ELSE CAST(FLOOR(LOG2(value)) AS INT) END AS INT)"""
            ).alias("bucket_log2")
        )
    )
    q = aggregate_view_stream_parquet(
        stream_bins,
        keys=["bucket_log2"],
        sum_cols=[],
        target_path=view,
        checkpoint_location=cp,
    )
    _drain(q)
    bins = read_aggregate_view(spark, view).select(
        "bucket_log2", F.col("n_rows").cast("bigint").alias("n_events")
    )
    cum = with_global_rank(
        bins,
        "bucket_log2",
        out_rank="__rn",
        cumsum={"n_events": "cw"},
        acc_type="BIGINT",
        bins=16,
    )
    tot = bins.agg(F.sum("n_events").cast("bigint").alias("n"))
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("q")
    )
    return (
        qs.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(cum.select("bucket_log2", "cw")),
            F.col("cw") >= F.expr("(q * n + 99) div 100"),
        )
        .groupBy("q")
        .agg(
            F.min("bucket_log2").cast("int").alias("bucket_log2"),
            F.max(F.expr("(q * n + 99) div 100"))
            .cast("bigint")
            .alias("thr_events"),
            F.max("n").cast("bigint").alias("total_events"),
        )
        .select(
            F.col("q").cast("int").alias("q"),
            "bucket_log2",
            "thr_events",
            "total_events",
        )
        .orderBy("q")
    )


@query(
    "stream_minmax_view_incremental",
    oracle="""
    SELECT user_id,
           CAST(MIN(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS max_cents,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_minmax_view_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintained MIN/MAX/COUNT view — the non-subtractable aggregate
    family under the live micro-batch engine: three epochs of per-user
    deltas with the writer's ``compact_every_n_epochs=2`` auto-trigger
    folding mid-stream (min/max are associative under insert-only
    streams, so the folded generation reads identically to the delta
    union), a third epoch landing live on the resumed checkpoint, and
    the final read must equal the batch aggregate. Integer cents keep
    the extrema exact."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.compaction import (
        latest_generation,
    )
    from local_stream_stack_spark.streaming.ops import (
        minmax_view_stream_parquet,
        read_minmax_view,
    )

    configure_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    base = ephemeral_dir(prefix="stream-e2e-minmax-")
    in_dir = os.path.join(base, "in")
    target = os.path.join(base, "view")
    cp = os.path.join(base, "cp")

    def run():
        q = minmax_view_stream_parquet(
            spark.readStream.schema(
                "event_id bigint, user_id bigint, cents bigint"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .select("user_id", "cents"),
            keys=["user_id"],
            val_col="cents",
            target_path=target,
            checkpoint_location=cp,
            compact_every_n_epochs=2,
        )
        _drain(q)

    _stage_ordered(
        in_dir,
        lambda: ev.filter(F.col("event_id") % 3 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: ev.filter(F.col("event_id") % 3 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    gen, _ = latest_generation(spark, target)
    assert gen is not None, "auto-compaction trigger never fired"
    _stage_ordered(
        in_dir,
        lambda: None,
        lambda: ev.filter(F.col("event_id") % 3 == 2)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    return (
        read_minmax_view(spark, target)
        .select(
            "user_id",
            F.col("min_v").alias("min_cents"),
            F.col("max_v").alias("max_cents"),
            "n_rows",
        )
        .orderBy("user_id")
    )


@query(
    "stream_bitmap_index_incremental",
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
           CAST(SUM(CASE WHEN (ma & mb) <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zones_and
    FROM z
    """,
)
def stream_bitmap_index_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintained per-zone BITMAP INDEX under the live micro-batch
    engine — the idempotent-associative end of the maintained-view
    algebra (OR masks merge exactly under folds, live deltas AND
    replays): three epochs of events land as per-zone predicate
    masks, the writer's ``compact_every_n_epochs=2`` auto-trigger
    folds mid-stream, a third epoch lands live on the resumed
    checkpoint, and the final mask roll-up (zone counts, per-predicate
    populations, AND intersections) must equal the batch bitmap audit
    (``bitmap_zone_intersection``) over the same events."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.compaction import (
        latest_generation,
    )
    from local_stream_stack_spark.streaming.ops import (
        bitmap_view_stream_parquet,
        read_bitmap_view,
    )

    configure_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("event_id div 62").alias("zone"),
        F.expr("event_id % 62").alias("pos"),
        F.expr(
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        ).alias("pa"),
        F.expr("CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END").alias("pb"),
    )
    base = ephemeral_dir(prefix="stream-e2e-bitmap-")
    in_dir = os.path.join(base, "in")
    target = os.path.join(base, "view")
    cp = os.path.join(base, "cp")

    def run():
        q = bitmap_view_stream_parquet(
            spark.readStream.schema(
                "event_id bigint, zone bigint, pos bigint,"
                " pa int, pb int"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .select("zone", "pos", "pa", "pb"),
            zone_col="zone",
            pos_col="pos",
            flag_cols=["pa", "pb"],
            target_path=target,
            checkpoint_location=cp,
            compact_every_n_epochs=2,
        )
        _drain(q)

    _stage_ordered(
        in_dir,
        lambda: ev.filter(F.col("event_id") % 3 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: ev.filter(F.col("event_id") % 3 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    gen, _ = latest_generation(spark, target)
    assert gen is not None, "auto-compaction trigger never fired"
    _stage_ordered(
        in_dir,
        lambda: None,
        lambda: ev.filter(F.col("event_id") % 3 == 2)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    return read_bitmap_view(spark, target).agg(
        F.count("*").cast("bigint").alias("n_zones"),
        F.sum(F.bit_count("m_pa")).cast("bigint").alias("rows_a"),
        F.sum(F.bit_count("m_pb")).cast("bigint").alias("rows_b"),
        F.sum(F.bit_count(F.expr("m_pa & m_pb")))
        .cast("bigint")
        .alias("rows_and"),
        F.sum(F.expr("CASE WHEN (m_pa & m_pb) <> 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("zones_and"),
    )


@query(
    "stream_mode_median_incremental",
    oracle="""
    WITH cents AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c FROM events
    ),
    h AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM cents GROUP BY c
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
    mode_pick AS (
      SELECT MIN(c) AS mode_c, MAX(cnt) AS mode_cnt
      FROM h WHERE cnt = (SELECT MAX(cnt) FROM h)
    ),
    cum AS (
      SELECT c, cnt, SUM(cnt) OVER (ORDER BY c) AS cw FROM h
    ),
    med AS (
      SELECT MIN(CASE WHEN cw >= (t.n + 1) // 2 THEN c END)
             + MIN(CASE WHEN cw >= t.n // 2 + 1 THEN c END) AS med2_c
      FROM cum CROSS JOIN tot t GROUP BY t.n
    )
    SELECT t.n, m.mode_c, m.mode_cnt, d.med2_c
    FROM tot t CROSS JOIN mode_pick m CROSS JOIN med d
    """,
)
def stream_mode_median_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORDER STATISTICS from a maintained ADDITIVE view: the stream
    maintains an exact VALUE HISTOGRAM (per-cent counts — just
    `aggregate_view_stream_parquet` keyed by the value itself, so
    epoch-delta replay safety, the read-side fold, the generation
    compactor, and the `compact_every_n_epochs=2` auto-trigger are
    ALL inherited from the additive machinery), and the read derives
    the deterministic MODE (smallest value among max counts) and the
    exact DOUBLED MEDIAN (sum of bracketing order statistics) from
    the folded counts — the standing-histogram pattern that gives a
    100 TB deployment exact order statistics at any point in stream
    lifetime without re-scanning history. Three epochs, fold
    mid-stream, third epoch on the resumed checkpoint; the result
    must equal the batch statistics over the whole stream."""
    from local_stream_stack_spark.catalog import load_table
    from local_stream_stack_spark.streaming.compaction import (
        latest_generation,
    )
    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )

    configure_for_oracle(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("c"),
    )
    base = ephemeral_dir(prefix="stream-e2e-modemed-")
    in_dir = os.path.join(base, "in")
    target = os.path.join(base, "view")
    cp = os.path.join(base, "cp")

    def run():
        q = aggregate_view_stream_parquet(
            spark.readStream.schema("event_id bigint, c bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .select("c"),
            keys=["c"],
            sum_cols=[],
            target_path=target,
            checkpoint_location=cp,
            compact_every_n_epochs=2,
        )
        _drain(q)

    _stage_ordered(
        in_dir,
        lambda: ev.filter(F.col("event_id") % 3 == 0)
        .coalesce(1)
        .write.parquet(in_dir),
        lambda: ev.filter(F.col("event_id") % 3 == 1)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()
    gen, _ = latest_generation(spark, target)
    assert gen is not None, "auto-compaction trigger never fired"
    _stage_ordered(
        in_dir,
        lambda: None,
        lambda: ev.filter(F.col("event_id") % 3 == 2)
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir),
    )
    run()

    h = read_aggregate_view(spark, target).select(
        "c", F.col("n_rows").alias("cnt")
    )
    tot = h.agg(F.sum("cnt").cast("bigint").alias("n"))
    mx = h.agg(F.max("cnt").alias("mode_cnt"))
    mode_pick = (
        h.join(F.broadcast(mx), F.col("cnt") == F.col("mode_cnt"))
        .agg(
            F.min("c").cast("bigint").alias("mode_c"),
            F.max("cnt").cast("bigint").alias("mode_cnt"),
        )
    )
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    cum = with_global_rank(
        h, "c", out_rank="__rn", cumsum={"cnt": "cw"},
        acc_type="BIGINT", bins=64,
    )
    med = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            (
                F.min(
                    F.expr("CASE WHEN cw >= (n + 1) DIV 2 THEN c END")
                )
                + F.min(
                    F.expr("CASE WHEN cw >= n DIV 2 + 1 THEN c END")
                )
            )
            .cast("bigint")
            .alias("med2_c")
        )
        .select("med2_c")
    )
    return (
        tot.crossJoin(F.broadcast(mode_pick))
        .crossJoin(F.broadcast(med))
        .select("n", "mode_c", "mode_cnt", "med2_c")
    )
