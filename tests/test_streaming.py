"""Structured Streaming operators driven by bounded file sources and
memory sinks (SURVEY.md §5: no Kafka in CI -> deterministic replays).
Each test writes a small parquet input, starts the streaming query,
processAllAvailable(), and asserts the sink table."""

from __future__ import annotations

import shutil
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from local_stream_stack_spark.streaming.ops import (
    _latest_per_key_stream_tempview,
    dedup_within_watermark,
    running_totals_with_state,
    session_windowed_counts,
    stream_static_join,
    stream_stream_interval_join,
    windowed_counts,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _ts(h, m=0):
    return datetime(2024, 1, 1, h, m)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_input(spark, tmpdir, rows):
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    path = f"{tmpdir}/in"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _run_stream(spark, out_df, name, tmpdir, output_mode="append"):
    q = (
        out_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{tmpdir}/cp-{name}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def test_windowed_counts_stream(spark, tmpdir):
    rows = [
        (1, _ts(10, 5), 1, "view", 1.0),
        (2, _ts(10, 20), 1, "view", 2.0),
        (3, _ts(11, 5), 2, "click", 3.0),
        (4, _ts(13, 0), 2, "click", 4.0),  # advances watermark past 10-12h
    ]
    path = _write_input(spark, tmpdir, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(path)
    out = windowed_counts(stream, ts_col="ts", window="1 hour", watermark="1 hour")
    table = _run_stream(spark, out, "win_counts", tmpdir)
    got = {
        (r.window_start.hour, r.n_events, r.sum_value) for r in table.collect()
    }
    # append mode emits only windows the watermark has closed:
    # max ts 13:00, watermark 1h -> 12:00 closes the 10h and 11h windows
    assert (10, 2, 3.0) in got
    assert (11, 1, 3.0) in got
    assert all(h != 13 for h, _, _ in got)  # 13h window still open


def test_session_window_stream(spark, tmpdir):
    rows = [
        (1, _ts(10, 0), 1, "view", 1.0),
        (2, _ts(10, 10), 1, "view", 1.0),  # same session (10 min gap)
        (3, _ts(12, 0), 1, "view", 1.0),  # new session
        (4, _ts(20, 0), 9, "view", 1.0),  # watermark pusher
    ]
    path = _write_input(spark, tmpdir, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(path)
    out = session_windowed_counts(
        stream, ts_col="ts", gap="30 minutes", keys=("user_id",), watermark="1 hour"
    )
    table = _run_stream(spark, out, "sess_counts", tmpdir)
    got = {
        (r.user_id, r.session_start.hour, r.n_events)
        for r in table.collect()
        if r.user_id == 1
    }
    assert got == {(1, 10, 2), (1, 12, 1)}


def test_dedup_within_watermark_stream(spark, tmpdir):
    rows = [
        (1, _ts(10, 0), 1, "view", 1.0),
        (1, _ts(10, 1), 1, "view", 1.0),  # duplicate event_id
        (2, _ts(10, 2), 1, "view", 1.0),
    ]
    path = _write_input(spark, tmpdir, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(path)
    out = dedup_within_watermark(stream, keys=["event_id"], ts_col="ts", watermark="1 hour")
    table = _run_stream(spark, out, "dedup_out", tmpdir)
    ids = sorted(r.event_id for r in table.collect())
    assert ids == [1, 2]


def test_latest_per_key_stream_upsert(spark, tmpdir):
    """Compacted-view materialization: last record per key wins,
    tombstones delete the key (reference A15/A16 semantics)."""
    rows = [
        (1, _ts(10, 0), 1, "update", 1.0),
        (2, _ts(10, 5), 1, "update", 2.0),
        (3, _ts(10, 1), 2, "update", 5.0),
        (4, _ts(10, 6), 2, "delete", 0.0),  # tombstone marker
    ]
    path = _write_input(spark, tmpdir, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(path)
    q = _latest_per_key_stream_tempview(
        stream,
        keys=["user_id"],
        order_col="ts",
        target_table="compacted_view",
        checkpoint_location=f"{tmpdir}/cp-compact",
        tombstone_predicate="event_type = 'delete'",
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.user_id, r.value) for r in spark.table("compacted_view").collect()}
    assert got == {(1, 2.0)}  # user 2 tombstoned; user 1 latest value


def test_latest_per_key_stream_parquet_incremental_merge(spark, tmpdir):
    """Parquet-backed compacted view: a second run over new data must
    MERGE with (not replace) the persisted view — later records win,
    untouched keys survive, tombstones delete."""
    from local_stream_stack_spark.streaming.ops import (
    _latest_per_key_stream_tempview,
        latest_per_key_stream_parquet,
        read_compacted_view,
    )

    target = f"{tmpdir}/view"
    in_dir = f"{tmpdir}/in"

    def run_epoch(rows):
        spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("append").parquet(
            in_dir
        )
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(in_dir)
        q = latest_per_key_stream_parquet(
            stream,
            keys=["user_id"],
            order_col="ts",
            target_path=target,
            checkpoint_location=f"{tmpdir}/cp",
            tombstone_predicate="event_type = 'delete'",
            n_buckets=4,
        )
        q.processAllAvailable()
        q.stop()

    run_epoch(
        [
            (1, _ts(10, 0), 1, "update", 1.0),
            (2, _ts(10, 5), 1, "update", 2.0),
            (3, _ts(10, 1), 2, "update", 5.0),
        ]
    )
    got = {(r.user_id, r.value) for r in read_compacted_view(spark, target).collect()}
    assert got == {(1, 2.0), (2, 5.0)}

    # second batch: update user 2, tombstone user 1, add user 3;
    # the checkpoint resumes from the new files only
    run_epoch(
        [
            (4, _ts(11, 0), 2, "update", 7.0),
            (5, _ts(11, 1), 1, "delete", 0.0),
            (6, _ts(11, 2), 3, "update", 9.0),
        ]
    )
    got = {(r.user_id, r.value) for r in read_compacted_view(spark, target).collect()}
    assert got == {(2, 7.0), (3, 9.0)}

    # stale record must NOT displace a newer one (max-by-order wins)
    run_epoch([(7, _ts(9, 0), 2, "update", 0.5)])
    got = {(r.user_id, r.value) for r in read_compacted_view(spark, target).collect()}
    assert got == {(2, 7.0), (3, 9.0)}


def test_latest_per_key_gc_deletes_one_dir_per_touched_bucket(
    spark, tmpdir, monkeypatch
):
    """Garbage collection (GC) of the parquet latest-per-key view costs
    at most one delete per touched bucket per epoch, however old the
    stream is: epoch N deletes only the second-latest epoch < N that
    wrote each bucket it touches. The dir epoch N supersedes (the
    latest epoch < N per bucket) is the pre-state a replay of N reads,
    so it stays on disk until the next epoch touching the bucket
    commits; every older dir is gone."""
    import os

    from local_stream_stack_spark.streaming import txlog
    from local_stream_stack_spark.streaming.ops import (
        latest_per_key_stream_parquet,
        read_compacted_view,
    )

    deletes = []
    real_delete = txlog.delete

    def counting_delete(spark_, path):
        deletes.append(path)
        real_delete(spark_, path)

    monkeypatch.setattr(txlog, "delete", counting_delete)
    in_dir, view = f"{tmpdir}/in", f"{tmpdir}/view"

    def feed(epoch):
        # odd epochs touch a subset of the keys, so bucket histories
        # overlap unevenly across epochs
        users = range(12) if epoch % 2 == 0 else range(3)
        rows = [
            (100 * epoch + u, _ts(10 + epoch), u, "update", float(epoch))
            for u in users
        ]
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    feed(0)
    q = latest_per_key_stream_parquet(
        spark.readStream.schema(EVENT_SCHEMA).parquet(in_dir),
        keys=["user_id"],
        order_col="ts",
        target_path=view,
        checkpoint_location=f"{tmpdir}/cp",
        n_buckets=4,
    )
    try:
        for epoch in range(6):
            if epoch:
                feed(epoch)
            seen = len(deletes)
            q.processAllAvailable()
            commits = txlog.read_commits(spark, f"{view}/_manifests")
            assert max(commits) == epoch == len(commits) - 1
            touched = commits[epoch]["buckets"]
            assert len(deletes) - seen <= len(touched)
            for b in touched:
                prior = [
                    e for e in sorted(commits)
                    if e < epoch and b in commits[e]["buckets"]
                ]
                dirs = [
                    f"{view}/data/__epoch={e}/__bucket={b}" for e in prior
                ]
                assert all(not os.path.isdir(d) for d in dirs[:-1]), dirs
                if dirs:
                    assert os.path.isdir(dirs[-1]), "replay pre-state GC'd"
    finally:
        q.stop()
    assert deletes, "GC never ran"
    want = {u: 4.0 for u in range(12)} | {u: 5.0 for u in range(3)}
    got = {r.user_id: r.value for r in read_compacted_view(spark, view).collect()}
    assert got == want


@pytest.mark.soak
def test_stream_stream_interval_join(spark, tmpdir):
    """Views joined to purchases by the same user within 30 min."""
    views = [
        (1, _ts(10, 0), 1, "view", 1.0),
        (2, _ts(10, 0), 2, "view", 1.0),
    ]
    buys = [
        (10, _ts(10, 20), 1, "purchase", 9.0),  # within 30 min of view 1
        (11, _ts(12, 0), 2, "purchase", 9.0),  # too late for view 2
        (12, _ts(23, 0), 9, "purchase", 0.0),  # watermark pusher
    ]
    lpath = _write_input(spark, tmpdir, views)
    rpath = f"{tmpdir}/in_r"
    spark.createDataFrame(buys, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(rpath)
    left = spark.readStream.schema(EVENT_SCHEMA).parquet(lpath)
    right = spark.readStream.schema(EVENT_SCHEMA).parquet(rpath)
    joined = stream_stream_interval_join(
        left,
        right,
        key="user_id",
        watermark="1 hour",
        upper="INTERVAL 30 MINUTES",
    )
    table = _run_stream(spark, joined, "ss_join", tmpdir)
    got = {(r.event_id, r.event_id_r) for r in table.collect()}
    assert got == {(1, 10)}


def test_running_totals_with_state(spark, tmpdir):
    rows = [
        (1, _ts(10, 0), 1, "view", 1.0),
        (2, _ts(10, 5), 1, "view", 2.5),
        (3, _ts(10, 6), 2, "view", 4.0),
    ]
    path = _write_input(spark, tmpdir, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(path)
    out = running_totals_with_state(stream, key="user_id", value_col="value")
    table = _run_stream(spark, out, "running_totals", tmpdir, output_mode="update")
    got = {(r.user_id, r.n_events, r.sum_value) for r in table.collect()}
    assert (1, 2, 3.5) in got
    assert (2, 1, 4.0) in got


def test_stream_static_join(spark, tmpdir, sf_dir):
    rows = [(1, _ts(10, 0), 3, "view", 1.0)]
    path = _write_input(spark, tmpdir, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(path)
    static = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_nationkey"
    )
    joined = stream_static_join(stream, static, on="user_id")
    table = _run_stream(spark, joined, "enriched", tmpdir)
    row = table.first()
    assert row.user_id == 3 and row.c_name is not None


@pytest.mark.soak
def test_checkpoint_recovery_no_reprocessing(spark, tmpdir):
    """SURVEY.md §2B 'checkpoint-based recovery': restarting a query
    from its checkpoint must pick up only NEW files — no duplicate
    output rows from already-committed micro-batches."""
    in_dir = f"{tmpdir}/in"
    out_dir = f"{tmpdir}/out"
    cp = f"{tmpdir}/cp"
    rows1 = [(1, _ts(10, 0), 1, "view", 1.0), (2, _ts(10, 5), 2, "view", 2.0)]
    spark.createDataFrame(rows1, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def start():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(in_dir)
        return (
            stream.select("event_id", "user_id", "value")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out_dir).count() == 2

    # new file lands while the query is DOWN; restart from checkpoint
    rows2 = [(3, _ts(11, 0), 1, "click", 3.0)]
    spark.createDataFrame(rows2, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    q = start()
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(out_dir)
    assert out.count() == 3  # 2 old + 1 new, no reprocessing
    assert {r.event_id for r in out.collect()} == {1, 2, 3}


def test_foreach_batch_sink(spark, tmpdir):
    """foreachBatch: per-micro-batch custom writer (the escape hatch
    for sinks Structured Streaming lacks natively)."""
    from local_stream_stack_spark.sources.sinks import ForeachBatchSink

    rows = [(1, _ts(10, 0), 1, "view", 1.0), (2, _ts(10, 5), 2, "click", 2.0)]
    path = _write_input(spark, tmpdir, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(path)
    seen: list[tuple[int, int]] = []

    def handle(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    sink = ForeachBatchSink(fn=handle, checkpoint_location=f"{tmpdir}/cp-feb")
    q = sink.write(stream.select("event_id", "event_type"))
    q.processAllAvailable()
    q.stop()
    assert sum(n for _, n in seen) == 2


def test_output_mode_complete_rewrites_full_result(spark, tmpdir):
    """complete mode re-emits the whole aggregate each batch — the
    mode for small dashboards, never for large state."""
    rows = [
        (1, _ts(10, 0), 1, "view", 1.0),
        (2, _ts(10, 5), 1, "view", 2.0),
        (3, _ts(11, 0), 2, "click", 3.0),
    ]
    path = _write_input(spark, tmpdir, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(path)
    agg = stream.groupBy("user_id").agg(F.count("*").alias("n"))
    table = _run_stream(spark, agg, "complete_agg", tmpdir, output_mode="complete")
    got = {(r.user_id, r.n) for r in table.collect()}
    assert got == {(1, 2), (2, 1)}


@pytest.mark.soak
def test_metrics_listener_collects_batches(spark, tmpdir):
    """MetricsListener must see one progress row per micro-batch with
    true input-row counts; maxFilesPerTrigger=1 forces multiple
    batches from multiple input files (real incremental execution,
    not one mega-batch)."""
    import time

    from local_stream_stack_spark.streaming.metrics import MetricsListener

    in_dir = f"{tmpdir}/in_metrics"
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, _ts(9 + i, j), 1, "view", 1.0) for j in range(4)],
            EVENT_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(in_dir)

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName("metrics_probe")
            .option("checkpointLocation", f"{tmpdir}/cp-metrics")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener events arrive on a separate thread; allow a beat
        deadline = time.time() + 10
        rows = []
        while time.time() < deadline:
            rows = [
                r
                for r in listener.snapshot()
                if r["query_name"] == "metrics_probe" and r["num_input_rows"] > 0
            ]
            if len(rows) >= 3:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert len(rows) >= 3, rows  # one batch per file
    assert sum(r["num_input_rows"] for r in rows) == 12
    assert all(r["batch_duration_ms"] >= 0 for r in rows)
    mdf = listener.to_df(spark)
    assert mdf.filter(mdf.query_name == "metrics_probe").count() == len(
        listener.snapshot()
    ) - len([r for r in listener.snapshot() if r["query_name"] != "metrics_probe"])


def test_aggregate_view_stream_parquet_ivm(spark, tmpdir):
    """Additive IVM: epoch deltas accumulate across runs, replaying an
    epoch cannot double-count (same epoch dir overwrites), and
    compaction folds deltas without changing totals."""
    from local_stream_stack_spark.streaming.ops import (
    _latest_per_key_stream_tempview,
        aggregate_view_stream_parquet,
        compact_aggregate_view,
        read_aggregate_view,
    )

    target = f"{tmpdir}/aggview"
    in_dir = f"{tmpdir}/in_ivm"

    def run(rows):
        spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("append").parquet(
            in_dir
        )
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(in_dir)
        q = aggregate_view_stream_parquet(
            stream.select(
                "user_id", F.expr("CAST(value * 100 AS BIGINT)").alias("cents")
            ),
            keys=["user_id"],
            sum_cols=["cents"],
            target_path=target,
            checkpoint_location=f"{tmpdir}/cp-ivm",
        )
        q.processAllAvailable()
        q.stop()

    run([(1, _ts(10, 0), 1, "view", 1.0), (2, _ts(10, 1), 2, "view", 2.0)])
    got = {
        (r.user_id, r.n_rows, r.sum_cents)
        for r in read_aggregate_view(spark, target).collect()
    }
    assert got == {(1, 1, 100), (2, 1, 200)}

    run([(3, _ts(11, 0), 1, "view", 5.0)])
    got = {
        (r.user_id, r.n_rows, r.sum_cents)
        for r in read_aggregate_view(spark, target).collect()
    }
    assert got == {(1, 2, 600), (2, 1, 200)}

    gen = compact_aggregate_view(spark, target)
    import glob
    import os as _os

    # folded epoch dirs get a one-cycle vacuum grace window (ADVICE
    # r12): still on disk, ignored by the resolver, tracked in the
    # manifest for the next compaction's vacuum
    from local_stream_stack_spark.streaming.compaction import (
        latest_generation as _latest_gen,
    )

    folded = sorted(glob.glob(f"{target}/__epoch=*"))
    assert folded
    _, manifest = _latest_gen(spark, target)
    assert sorted(manifest["defer_vacuum"]) == folded
    assert _os.path.isdir(f"{target}/__gen={gen}")
    got = {
        (r.user_id, r.n_rows, r.sum_cents)
        for r in read_aggregate_view(spark, target).collect()
    }
    assert got == {(1, 2, 600), (2, 1, 200)}

    # growth after compaction keeps accumulating
    run([(4, _ts(12, 0), 2, "view", 1.0)])
    got = {
        (r.user_id, r.n_rows, r.sum_cents)
        for r in read_aggregate_view(spark, target).collect()
    }
    assert got == {(1, 2, 600), (2, 2, 300)}


@pytest.mark.soak
def test_available_now_trigger_backfills_and_stops(spark, tmpdir):
    """Trigger.AvailableNow: process everything present at start in
    bounded micro-batches, then stop on its own — the backfill mode a
    catch-up ingest job uses (rate-limited by maxFilesPerTrigger,
    unlike the unbounded single batch of the old Trigger.Once). New
    files written AFTER the query drains must not be picked up."""
    in_dir = f"{tmpdir}/in_an"
    out_dir = f"{tmpdir}/out_an"
    rows1 = [(1, _ts(10, 0), 1, "view", 1.0)]
    rows2 = [(2, _ts(10, 5), 2, "click", 2.0)]
    spark.createDataFrame(rows1, EVENT_SCHEMA).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(rows2, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    q = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{tmpdir}/cp_an")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query must self-stop"
    got = {r.event_id for r in spark.read.parquet(out_dir).collect()}
    assert got == {1, 2}
    # late-arriving file is NOT consumed by the terminated query
    spark.createDataFrame(
        [(3, _ts(11, 0), 3, "view", 3.0)], EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)
    assert {r.event_id for r in spark.read.parquet(out_dir).collect()} == {1, 2}


def test_state_store_reader_matches_sink(spark, tmpdir):
    """Spark 4 statestore/state-metadata readers: the streaming
    aggregation's checkpointed state must be readable as a DataFrame
    and agree row-for-row with what the sink published — the
    state-audit path for production checkpoints."""
    import pyspark.sql.functions as F

    from local_stream_stack_spark.streaming.ops import (
    _latest_per_key_stream_tempview,
        read_state_metadata,
        read_state_store,
    )

    # NOTE: the module-local ``tmpdir`` fixture is a plain string, not
    # py.path.local — ``tmpdir.join("ss_src")`` here was str.join,
    # interleaving the path between the characters of "ss_src" and
    # littering a relative ``s/tmp/...`` tree into the repo cwd
    src = f"{tmpdir}/ss_src"
    cp = f"{tmpdir}/ss_cp"
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, k long"
    ).write.mode("overwrite").json(src)
    q = (
        spark.readStream.schema("id long, k long")
        .json(src)
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName("ss_agg")
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = {
        (r.k, r.n) for r in spark.sql("SELECT * FROM ss_agg").collect()
    }
    meta = read_state_metadata(spark, cp).collect()
    assert any(m.operatorName == "stateStoreSave" for m in meta)
    state = {
        (r.key.k, r.value[0]) for r in read_state_store(spark, cp).collect()
    }
    assert state == sink == {(0, 10), (1, 10), (2, 10)}


@pytest.mark.soak
def test_skyline_stream_multi_epoch_matches_batch(spark, tmp_path):
    """The streaming frontier merge is a semigroup: three single-file
    epochs (forced by maxFilesPerTrigger=1) must converge to exactly
    the batch per-group minima + dominance filter, counts included —
    including a later epoch UNDERCUTTING an earlier group minimum and
    a later epoch adding ties AT the current minimum."""
    from local_stream_stack_spark.streaming.ops import (
        read_skyline_store,
        skyline_stream_parquet,
    )

    chunks = [
        [(1, 500), (1, 700), (2, 400), (3, 900)],
        [(1, 500), (2, 350), (3, 950)],   # tie at g1 min; undercut g2
        [(2, 350), (4, 300), (1, 480)],   # tie at g2 min; undercut g1
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, "g int, v bigint").coalesce(
            1
        ).write.parquet(str(in_dir / f"chunk{i}.parquet"))
    stream = (
        spark.readStream.schema("g int, v bigint")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "store")
    q = skyline_stream_parquet(
        stream, "g", "v", store, str(tmp_path / "cp")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.g, r.v, r.n)
        for r in read_skyline_store(spark, store, "g", "v").collect()
    }
    # batch truth: per-group minima with counts, then dominance
    # g1 min 480 (n=1), g2 min 350 (n=2), g3 min 900, g4 min 300;
    # g3 (900) dominated by g1/g2; g4=300 survives (largest g, lowest v)
    assert got == {(1, 480, 1), (2, 350, 2), (4, 300, 1)}
