"""End-to-end streaming queries must equal their batch twins.

The oracle gate already cross-checks these against DuckDB; here we pin
the stronger in-engine property that the micro-batch execution of a
plan produces exactly the batch result on a bounded replay.
"""

from __future__ import annotations

import re

import pytest

from local_stream_stack_spark.queries.streaming_e2e import (
    stream_dedup_keys,
    stream_latest_per_key,
    stream_tumbling_counts,
)
from local_stream_stack_spark.queries.events_ops import (
    latest_per_key_q,
    tumbling_window_agg,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_tumbling_equals_batch(spark, sf_dir):
    got = stream_tumbling_counts(spark, sf_dir)
    want = tumbling_window_agg(spark, sf_dir)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_stream_dedup_keys_distinct(spark, sf_dir):
    from local_stream_stack_spark.catalog import load_table

    got = _rows(stream_dedup_keys(spark, sf_dir))
    want = _rows(
        load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    )
    assert got == want


def test_stream_latest_per_key_equals_batch(spark, sf_dir):
    got = stream_latest_per_key(spark, sf_dir)
    want = latest_per_key_q(spark, sf_dir)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_stream_queries_rerunnable(spark, sf_dir):
    # memory-sink names are sequenced: a second invocation in the same
    # session must not collide with the first run's query name
    assert stream_dedup_keys(spark, sf_dir).count() > 0


def test_stream_tumbling_multi_batch_converges(spark, sf_dir, tmp_path):
    """Force MULTIPLE micro-batches (maxFilesPerTrigger=1 over a
    4-file split) and check windowed state merges across batches to
    the exact batch aggregate — the single-file replay above only
    proves the one-batch case."""
    from pyspark.sql import functions as F
    from local_stream_stack_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    in_dir = str(tmp_path / "split")
    events.repartition(4).write.mode("overwrite").parquet(in_dir)

    schema = events.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # watermarks require a session-zoned TIMESTAMP (UTC session)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    out = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("multi_batch_tumbling")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # >1 micro-batch actually ran
    assert len(q.recentProgress) > 1
    got = {
        (r["w"].start, r.event_type): r.n_events
        for r in spark.table("multi_batch_tumbling").collect()
    }
    want = {
        (r["w"].start, r.event_type): r.n_events
        for r in events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .collect()
    }
    assert got == want


@pytest.mark.soak
def test_ingest_dedup_admits_only_novel_rows(spark, tmp_path):
    """File-per-trigger replay: batch 2 mixes duplicates of batch 1
    with genuinely new rows; only the new rows may enter the store."""
    import time

    from pyspark.sql import functions as F
    from local_stream_stack_spark.streaming.ops import (
        ingest_dedup_stream_parquet,
        read_ingest_store,
    )

    in_dir = str(tmp_path / "in")
    rows1 = [(1, "alpha"), (2, "beta"), (3, "alpha")]  # 3 dups 1 in-batch
    rows2 = [(4, "beta"), (5, "gamma")]  # beta is a cross-epoch dup
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(1).write.parquet(in_dir)
    time.sleep(1.1)  # distinct mtimes -> deterministic file order
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("fp", F.md5("text"))
    )
    q = ingest_dedup_stream_parquet(
        stream,
        fp_col="fp",
        order_col="doc_id",
        store_path=str(tmp_path / "store"),
        checkpoint_location=str(tmp_path / "cp"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_id, r.text)
        for r in read_ingest_store(spark, str(tmp_path / "store")).collect()
    }
    assert got == {(1, "alpha"), (2, "beta"), (5, "gamma")}


@pytest.mark.soak
def test_ingest_neardup_rejects_duplicates_across_epochs(spark, tmp_path):
    """Near-dup streaming ingestion: exact re-texts and lightly edited
    copies must be rejected against earlier epochs; unrelated docs
    must be admitted."""
    import time

    from local_stream_stack_spark.streaming.ops import (
        ingest_neardup_stream_parquet,
        read_neardup_store,
    )

    base_text = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps on the warm windowsill in the afternoon sun light"
    )
    edited = base_text.replace("afternoon", "evening")
    other = (
        "completely different content about distributed query engines "
        "and shuffle partitioning strategies for large scale analytics"
    )
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, base_text)], "doc_id long, text string"
    ).coalesce(1).write.parquet(in_dir)
    time.sleep(1.1)
    spark.createDataFrame(
        [(10, base_text), (11, edited), (12, other)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(in_dir)

    q = ingest_neardup_stream_parquet(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        id_col="doc_id",
        text_col="text",
        order_col="doc_id",
        store_path=str(tmp_path / "store"),
        checkpoint_location=str(tmp_path / "cp"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.doc_id for r in read_neardup_store(spark, str(tmp_path / "store")).collect()
    }
    # 10 is an exact re-text (all bands collide); 11 is a near-dup
    # (one word changed -> most bands collide); 12 is unrelated
    assert 1 in got and 12 in got
    assert 10 not in got
    assert 11 not in got


@pytest.mark.soak
def test_ingest_dedup_replay_is_lossless(spark, tmp_path):
    """Crash-replay: the store already holds epoch 0's own write but
    the checkpoint never committed (crash between store write and
    commit). Re-running epoch 0 must not anti-join the batch against
    its own prior write — that would overwrite ``__epoch=0`` with an
    empty dataset and permanently delete the epoch's documents."""
    from pyspark.sql import functions as F
    from local_stream_stack_spark.streaming.ops import (
        ingest_dedup_stream_parquet,
        read_ingest_store,
    )

    in_dir = str(tmp_path / "in")
    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    batch.coalesce(1).write.parquet(in_dir)
    store = str(tmp_path / "store")
    # pre-crash partial state: epoch 0's novel rows already on disk
    batch.withColumn("fp", F.md5("text")).coalesce(1).write.parquet(
        f"{store}/__epoch=0"
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(in_dir)
        .withColumn("fp", F.md5("text"))
    )
    q = ingest_dedup_stream_parquet(
        stream,
        fp_col="fp",
        order_col="doc_id",
        store_path=store,
        checkpoint_location=str(tmp_path / "cp"),  # fresh -> replays 0
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_id, r.text) for r in read_ingest_store(spark, store).collect()
    }
    assert got == {(1, "alpha"), (2, "beta")}


@pytest.mark.soak
def test_ingest_neardup_replay_is_lossless(spark, tmp_path):
    """Near-dup twin of the replay test: epoch 0's rows AND band keys
    are already in the store when epoch 0 re-runs; every document
    collides with itself in band space, so without the earlier-epochs
    filter the whole batch would be rejected and the epoch overwrite
    would empty the store."""
    from local_stream_stack_spark.operators.dedup import (
        minhash_band_keys,
        minhash_signatures,
    )
    from local_stream_stack_spark.streaming.ops import (
        ingest_neardup_stream_parquet,
        read_neardup_store,
    )

    text = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps on the warm windowsill in the afternoon sun light"
    )
    in_dir = str(tmp_path / "in")
    batch = spark.createDataFrame([(1, text)], "doc_id long, text string")
    batch.coalesce(1).write.parquet(in_dir)
    store = str(tmp_path / "store")
    # pre-crash partial state: epoch 0 rows + band keys already written
    batch.coalesce(1).write.parquet(f"{store}/rows/__epoch=0")
    sigs = minhash_signatures(
        batch, id_col="doc_id", text_col="text", n_hashes=32, shingle_k=3,
        shingle="word",
    )
    minhash_band_keys(sigs, "doc_id", bands=8, rows_per_band=4).select(
        "doc_id", "band", "bh"
    ).coalesce(1).write.parquet(f"{store}/keys/__epoch=0")

    q = ingest_neardup_stream_parquet(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        id_col="doc_id",
        text_col="text",
        order_col="doc_id",
        store_path=store,
        checkpoint_location=str(tmp_path / "cp"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.doc_id for r in read_neardup_store(spark, store).collect()}
    assert got == {1}


def test_stream_quality_quarantine_routes_and_reasons(spark, tmp_path):
    """Every doc lands in exactly one sink; reasons follow the fixed
    rule order (first failing rule wins); an all-clean corpus leaves
    the quarantine sink absent without breaking the read-back."""
    import pandas as pd

    good = ("the quick brown fox jumps over a lazy dog and then " * 3).strip()
    docs = [
        (1, good),                       # clean
        (2, "tiny doc"),                 # word_count fires first
        (3, ("spam " * 40).strip()),     # word_count? 40 words ok -> stopwords
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "s"
    pdf["n_chars"] = pdf["text"].str.len()
    d = tmp_path / "wh"
    d.mkdir()
    pdf.to_parquet(d / "documents.parquet")

    from local_stream_stack_spark.queries.streaming_e2e import (
        stream_quality_quarantine,
    )

    got = {(r.route, r.reason): r.n_docs
           for r in stream_quality_quarantine(spark, str(d)).collect()}
    assert got[("clean", "ok")] == 1
    assert got[("quarantine", "word_count")] == 1
    assert got[("quarantine", "stopwords")] == 1
    assert sum(got.values()) == 3

    # all-clean corpus: quarantine dir never materializes
    pdf2 = pdf.iloc[:1]
    d2 = tmp_path / "wh2"
    d2.mkdir()
    pdf2.to_parquet(d2 / "documents.parquet")
    got2 = {(r.route, r.reason): r.n_docs
            for r in stream_quality_quarantine(spark, str(d2)).collect()}
    assert got2 == {("clean", "ok"): 1}


def _with_rocksdb_provider(spark):
    """Context helper: set the RocksDB state-store provider and return
    a restore callable (tests restore to not leak into sibling
    tests)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    def restore():
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)

    return restore


# default tier: the focused semantics test for the claim store of
# neardup_claims_stream_tws (Spark's streaming dropDuplicates over band
# keys), run on the RocksDB provider the benchmark uses
def test_ingest_neardup_tws_rejects_duplicates_across_epochs(spark, tmp_path):
    """The indexed-state-store near-dup twin must reject exact
    re-texts and lightly edited copies against earlier epochs and
    admit unrelated docs — the same contract pinned on the
    parquet-store variant."""
    import time

    from local_stream_stack_spark.streaming.ops import (
        ingest_neardup_stream_tws,
        read_neardup_tws_store,
    )

    base_text = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps on the warm windowsill in the afternoon sun light"
    )
    edited = base_text.replace("afternoon", "evening")
    other = (
        "completely different content about distributed query engines "
        "and shuffle partitioning strategies for large scale analytics"
    )
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, base_text)], "doc_id long, text string"
    ).coalesce(1).write.parquet(in_dir)
    time.sleep(1.1)
    spark.createDataFrame(
        [(10, base_text), (11, edited), (12, other)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(in_dir)

    restore = _with_rocksdb_provider(spark)
    try:
        q = ingest_neardup_stream_tws(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir),
            id_col="doc_id",
            text_col="text",
            order_col="doc_id",
            store_path=str(tmp_path / "store"),
            checkpoint_location=str(tmp_path / "cp"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        restore()
    got = {
        r.doc_id
        for r in read_neardup_tws_store(
            spark, str(tmp_path / "store")
        ).collect()
    }
    assert 1 in got and 12 in got
    assert 10 not in got
    assert 11 not in got


def _neardup_tws_run(spark, in_dir, base):
    """One ``ingest_neardup_stream_tws`` run to completion over
    ``in_dir`` (store and checkpoint under ``base``); returns the
    query for its id."""
    from local_stream_stack_spark.streaming.ops import (
        ingest_neardup_stream_tws,
    )

    q = ingest_neardup_stream_tws(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        id_col="doc_id",
        text_col="text",
        order_col="doc_id",
        store_path=str(base / "store"),
        checkpoint_location=str(base / "cp"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def _plan_nodes(plan: str) -> list[str]:
    """Operator names of the tree part of an explained physical plan,
    top-down, one per node line (``*(2) Project [...]`` and, in the
    formatted mode, ``* Project (5)`` -> Project)."""
    tree = plan.split("== Physical Plan ==")[-1].strip().split("\n\n")[0]
    return re.findall(r"^[\s:|+-]*(?:\*(?:\(\d+\))? )?(\w+)", tree, re.M)


def _assert_single_pass(q, n_docs: int) -> None:
    """The near-dup stream's last epoch read its ``n_docs`` source rows
    once: its plan scans the files once and keys them once, and the
    dedup branch reuses the raw branch's exchange."""
    epochs = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert epochs[-1]["numInputRows"] == n_docs
    nodes = _plan_nodes(q._jsq.explainInternal(False))
    assert nodes.count("FileScan") == 1, nodes
    assert nodes.count("Exchange") == 1, nodes
    assert nodes.count("ReusedExchange") == 1, nodes


_FOX = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "sleeps on the warm windowsill in the afternoon sun light"
)
_ENGINES = (
    "completely different content about distributed query engines "
    "and shuffle partitioning strategies for large scale analytics"
)


def test_ingest_neardup_tws_restart_keeps_state_layout(spark, tmp_path):
    """A checkpoint restarted under a different
    ``spark.sql.shuffle.partitions`` keeps the claims' state layout:
    Spark reuses the partition count its offset log recorded, so an
    exact duplicate of an epoch-0 doc is still rejected after the
    restart and the dedup state keeps its 4 partitions."""
    from local_stream_stack_spark.streaming.ops import read_neardup_tws_store

    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, _FOX), (2, _ENGINES)], "doc_id long, text string"
    ).coalesce(1).write.parquet(in_dir)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "4")
        _neardup_tws_run(spark, in_dir, tmp_path)
        spark.createDataFrame(
            [(10, _FOX)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(in_dir)
        spark.conf.set(key, "3")
        q = _neardup_tws_run(spark, in_dir, tmp_path)
    finally:
        spark.conf.set(key, prev)
    got = {
        r.doc_id
        for r in read_neardup_tws_store(spark, str(tmp_path / "store")).collect()
    }
    assert got == {1, 2}
    state = tmp_path / "cp" / "state" / "0"
    assert sorted(p.name for p in state.iterdir() if p.name.isdigit()) == [
        "0", "1", "2", "3",
    ]
    # the restarted epoch still reads its source once: the shared
    # exchange takes the 4 partitions the offset log recorded (not the
    # live 3), so the dedup needs no exchange of its own
    _assert_single_pass(q, 1)


def test_ingest_neardup_tws_reads_each_batch_once(spark, tmp_path):
    """One epoch of N docs is scanned and keyed once: the progress
    reports N input rows, the plan holds one FileScan whose one
    exchange on (band, bh) the dedup branch reuses, and the
    ``foreachBatch`` fold's window reads that partitioning without an
    exchange of its own."""
    import time

    in_dir = str(tmp_path / "in")
    docs = [(1, _FOX), (2, _ENGINES), (3, _FOX), (4, "one two"), (5, None)]
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.parquet(in_dir)
    q = _neardup_tws_run(spark, in_dir, tmp_path)
    _assert_single_pass(q, len(docs))

    # the fold's write is its own SQL execution; find it by its path
    store = spark._jsparkSession.sharedState().statusStore()
    target = str(tmp_path / "store" / "rows" / "__epoch=0")
    deadline = time.time() + 10
    plans = []
    while not plans and time.time() < deadline:
        execs = store.executionsList()
        plans = [
            d
            for d in (
                execs.apply(i).physicalPlanDescription()
                for i in range(execs.size())
            )
            if target in d and "Window" in d
        ]
        time.sleep(0.2)
    assert plans
    nodes = _plan_nodes(plans[-1])
    below = nodes[nodes.index("Window"):]
    assert not {"Exchange", "ShuffleQueryStage", "AQEShuffleRead"} & set(
        below
    ), nodes


def test_metrics_listener_reports_neardup_state(spark, tmp_path):
    """MetricsListener rows carry the addBatch phase, the whole
    ``durationMs`` phase map, and the state operators' commit time and
    row count: a near-dup stream's rows report the band keys its dedup
    state holds."""
    import time

    from local_stream_stack_spark.streaming.metrics import MetricsListener

    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, _FOX), (2, _ENGINES)], "doc_id long, text string"
    ).coalesce(1).write.parquet(in_dir)
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        qid = str(_neardup_tws_run(spark, in_dir, tmp_path).id)
        # the start event is delivered before start() returns
        assert listener.started() == 1
        # progress events arrive on the listener bus thread
        deadline = time.time() + 10
        rows = []
        while not rows and time.time() < deadline:
            time.sleep(0.2)
            rows = [
                r for r in listener.snapshot()
                if r["query_id"] == qid and r["num_input_rows"] > 0
            ]
    finally:
        spark.streams.removeListener(listener)
    assert rows, listener.snapshot()
    # each doc is read once
    assert rows[-1]["num_input_rows"] == 2
    # 2 docs x 8 bands, all distinct keys
    assert rows[-1]["state_rows_total"] == 16
    assert rows[-1]["add_batch_ms"] > 0
    assert rows[-1]["state_commit_ms"] >= 0
    # the phases Spark 4.1 reports for a file-source batch with data
    phases = rows[-1]["phase_ms"]
    assert {
        "latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets", "triggerExecution",
    } <= set(phases), phases
    assert min(phases.values()) >= 0
    assert phases["addBatch"] == rows[-1]["add_batch_ms"]
    mdf = listener.to_df(spark).filter(f"query_id = '{qid}'")
    assert mdf.agg({"state_rows_total": "max"}).first()[0] == 16
    assert mdf.selectExpr("max(phase_ms['addBatch'])").first()[0] > 0


def test_read_neardup_tws_store_skips_torn_epoch(spark, tmp_path):
    """A ``rows/__epoch=N`` dir without ``_SUCCESS`` (left by a
    micro-batch that crashed before its parquet job committed) is not
    read: the admitted set is the committed epochs' set."""
    from local_stream_stack_spark.streaming.ops import read_neardup_tws_store

    store = tmp_path / "store"
    for e, ids in ((0, [1, 2]), (1, [10])):
        spark.createDataFrame([(i,) for i in ids], "doc_id long").coalesce(
            1
        ).write.parquet(str(store / "rows" / f"__epoch={e}"))

    def admitted():
        return {r.doc_id for r in read_neardup_tws_store(spark, str(store)).collect()}

    want = admitted()
    torn = store / "rows" / "__epoch=9"
    torn.mkdir()
    (torn / "part-00000.snappy.parquet").write_bytes(b"not a parquet file")
    assert admitted() == want == {1, 2, 10}


@pytest.mark.soak
def test_ingest_neardup_tws_short_and_empty_docs_admitted(spark, tmp_path):
    """Docs with fewer words than the shingle width carry no real band
    keys; the sentinel (band=-1, unique bh) row must flow them through
    as always-admitted — including across epochs (each sentinel bucket
    is unique per doc, so the seen-claim can never reject a different
    doc)."""
    import time

    from local_stream_stack_spark.streaming.ops import (
        ingest_neardup_stream_tws,
        read_neardup_tws_store,
    )

    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "one two"), (2, "")], "doc_id long, text string"
    ).coalesce(1).write.parquet(in_dir)
    time.sleep(1.1)
    spark.createDataFrame(
        [(10, "one two"), (11, None)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(in_dir)

    restore = _with_rocksdb_provider(spark)
    try:
        q = ingest_neardup_stream_tws(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir),
            id_col="doc_id",
            text_col="text",
            order_col="doc_id",
            store_path=str(tmp_path / "store"),
            checkpoint_location=str(tmp_path / "cp"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        restore()
    got = {
        r.doc_id
        for r in read_neardup_tws_store(
            spark, str(tmp_path / "store")
        ).collect()
    }
    assert got == {1, 2, 10, 11}


@pytest.mark.soak
def test_bm25_incremental_index_equals_batch(spark, tmp_path):
    """The maintained BM25 index folded across two epochs must score
    bit-equal to the from-scratch batch query over the union corpus —
    including docs with no [a-z] tokens (excluded from n_docs on both
    paths) and terms spanning epochs (df deltas fold exactly)."""
    import time

    from local_stream_stack_spark.queries.llm import bm25_topk_docs
    from local_stream_stack_spark.streaming.ops import (
        maintain_bm25_index_stream_parquet,
        read_bm25_index_topk,
    )

    rows1 = [
        (1, "spark shuffles data between stages during wide joins"),
        (2, "spark spark spark broadcast joins avoid the shuffle"),
        (3, "12345 !!!"),  # no [a-z] tokens
    ]
    rows2 = [
        (4, "data pipelines fold data into maintained data views"),
        (5, "the shuffle is the bottleneck the optimizer removes"),
    ]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(
        1
    ).write.parquet(in_dir)
    time.sleep(1.1)
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(in_dir)

    q = maintain_bm25_index_stream_parquet(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        id_col="doc_id",
        text_col="text",
        store_path=str(tmp_path / "store"),
        checkpoint_location=str(tmp_path / "cp"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = [
        (r.doc_id, r.bm25_e6)
        for r in read_bm25_index_topk(
            spark, str(tmp_path / "store"), k=20
        ).collect()
    ]

    # from-scratch batch reference over the SAME corpus: write it as a
    # documents table and run the registered batch query
    ref_dir = str(tmp_path / "ref")
    spark.createDataFrame(
        rows1 + rows2, "doc_id long, text string"
    ).write.parquet(ref_dir + "/documents.parquet")
    want = [
        (r.doc_id, r.bm25_e6)
        for r in bm25_topk_docs(spark, ref_dir).collect()
    ]
    assert got == want


def test_bm25_incremental_replay_is_idempotent(spark, tmp_path):
    """Re-folding an epoch (at-least-once foreachBatch delivery) must
    leave the index unchanged: epoch-dir overwrites, no double-counted
    df or corpus deltas."""
    from local_stream_stack_spark.streaming.ops import (
        read_bm25_index_topk,
    )

    import time

    from local_stream_stack_spark.streaming import ops as S

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha delta")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    in_dir = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(in_dir)
    q = S.maintain_bm25_index_stream_parquet(
        spark.readStream.schema("doc_id long, text string").parquet(
            in_dir
        ),
        id_col="doc_id",
        text_col="text",
        store_path=store,
        checkpoint_location=str(tmp_path / "cp"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    before = [
        tuple(r)
        for r in read_bm25_index_topk(spark, store, k=10).collect()
    ]
    # crash-replay simulation: a NEW stream (fresh checkpoint) re-reads
    # the same file and re-folds it as epoch 0 — overwrite must land on
    # the same dirs, not append
    time.sleep(0.2)
    q2 = S.maintain_bm25_index_stream_parquet(
        spark.readStream.schema("doc_id long, text string").parquet(
            in_dir
        ),
        id_col="doc_id",
        text_col="text",
        store_path=store,
        checkpoint_location=str(tmp_path / "cp2"),
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    after = [
        tuple(r)
        for r in read_bm25_index_topk(spark, store, k=10).collect()
    ]
    assert before == after


@pytest.mark.soak
def test_scd2_dimension_carry_semantics(spark, tmp_path):
    """The SCD-2 fold's open-tail carry: a run spanning the epoch
    boundary keeps its original valid_from; an attribute change at the
    boundary closes the tail at the new run's start; a key absent from
    the second epoch carries its open tail forward."""
    import time

    from local_stream_stack_spark.streaming.ops import (
        read_scd2_dimension,
        scd2_dimension_stream_parquet,
    )

    # epoch 0: u1 A@10 A@20 ; u2 A@10 ; u3 B@15
    # epoch 1: u1 A@30 B@40 ; u2 B@35 ; (u3 absent)
    e0 = [(1, "A", 10, 100), (1, "A", 20, 101), (2, "A", 10, 102),
          (3, "B", 15, 103)]
    e1 = [(1, "A", 30, 104), (1, "B", 40, 105), (2, "B", 35, 106)]
    in_dir = str(tmp_path / "in")
    schema = "user_id long, event_type string, ts_us long, event_id long"
    spark.createDataFrame(e0, schema).coalesce(1).write.parquet(in_dir)
    time.sleep(1.1)
    spark.createDataFrame(e1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    q = scd2_dimension_stream_parquet(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        key_col="user_id",
        attr_col="event_type",
        ts_col="ts_us",
        tiebreak_col="event_id",
        target_path=str(tmp_path / "view"),
        checkpoint_location=str(tmp_path / "cp"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.user_id, r.event_type, r.valid_from, r.valid_to)
        for r in read_scd2_dimension(spark, str(tmp_path / "view")).collect()
    )
    assert got == [
        (1, "A", 10, 40),   # spans the boundary, original valid_from
        (1, "B", 40, None),
        (2, "A", 10, 35),   # closed by the boundary change
        (2, "B", 35, None),
        (3, "B", 15, None),  # carried forward untouched
    ]


def test_read_scd2_dimension_skips_torn_epochs(spark, tmp_path):
    """``closed/`` and ``open/`` epoch dirs without ``_SUCCESS`` (a
    crashed micro-batch's torn write) are not read: the history is the
    committed epochs' history."""
    from local_stream_stack_spark.streaming.ops import read_scd2_dimension

    view = tmp_path / "view"
    spark.createDataFrame(
        [(1, "A", 10, 40)],
        "user_id long, event_type string, valid_from long, valid_to long",
    ).coalesce(1).write.parquet(str(view / "closed" / "__epoch=0"))
    spark.createDataFrame(
        [(1, "B", 40)], "user_id long, event_type string, valid_from long"
    ).coalesce(1).write.parquet(str(view / "open" / "__epoch=0"))
    for family in ("closed", "open"):
        torn = view / family / "__epoch=9"
        torn.mkdir()
        (torn / "part-00000.snappy.parquet").write_bytes(b"not a parquet file")
    got = sorted(
        (r.user_id, r.event_type, r.valid_from, r.valid_to)
        for r in read_scd2_dimension(spark, str(view)).collect()
    )
    assert got == [(1, "A", 10, 40), (1, "B", 40, None)]


@pytest.mark.soak
def test_join_view_late_dimension_rows_and_epoch_exactness(
    spark, tmp_path
):
    """Two-sided incremental join maintenance: a fact row whose
    dimension row arrives EPOCHS LATER must appear exactly once (via
    the R_old ⋈ ΔS delta term), same-epoch pairs exactly once (ΔR ⋈
    ΔS), and pairs never duplicate across epochs."""
    import time

    from local_stream_stack_spark.streaming.ops import (
        maintain_join_view_stream_parquet,
        read_join_view,
    )

    schema = "side string, k long, fact string, dim string"

    def rows(side, data):
        return spark.createDataFrame(
            [
                (side, k, v if side == "f" else None,
                 v if side == "d" else None)
                for k, v in data
            ],
            schema,
        )

    in_dir = str(tmp_path / "in")
    # epoch 0: facts f1(k=1), f2(k=2); dim d1(k=1) -> same-epoch pair
    rows("f", [(1, "f1"), (2, "f2")]).unionByName(
        rows("d", [(1, "d1")])
    ).coalesce(1).write.parquet(in_dir)
    time.sleep(1.1)
    # epoch 1: dim d2(k=2) arrives late -> pairs with f2 via R_old⋈ΔS;
    # fact f3(k=1) joins the OLD dim d1 via ΔR⋈S_old
    rows("d", [(2, "d2")]).unionByName(
        rows("f", [(3, None)]).selectExpr(
            "side", "1 AS k", "'f3' AS fact", "dim"
        )
    ).coalesce(1).write.mode("append").parquet(in_dir)

    q = maintain_join_view_stream_parquet(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        side_col="side",
        left_tag="f",
        right_tag="d",
        left_cols=["k", "fact"],
        right_cols=["k", "dim"],
        on=["k"],
        store_path=str(tmp_path / "store"),
        checkpoint_location=str(tmp_path / "cp"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.k, r.fact, r.dim)
        for r in read_join_view(spark, str(tmp_path / "store")).collect()
    )
    assert got == [
        (1, "f1", "d1"),
        (1, "f3", "d1"),
        (2, "f2", "d2"),
    ]
