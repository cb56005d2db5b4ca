"""Streaming operators: event-time windows with watermarks, stateful
dedup, latest-per-key materialization, stream-static joins.

SURVEY.md §2B streaming rows marked ✗ in the reference (its surface
stops at micro-batch execution + checkpointing + offset replay;
watermarks/windows/state are absent). Each function here composes a
standard Structured Streaming plan:

- watermark bounds state size — REQUIRED for production windows; the
  state store would otherwise grow without bound at 100 TB/day
- window aggregates shuffle once on (window, keys)
- latest-per-key uses foreachBatch + an idempotent overwrite, the
  exactly-once materialization pattern for compacted-topic views
  (reference data semantics A15/A16, `sample_kafka_process.sh:165-215`)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from local_stream_stack_spark.streaming import compaction, txlog


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    keys: Sequence[str] = (),
    watermark: str = "2 hours",
    agg_value: str | None = "value",
) -> DataFrame:
    """Tumbling event-time window aggregate with a watermark.

    In append mode a window emits once the watermark passes its end —
    late rows beyond the watermark are dropped (bounded state).
    """
    aggs = [F.count("*").alias("n_events")]
    if agg_value:
        aggs.append(F.sum(agg_value).alias("sum_value"))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n_events",
            *(["sum_value"] if agg_value else []),
        )
    )


def session_windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    keys: Sequence[str] = ("user_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (gap-based); a session closes — and emits, in
    append mode — when the watermark passes last_event + gap."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *keys,
            "n_events",
        )
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful exactly-once dedup on event keys, with state expiry at
    the watermark (dropDuplicatesWithinWatermark — unbounded-state-safe,
    unlike plain dropDuplicates on a stream)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def _latest_per_key_stream_tempview(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    target_table: str,
    checkpoint_location: str,
    tombstone_predicate: str | None = None,
):
    """TEST HELPER — compacted view in a driver-side temp view.

    Collects the merged view to the driver every epoch: state grows
    with key cardinality, so this is ONLY for small unit-test streams
    where inspecting the view as a temp table is convenient. Use
    ``latest_per_key_stream_parquet`` (parquet MERGE, bucket-pruned)
    for anything real.
    """
    from local_stream_stack_spark.operators.events import latest_per_key

    spark = df.sparkSession

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        latest = latest_per_key(
            batch_df, keys=list(keys), order_by=[order_col]
        )
        try:
            current = spark.table(target_table)
            merged = latest_per_key(
                current.unionByName(latest), keys=list(keys), order_by=[order_col]
            )
        except Exception:
            merged = latest
        if tombstone_predicate:
            merged = merged.filter(f"NOT ({tombstone_predicate})")
        # materialize before replacing the view the next epoch reads
        rows = merged.collect()
        spark.createDataFrame(rows, merged.schema).createOrReplaceTempView(
            target_table
        )

    return (
        df.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def latest_per_key_stream_parquet(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    target_path: str,
    checkpoint_location: str,
    tombstone_predicate: str | None = None,
    n_buckets: int = 32,
):
    """Materialize a compacted (latest-per-key) view of a stream into a
    bucket-partitioned parquet table — the scale form of
    ``_latest_per_key_stream_tempview`` (which keeps the view in a
    driver-side temp view for unit tests).

    The view is partitioned by ``__bucket = pmod(xxhash64(keys), B)``.
    Each micro-batch reduces to latest-per-key, reads back ONLY the
    bucket partitions its keys touch, merges (max-by-order wins), and
    writes the merged buckets — the keyed-MERGE access pattern
    (Delta/Iceberg MERGE INTO) expressed on plain parquet. Per-epoch
    cost is proportional to touched buckets, not view size; the only
    driver materialization is the list of touched bucket ids (<= B
    ints) and the tiny manifest set.

    ATOMIC COMMIT (VERDICT r6 #5/#7): epoch N writes its merged
    buckets to a fresh ``data/__epoch=N/__bucket=b`` tree (never
    touching committed files), then commits by renaming a per-epoch
    manifest JSON into ``_manifests/N.json`` — a single-file rename,
    atomic on every Hadoop FileSystem that matters. Readers resolve
    each bucket to the LATEST epoch whose committed manifest lists it
    and never look at unmanifested files, so a crash mid-write leaves
    only an invisible orphan tree, not a torn bucket (the failure
    window the previous dynamic-partition-overwrite form documented
    as open). Replayed epochs rewrite their own epoch dir + manifest
    from the pre-N state, so checkpoint recovery converges. The log is
    :mod:`~local_stream_stack_spark.streaming.txlog`, read ONCE per
    epoch for both the pre-state and garbage collection (GC).

    GC is best-effort and one epoch LATE: epoch N's commit deletes, per
    touched bucket, at most one directory — the second-latest epoch
    < N that wrote the bucket, which the latest such epoch superseded
    and which became unreachable by any replay once that epoch's
    checkpoint committed. The dir N itself supersedes survives until
    the next epoch touching the bucket commits, because it is the
    pre-state an epoch-N replay must still read. Every older dir was
    already deleted by an earlier commit, so per-epoch GC is at most
    one delete per touched bucket however old the stream is. The trade:
    a delete that raises is not retried later, so it leaves one
    unreferenced directory on disk, which readers ignore (they resolve
    buckets through the manifests only). A crash mid-GC is recovered:
    the replay of N re-issues N's deletes. This is exactly a
    minimal transaction log — the same commit protocol as a table
    format, scoped to one writer.

    Tombstones follow Kafka compaction semantics: the latest record
    per key is RETAINED with a ``__deleted`` flag (so a partition
    whose last live key is deleted still rewrites, and a later update
    resurrects the key); ``read_compacted_view`` filters them out.
    """
    from local_stream_stack_spark.operators.events import latest_per_key

    spark = df.sparkSession
    key_list = list(keys)
    bucket = F.pmod(
        F.xxhash64(*[F.col(k).cast("string") for k in key_list]),
        F.lit(n_buckets),
    ).cast("int")
    data_path = target_path.rstrip("/") + "/data"
    log_dir = target_path.rstrip("/") + "/_manifests"

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        latest = latest_per_key(
            batch_df, keys=key_list, order_by=[order_col]
        ).withColumn("__bucket", bucket)
        touched = sorted(
            r[0] for r in latest.select("__bucket").distinct().collect()
        )
        if not touched:
            return
        # Pre-state = committed manifests STRICTLY BEFORE this epoch:
        # an epoch-N retry must merge against what epoch N-1 saw, not
        # against its own half-superseded previous attempt. A read
        # error on a committed manifest/file must propagate and fail
        # the batch — falling back to merged=latest would rewrite the
        # touched buckets with only this batch's keys, permanently
        # deleting every other key in them; checkpoint retry preserves
        # correctness instead. This one log read also drives the GC.
        history = _bucket_history(
            txlog.read_commits(spark, log_dir), before_epoch=epoch_id
        )
        current_dirs = [
            f"{data_path}/__epoch={history[b][0]}/__bucket={b}"
            for b in touched
            if b in history
        ]
        if current_dirs:
            current = (
                spark.read.option("basePath", data_path)
                .parquet(*current_dirs)
                .drop("__epoch")
            )
            merged = latest_per_key(
                current.drop("__deleted").unionByName(latest),
                keys=key_list,
                order_by=[order_col],
            )
        else:
            merged = latest
        deleted = (
            F.expr(f"({tombstone_predicate})")
            if tombstone_predicate
            else F.lit(False)
        )
        merged = merged.withColumn("__deleted", deleted)
        # 1) write the epoch's merged buckets to a FRESH tree (an
        #    epoch retry overwrites only its own tree)
        (
            merged.repartition(len(touched), "__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(f"{data_path}/__epoch={epoch_id}")
        )
        # 2) COMMIT: single-file manifest rename — before this rename
        #    readers cannot see any epoch-N file
        txlog.commit(
            spark, log_dir, epoch_id, {"epoch": epoch_id, "buckets": touched}
        )
        # 3) best-effort GC, DEFERRED BY ONE EPOCH: per touched bucket
        #    delete only the second-latest epoch < N that wrote it. The
        #    latest one is exactly the pre-state an epoch-N replay
        #    reads (crash after the manifest rename but before the
        #    checkpoint commit), and deleting it here would wedge every
        #    retry on path-not-found; it becomes eligible when the next
        #    epoch touching the bucket commits. Older dirs were deleted
        #    by earlier commits.
        for b in touched:
            if len(history.get(b, ())) > 1:
                e = history[b][1]
                try:
                    txlog.delete(spark, f"{data_path}/__epoch={e}/__bucket={b}")
                except Exception:
                    pass  # one unreferenced dir, invisible to readers

    return (
        df.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def _bucket_history(
    commits: dict[int, dict], before_epoch: int | None = None
) -> dict[int, list[int]]:
    """{bucket: epochs whose committed manifest lists it, newest first},
    optionally restricted to epochs strictly below ``before_epoch`` (the
    retry-safe pre-state view)."""
    history: dict[int, list[int]] = {}
    for epoch in sorted(commits, reverse=True):
        if before_epoch is None or epoch < before_epoch:
            for b in commits[epoch]["buckets"]:
                history.setdefault(int(b), []).append(epoch)
    return history


def _epoch_delta_view_stream(
    df: DataFrame,
    delta,
    fold,
    target_path: str,
    checkpoint_location: str,
    compact_every_n_epochs: int | None,
):
    """The write path the single-family epoch-delta views share: each
    micro-batch writes ``delta(batch)`` as one file to its OWN
    ``__epoch=<id>`` directory (a replay overwrites the same
    directory, so the view stays exactly-once), then, once
    ``compact_every_n_epochs`` live epochs have piled up, folds the
    store with ``fold`` off the admit path."""

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        (
            delta(batch_df)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{target_path}/__epoch={epoch_id}")
        )
        if compact_every_n_epochs:
            spark = batch_df.sparkSession
            compaction.auto_compact_if_due(
                spark,
                target_path,
                compact_every_n_epochs,
                lambda: _compact_epoch_delta_view(spark, target_path, fold),
            )

    return (
        df.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def _read_epoch_delta_view(
    spark, target_path: str, fold, what: str
) -> DataFrame:
    """``fold`` over the compacted base generation (if any) plus all
    live epoch deltas of a single-family view."""
    deltas = compaction.read_family(spark, target_path, "")
    if deltas is None:
        raise FileNotFoundError(f"empty {what} view at {target_path}")
    return fold(deltas)


def _compact_epoch_delta_view(spark, target_path: str, fold) -> int:
    return compaction.compact_store(
        spark, target_path, {"": {"fold": fold}}
    )


def _fold_by_keys(df: DataFrame, value_cols, aggs) -> DataFrame:
    """Group ``df`` by every column that is neither a value column nor
    ``__epoch``: a view delta's keys are whatever columns it carries
    besides its values."""
    keys = [c for c in df.columns if c not in value_cols and c != "__epoch"]
    return df.groupBy(*keys).agg(*aggs)


def aggregate_view_stream_parquet(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    target_path: str,
    checkpoint_location: str,
    compact_every_n_epochs: int | None = None,
):
    """Incremental view maintenance for additive aggregates: keep a
    per-key (count, sums...) view of a stream as parquet epoch deltas,
    one per micro-batch.

    Counts and sums are ADDITIVE, so each batch ships only its own
    partial aggregate (tiny). Unlike the latest-per-key merge, an
    additive merge is NOT replay-idempotent — foreachBatch is
    at-least-once on crash recovery, and re-adding a delta would
    double-count. So each epoch writes its delta to its OWN partition
    (``__epoch=<id>``): a replayed epoch overwrites the same directory,
    which makes the view exactly-once without a transaction log. The
    queryable total is the sum over epoch deltas
    (``read_aggregate_view``); ``compact_aggregate_view`` folds
    accumulated deltas into one base epoch when the directory count
    grows. min/max are not subtractable — use the compaction view for
    those; avg derives from (sum, count).

    ``compact_every_n_epochs`` turns the fold on automatically: when
    the live-epoch count reaches N the writer folds OFF the admit path
    (between micro-batches — the stream-idle window the compactor
    asks for), bounding read fan-in without an operator cron.
    """
    key_list = list(keys)
    sums = list(sum_cols)
    return _epoch_delta_view_stream(
        df,
        lambda b: b.groupBy(*key_list).agg(
            F.count("*").alias("n_rows"),
            *[F.sum(c).alias(f"sum_{c}") for c in sums],
        ),
        _aggregate_fold,
        target_path,
        checkpoint_location,
        compact_every_n_epochs,
    )


def minmax_view_stream_parquet(
    df: DataFrame,
    keys: Sequence[str],
    val_col: str,
    target_path: str,
    checkpoint_location: str,
    compact_every_n_epochs: int | None = None,
):
    """Incremental view maintenance for MIN/MAX/COUNT — the
    non-subtractable half of the additive family
    (``aggregate_view_stream_parquet`` covers count/sum, which are
    group-invertible; min/max are NOT invertible under deletion but
    ARE associative under insert-only streams, so each micro-batch's
    per-key (min, max, count) delta folds exactly: min of mins is the
    min). Same epoch-directory protocol as every view store here —
    replay overwrites its own epoch, ``read_minmax_view`` folds the
    generation + live deltas, ``compact_minmax_view`` re-merges them
    into one base generation, and ``compact_every_n_epochs`` triggers
    the fold automatically off the admit path."""
    key_list = list(keys)
    return _epoch_delta_view_stream(
        df,
        lambda b: b.groupBy(*key_list).agg(
            F.min(val_col).alias("min_v"),
            F.max(val_col).alias("max_v"),
            F.count("*").alias("n_rows"),
        ),
        _minmax_fold,
        target_path,
        checkpoint_location,
        compact_every_n_epochs,
    )


def bitmap_view_stream_parquet(
    df: DataFrame,
    zone_col: str,
    pos_col: str,
    flag_cols: Sequence[str],
    target_path: str,
    checkpoint_location: str,
    compact_every_n_epochs: int | None = None,
):
    """Incremental maintenance of a per-zone BITMAP INDEX — the
    predicate-membership masks ``bitmap_zone_intersection`` audits in
    batch, kept current under a stream: each micro-batch folds its
    rows into one BIGINT mask per (zone, predicate) via ``bit_or(1 <<
    pos)``, and because OR is associative AND idempotent the view
    merges exactly under any mix of generation folds, live epochs and
    replays (the strongest merge algebra in the maintained-view
    family — min/max are associative only, sums not even idempotent).
    Same epoch-directory protocol as every view store here; ``read_
    bitmap_view`` folds generation + deltas, ``compact_bitmap_view``
    re-merges into one base, ``compact_every_n_epochs`` auto-triggers
    the fold off the admit path."""
    flags = list(flag_cols)
    return _epoch_delta_view_stream(
        df,
        lambda b: b.groupBy(zone_col).agg(
            *[
                F.expr(
                    f"bit_or(CASE WHEN {c} = 1 THEN"
                    f" shiftleft(CAST(1 AS BIGINT), {pos_col})"
                    " ELSE 0 END)"
                )
                .cast("bigint")
                .alias(f"m_{c}")
                for c in flags
            ]
        ),
        _bitmap_fold,
        target_path,
        checkpoint_location,
        compact_every_n_epochs,
    )


def _bitmap_fold(df: DataFrame) -> DataFrame:
    masks = [c for c in df.columns if c.startswith("m_")]
    return _fold_by_keys(
        df,
        masks,
        [F.expr(f"bit_or({c})").cast("bigint").alias(c) for c in masks],
    )


def read_bitmap_view(spark, target_path: str) -> DataFrame:
    """Current per-zone masks of a ``bitmap_view_stream_parquet``
    view: OR-fold of the compacted base generation (if any) plus all
    live epoch deltas."""
    return _read_epoch_delta_view(spark, target_path, _bitmap_fold, "bitmap")


def compact_bitmap_view(spark, target_path: str) -> int:
    """Fold all epoch deltas of a bitmap view into one base
    generation (idempotent-associative OR re-merge), committed
    atomically through the generation manifest."""
    return _compact_epoch_delta_view(spark, target_path, _bitmap_fold)


def _minmax_fold(df: DataFrame) -> DataFrame:
    return _fold_by_keys(
        df,
        ("min_v", "max_v", "n_rows"),
        [
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        ],
    )


def read_minmax_view(spark, target_path: str) -> DataFrame:
    """Current per-key (min, max, count) of a
    ``minmax_view_stream_parquet`` view: fold of the compacted base
    generation (if any) plus all live epoch deltas."""
    return _read_epoch_delta_view(spark, target_path, _minmax_fold, "minmax")


def compact_minmax_view(spark, target_path: str) -> int:
    """Fold all epoch deltas of a minmax view into one base
    generation (associative min/max + additive count re-merge),
    committed atomically through the generation manifest."""
    return _compact_epoch_delta_view(spark, target_path, _minmax_fold)


def _aggregate_fold(df: DataFrame) -> DataFrame:
    values = [c for c in df.columns if c.startswith("sum_") or c == "n_rows"]
    return _fold_by_keys(df, values, [F.sum(c).alias(c) for c in values])


def read_aggregate_view(spark, target_path: str) -> DataFrame:
    """Current totals of an ``aggregate_view_stream_parquet`` view:
    sum of the compacted base generation (if any) plus all live epoch
    deltas per key (additivity makes the fold exact whatever mix of
    generation and epochs is on disk)."""
    return _read_epoch_delta_view(
        spark, target_path, _aggregate_fold, "aggregate"
    )


def compact_aggregate_view(spark, target_path: str) -> int:
    """Fold all epoch deltas into one base GENERATION (additive
    group-sum re-merge), committed atomically through the generation
    manifest — Hadoop FS API end to end, so the fold works on any
    supported scheme (the pre-round-11 version walked the local
    filesystem with os.listdir/shutil and silently could not compact
    an HDFS/S3 store). Run periodically so read-side fan-in stays
    bounded; the fold is safe because the totals are themselves an
    additive delta. Returns the new generation id; raises
    ``FileNotFoundError`` while the view holds neither a generation nor
    a committed epoch (driver-side listings, no Spark job)."""
    gen, manifest = compaction.latest_generation(spark, target_path)
    if (gen is None or "" not in manifest["families"]) and not (
        txlog.partition_ids(spark, target_path, committed=True)
    ):
        raise FileNotFoundError(f"empty aggregate view at {target_path}")
    return _compact_epoch_delta_view(spark, target_path, _aggregate_fold)


def read_compacted_view(spark, target_path: str) -> DataFrame:
    """Read a ``latest_per_key_stream_parquet`` view: live keys only
    (tombstoned keys filtered), internal columns dropped.

    Resolves each bucket to the latest COMMITTED epoch via the
    manifest set and reads only those directories — unmanifested
    files (a crash mid-write) are invisible, which is the read half
    of the atomic-commit protocol."""
    data_path = target_path.rstrip("/") + "/data"
    history = _bucket_history(
        txlog.read_commits(spark, target_path.rstrip("/") + "/_manifests")
    )
    if not history:
        raise FileNotFoundError(
            f"no committed manifests under {target_path}"
        )
    dirs = [
        f"{data_path}/__epoch={h[0]}/__bucket={b}"
        for b, h in sorted(history.items())
    ]
    return (
        spark.read.option("basePath", data_path)
        .parquet(*dirs)
        .filter(~F.col("__deleted"))
        .drop("__bucket", "__deleted", "__epoch")
    )


def stream_static_join(
    stream: DataFrame, static: DataFrame, on: str | list, how: str = "inner"
) -> DataFrame:
    """Stream-static join: the static side re-reads per micro-batch
    and broadcasts when small — the standard dim-enrichment pattern."""
    return stream.join(F.broadcast(static), on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    lower: str = "INTERVAL 0 SECONDS",
    upper: str = "INTERVAL 30 MINUTES",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-key join with a time-interval condition.

    Both sides carry watermarks and the join condition bounds
    right_ts within [left_ts + lower, left_ts + upper], so Spark can
    expire buffered state on both sides — the only unbounded-state-
    safe form of a stream-stream join. Column names on the right are
    suffixed ``_r`` to keep the output schema unambiguous.

    ``how="left_outer"`` additionally emits a null-padded row for
    each left row that saw no match, ONCE its join window has closed
    (the watermark passed left_ts + upper) — so outer results for
    rows near the end of a bounded replay only emit after the
    finalizing no-data micro-batch advances the watermark; compare
    against a batch oracle on the CLOSED region only.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    rw = rw.select([F.col(c).alias(f"{c}_r") for c in rw.columns])
    cond = (
        (F.col(key) == F.col(f"{key}_r"))
        & (F.col(f"{right_ts}_r") >= F.expr(f"{left_ts} + {lower}"))
        & (F.col(f"{right_ts}_r") <= F.expr(f"{left_ts} + {upper}"))
    )
    return lw.join(rw, cond, how)


def running_totals_with_state(
    df: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Arbitrary stateful op via applyInPandasWithState: per-key
    running event count and value sum, emitted every micro-batch.

    This is the engine's only keyed-state path, the custom-operator
    escape hatch the reference's OffsetManager only gestures at
    (`offset_manager.py:46-103` is a no-op placeholder): real keyed
    state, Arrow-batched, with watermark-driven expiry. State per key is two floats — scale is
    bounded by distinct keys, not events.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key} bigint, n_events bigint, sum_value double"
    state_schema = "n bigint, s double"

    def update(
        keys: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({key: [keys[0]], "n_events": [n], "sum_value": [s]})

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def ingest_dedup_stream_parquet(
    df: DataFrame,
    fp_col: str,
    order_col: str,
    store_path: str,
    checkpoint_location: str,
    compact_every_n_epochs: int | None = None,
    compact_n_buckets: int = 16,
):
    """Streaming ingestion dedup against a PERSISTENT fingerprint
    store — the crawl-pipeline pattern: every micro-batch of incoming
    documents is reduced to one row per content fingerprint (minimum
    ``order_col`` wins, deterministically), anti-joined against all
    fingerprints already admitted in EARLIER epochs, and only the
    novel rows are appended to the store.

    Each epoch writes its novel rows to its own ``__epoch=<id>``
    directory, and the per-epoch anti-join reads strictly EARLIER
    epochs only. The pair makes at-least-once foreachBatch delivery
    exactly-once in the store: replaying epoch N recomputes the same
    novel set against the same earlier-epoch view (never against N's
    own partial write) and idempotently overwrites ``__epoch=N``.
    The store read per epoch is fingerprint-column-only, and the
    anti-join shuffles fingerprints, never payloads. At corpus scale
    the store becomes a bucketed table on the fingerprint so the
    per-epoch anti-join co-locates without a full shuffle; swapping
    the exact fingerprint for MinHash bands turns this into streaming
    NEAR-dup ingestion with the same store shape.
    """
    from pyspark.sql.window import Window

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(fp_col).orderBy(order_col)
        batch_unique = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # Replay safety: on crash-replay of epoch N the store may already
        # contain N's own prior (possibly partial) write; anti-joining the
        # batch against itself would empty `novel` and the overwrite would
        # permanently delete the epoch's documents. Consider strictly
        # EARLIER epochs only — the generation-manifest resolver tags
        # compacted rows __epoch = -1 (always earlier; a replayed folded
        # epoch then collides with its own rows in the generation and
        # re-admits nothing, keeping the store exactly-once).
        store_df = compaction.read_family(
            spark, store_path, "", with_epoch=True
        )
        if store_df is not None:
            known = store_df.filter(
                F.col("__epoch") < F.lit(int(epoch_id))
            ).select(fp_col)
            # store >> batch for any long-lived stream, so probe the
            # store with the BROADCAST batch fingerprints (inner join:
            # pure scan + hash probe, no sort/shuffle of the store)
            # and anti-join the batch against the tiny hit set — a
            # direct anti-join against the store side would sort all
            # admitted keys every epoch (measured: the second-decade
            # store probe, SCALE.md round 9). Micro-batch triggers
            # bound the broadcast side by construction.
            hit = (
                known.join(
                    F.broadcast(batch_unique.select(fp_col).distinct()),
                    fp_col,
                    "left_semi",
                )
                .distinct()
            )
            novel = batch_unique.join(F.broadcast(hit), fp_col, "left_anti")
        else:
            novel = batch_unique
        (
            novel.coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{store_path}/__epoch={epoch_id}")
        )
        if compact_every_n_epochs:
            compaction.auto_compact_if_due(
                spark,
                store_path,
                compact_every_n_epochs,
                lambda: compaction.compact_ingest_store(
                    spark,
                    store_path,
                    fp_col=fp_col,
                    n_buckets=compact_n_buckets,
                ),
            )

    return (
        df.writeStream.outputMode("append")
        .foreachBatch(admit)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def read_ingest_store(spark, store_path: str) -> DataFrame:
    """All admitted rows of an ``ingest_dedup_stream_parquet`` store:
    the latest committed compaction generation (if any) plus the live
    epoch deltas beyond its fold point — resolved through the
    generation manifest so a compacted and an uncompacted store read
    identically (``streaming/compaction.py``)."""
    df = compaction.read_family(spark, store_path, "")
    if df is None:
        raise FileNotFoundError(f"empty ingest store at {store_path}")
    return df


def ingest_neardup_stream_parquet(
    df: DataFrame,
    id_col: str,
    text_col: str,
    order_col: str,
    store_path: str,
    checkpoint_location: str,
    n_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    shingle: str = "word",
    portable: bool = False,

    compact_every_n_epochs: int | None = None,
    compact_n_buckets: int = 16,
):
    """Streaming NEAR-dup ingestion: the MinHash-band twin of
    ``ingest_dedup_stream_parquet``. Each micro-batch computes MinHash
    signatures and LSH band keys for its documents; a document is
    REJECTED when any of its band keys collides with (a) an admitted
    document from an earlier epoch (band-key semi-join against the
    store) or (b) a lower-``order_col`` document in the same batch
    (bucket self-join) — a deterministic, slightly conservative batch
    semantic of "first seen wins".

    The store keeps two column families as epoch directories: admitted
    rows (``rows/``) and their band keys (``keys/``). Epoch overwrites
    make crash-replay exactly-once, and the per-epoch lookups touch
    band-key columns only. At corpus scale, bucket the key store by
    (band, bh) so the per-epoch semi-join co-locates; band width tunes
    the precision/recall of the rejection exactly as in batch LSH.
    """
    from pyspark.sql.window import Window

    from local_stream_stack_spark.operators.dedup import (
        minhash_band_keys,
        minhash_signatures,
        minhash_signatures_portable,
    )

    sig_fn = minhash_signatures_portable if portable else minhash_signatures

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        sigs = sig_fn(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            n_hashes=n_hashes,
            shingle_k=shingle_k,
            shingle=shingle,
        )
        order_map = batch_df.select(id_col, order_col)
        # keys feeds FOUR consumers (store probe, both sides of the
        # in-batch self-join, the store write); without materialization
        # each re-executes the whole signature pipeline (shingle, hash,
        # explode, groupBy) per epoch. Micro-batch-bounded, so the
        # checkpoint is small by construction (guide §3.3/§5).
        keys = (
            minhash_band_keys(
                sigs,
                id_col,
                bands=bands,
                rows_per_band=rows_per_band,
                portable_keys=portable,
            )
            .join(order_map, id_col)
            .localCheckpoint(eager=True)
        )
        # Replay safety (see ingest_dedup_stream_parquet.admit): only
        # band keys from strictly EARLIER epochs may reject this batch —
        # on crash-replay the store already holds epoch N's own keys and
        # every document would collide with itself, turning the epoch
        # overwrite into a permanent delete. Store-read errors propagate
        # (only a missing store means "first epoch").
        keys_df = compaction.read_family(
            spark, store_path, "keys", with_epoch=True
        )
        known = (
            keys_df.filter(
                F.col("__epoch") < F.lit(int(epoch_id))
            ).select("band", "bh")
            if keys_df is not None
            else None
        )
        # probe the store with the BROADCAST batch keys (scan + hash
        # probe; no sort/shuffle of the admitted-key store) instead of
        # semi-joining the batch against the store side, which sorts
        # every admitted key per epoch — the second-decade store probe
        # measured that sort as the growing term (SCALE.md round 9).
        # Micro-batch triggers bound the broadcast side.
        hit_store = (
            known.join(
                F.broadcast(keys.select("band", "bh", id_col)),
                ["band", "bh"],
            )
            .select(id_col)
            .distinct()
            if known is not None
            else None
        )
        a = keys.select(
            F.col("band"), F.col("bh"), F.col(id_col).alias("__ida"),
            F.col(order_col).alias("__orda"),
        )
        b = keys.select(
            F.col("band"), F.col("bh"), F.col(id_col).alias("__idb"),
            F.col(order_col).alias("__ordb"),
        )
        hit_batch = (
            a.join(b, ["band", "bh"])
            .filter(F.col("__ordb") < F.col("__orda"))
            .select(F.col("__ida").alias(id_col))
            .distinct()
        )
        rejected = (
            hit_batch if hit_store is None else hit_batch.union(hit_store).distinct()
        ).localCheckpoint(eager=True)  # consumed by BOTH anti-joins below
        admitted = batch_df.join(rejected, id_col, "left_anti")
        admitted.coalesce(1).write.mode("overwrite").parquet(
            f"{store_path}/rows/__epoch={epoch_id}"
        )
        # keys land SORTED by (band, bh): every epoch file then has
        # tight parquet row-group zone maps on the lookup key, so any
        # pushed or runtime filter (bloom/min-max) can skip row groups
        # during the next epochs' store semi-joins — the cheap half of
        # the store-growth mitigation (the 100 TB design routes this
        # lookup through an indexed state store; see SCALE.md)
        keys.join(rejected, id_col, "left_anti").select(
            id_col, "band", "bh"
        ).coalesce(1).sortWithinPartitions("band", "bh").write.mode(
            "overwrite"
        ).parquet(f"{store_path}/keys/__epoch={epoch_id}")
        if compact_every_n_epochs:
            compaction.auto_compact_if_due(
                spark,
                store_path,
                compact_every_n_epochs,
                lambda: compaction.compact_neardup_store(
                    spark,
                    store_path,
                    id_col=id_col,
                    n_buckets=compact_n_buckets,
                ),
                probe_family="rows",
            )

    return (
        df.writeStream.outputMode("append")
        .foreachBatch(admit)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def read_neardup_store(spark, store_path: str) -> DataFrame:
    """Admitted rows of an ``ingest_neardup_stream_parquet`` store
    (generation + live epoch deltas, manifest-resolved)."""
    df = compaction.read_family(spark, store_path, "rows")
    if df is None:
        raise FileNotFoundError(f"empty near-dup store at {store_path}")
    return df


def ingest_neardup_stream_tws(
    df: DataFrame,
    id_col: str,
    text_col: str,
    order_col: str,
    store_path: str,
    checkpoint_location: str,
    n_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    shingle: str = "word",
):
    """Streaming near-dup ingestion through an INDEXED state store —
    the state-store realization of the design note on
    ``ingest_neardup_stream_parquet``: instead of scanning the
    admitted-key parquet store every epoch (O(store) per epoch, even
    with the broadcast-probe flip), claimed LSH band keys live in the
    streaming query's own versioned state store, so an epoch probes
    only the keys it carries and no parquet store gets rescanned.

    Shape: stateless per-row band keys (portable md5 minhash,
    ``minhash_band_keys_rowwise``) -> Spark's streaming
    ``dropDuplicates(band, bh)``, whose state after epoch N-1 holds
    every band key seen in epochs < N. A key of batch N that the
    dedup does NOT emit was therefore claimed earlier; a key it does
    emit is new, and the lowest-``order_col`` doc carrying it in the
    batch claims it. ``neardup_claims_stream_tws`` folds those per-key
    verdicts per doc (admitted = no hit on any band) and writes the
    admitted ids to ``rows/__epoch=N`` (idempotent overwrite; the
    state store versions roll back with the checkpoint on
    crash-replay, so a replayed epoch sees the same claims).

    SEMANTIC NOTE vs the parquet-store twin: buckets here are claimed
    by every SEEN doc (admitted or rejected) — the per-key dedup state
    cannot depend on the doc-grain admit decision computed downstream.
    The parquet twin claims buckets only for ADMITTED docs.
    Seen-claims is strictly more conservative (a rejected near-dup's
    remaining bands still poison future matches — higher recall, same
    determinism) and is what the registered oracle replays
    (``_neardup_tws_oracle_sql``).

    State layout: one state row per distinct (band, bh), hash-
    partitioned on the key into ``spark.sql.shuffle.partitions``
    state partitions. Spark records that count in the checkpoint's
    offset log and reuses it on restart, so the layout does not follow
    the live cluster size. The operator runs in the JVM on whichever
    state-store provider the SparkSession sets (RocksDB spills
    off-heap; the default keeps state on the heap). Per-epoch cost is
    one keyed probe + insert per batch key plus one window over the
    batch's keys: it tracks batch size, not corpus size. SCALE.md
    compares the two store shapes at the multi-decade key counts.

    Each epoch scans its files ONCE and computes the band keys ONCE
    (progress ``numInputRows`` = the batch's doc count): one hash
    exchange on (band, bh) feeds both the raw key rows and the dedup,
    and the fold's window reads that partitioning as is. That is 3
    stages per epoch: keys + exchange write; dedup + window + partial
    fold; final fold + write (``neardup_claims_stream_tws``).

    RETENTION IS UNBOUNDED. A claim is never dropped: there is no
    watermark on the dedup, so state grows with every distinct band
    key the stream has ever seen, for the life of the checkpoint.
    Callers that need a bound must start a new ``checkpoint_location``
    + ``store_path`` (forgetting every earlier claim) or compact the
    corpus upstream.
    """
    from local_stream_stack_spark.operators.dedup import (
        minhash_band_keys_rowwise,
    )

    carry = (order_col,) if order_col != id_col else ()
    keys = minhash_band_keys_rowwise(
        df,
        id_col=id_col,
        text_col=text_col,
        n_hashes=n_hashes,
        shingle_k=shingle_k,
        shingle=shingle,
        bands=bands,
        rows_per_band=rows_per_band,
        carry_cols=carry,
    )
    return neardup_claims_stream_tws(
        keys,
        id_col=id_col,
        order_col=order_col,
        store_path=store_path,
        checkpoint_location=checkpoint_location,
    )


def neardup_claims_stream_tws(
    keys: DataFrame,
    id_col: str,
    order_col: str,
    store_path: str,
    checkpoint_location: str,
):
    """The indexed-store core of ``ingest_neardup_stream_tws``,
    operating on an already-keyed stream (id, [order], band, bh): the
    streaming dedup of band keys + the per-doc admit fold. Split out
    so the store-growth probe (tools/scaling_curve.py stream_store_tws)
    can seed and measure the STATE-LOOKUP term with synthetic key
    streams, without paying the signature compute that is
    batch-constant anyway.

    One pass per epoch: ``keys`` is repartitioned on (band, bh) to the
    dedup state's partition count (the one the offset log recorded, on
    restart), and the dedup runs on the raw rows of that exchange, so
    it needs no exchange of its own. The two union children re-project
    every column under its own name: only then are their exchange
    subtrees canonically equal and Spark reuses one exchange (one scan,
    one key computation) for both. The union keeps the hash
    partitioning, so the ``foreachBatch`` window adds no exchange."""
    from pyspark.sql.window import Window

    # the raw key rows, plus one __fresh row per band key that the
    # dedup state has not seen in an earlier epoch, both off one
    # exchange as wide as the dedup state: on restart, the width the
    # offset log recorded (any other width is correct, but Spark then
    # shuffles again under the dedup)
    spark = keys.sparkSession
    key = "spark.sql.shuffle.partitions"
    width = txlog.recorded_confs(spark, checkpoint_location).get(
        key, spark.conf.get(key)
    )
    cols = list(dict.fromkeys([id_col, order_col, "band", "bh"]))
    raw = keys.repartition(int(width), "band", "bh").select(*cols)
    # a __fresh row is one of the batch's raw rows of its key, so the
    # fold's min(order) over the key is unchanged by it
    fresh = raw.dropDuplicates(["band", "bh"])

    def tag(df: DataFrame, is_fresh) -> DataFrame:
        # re-alias every column in BOTH children: otherwise the
        # optimizer leaves the source rewrite's alias (doc_id#1 AS
        # doc_id#0) under the first child only, the two exchange
        # subtrees are not canonically equal, and Spark plans (and
        # scans and keys) the batch twice instead of reusing one
        return df.select(
            *[F.col(c).alias(c) for c in cols],
            F.lit(is_fresh).cast("boolean").alias("__fresh"),
        )

    tagged = tag(raw, None).unionByName(tag(fresh, True))

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        # a raw row hits when a lower-order doc shares its band key in
        # this batch, or when the key has no __fresh row (claimed in an
        # earlier epoch); admitted = no hit on any band. The write is
        # the batch's ONE action: a second would re-run the stateful
        # dedup for the same state version.
        w = Window.partitionBy("band", "bh")
        hit = (F.col(order_col) > F.min(order_col).over(w)) | F.max(
            "__fresh"
        ).over(w).isNull()
        (
            batch_df.select(id_col, "__fresh", hit.alias("__hit"))
            .filter(F.col("__fresh").isNull())
            .groupBy(id_col)
            .agg(F.max("__hit").alias("__hit"))
            .filter(~F.col("__hit"))
            .select(id_col)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{store_path}/rows/__epoch={epoch_id}")
        )

    return (
        tagged.writeStream.outputMode("append")
        .foreachBatch(admit)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def read_neardup_tws_store(spark, store_path: str) -> DataFrame:
    """Admitted doc ids of an ``ingest_neardup_stream_tws`` store. Its
    ``rows/`` family has the parquet twin's layout, so this is
    ``read_neardup_store``: committed ``rows/__epoch=N`` dirs only (a
    torn dir of a crashed micro-batch carries no ``_SUCCESS`` and is
    skipped)."""
    return read_neardup_store(spark, store_path)


def scd2_dimension_stream_parquet(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
    target_path: str,
    checkpoint_location: str,
):
    """Incremental maintenance of a TYPE-2 SLOWLY CHANGING DIMENSION:
    the stream of (key, attribute, event-time) changes folds into a
    full validity history — one row per (key, attribute-run) with
    [valid_from, valid_to) microsecond bounds, valid_to NULL while the
    run is still open. The classic warehouse dimension shape, here as
    a MAINTAINED view: per epoch only the batch is sorted (PARTITIONED
    windows per key), never the history.

    Fold algebra (non-additive — a stateful carry, unlike the additive
    sums of ``aggregate_view_stream_parquet``): each epoch collapses
    its batch into per-key attribute runs (gaps-and-islands on
    (ts, tiebreak) order), merges the FIRST run of each key against
    the key's OPEN tail from the previous epoch (same attribute →
    the tail's valid_from survives; different → the tail closes at the
    run's start), writes closed rows to ``closed/__epoch=N`` and the
    complete new open-tail set to ``open/__epoch=N``. Reading the view
    is closed/* UNION the LATEST open epoch. Epoch N reads only epoch
    N-1's open dir and overwrites its own dirs, so crash-replay is
    exactly-once like every view store here.

    Correctness contract: event-time order must be respected ACROSS
    epochs per key (late data would need a reconciliation pass, as in
    any SCD-2 loader); within an epoch arrival order is irrelevant.
    ``ts_col`` must be a LONG (epoch micros) — the open-tail carry
    needs a typed NULL for still-open valid_to.
    The registered query's oracle is the from-scratch batch
    gaps-and-islands over the whole stream — the maintained history
    must hash-match it whatever the epoch split was. At 100 TB the
    open-tail set is dimension-sized (one row per key); bucket both
    families by key so the per-epoch merge co-locates."""

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql.window import Window

        spark = batch_df.sparkSession
        epoch_id = int(epoch_id)
        w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
        runs = (
            batch_df.withColumn("__prev", F.lag(attr_col).over(w))
            .withColumn(
                "__new",
                (
                    F.col("__prev").isNull()
                    | (F.col(attr_col) != F.col("__prev"))
                ).cast("int"),
            )
            .withColumn("__run", F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ))
            .groupBy(key_col, "__run")
            .agg(
                F.min(F.struct(ts_col, tiebreak_col, attr_col)).alias("__s")
            )
            .select(
                key_col,
                "__run",
                F.col(f"__s.{attr_col}").alias(attr_col),
                F.col(f"__s.{ts_col}").alias("__from_ts"),
            )
        )
        runs = runs.localCheckpoint(eager=True)
        wr = Window.partitionBy(key_col).orderBy("__run")
        chained = (
            runs.withColumn("__to_ts", F.lead("__from_ts").over(wr))
            .withColumn(
                "__is_first",
                (F.col("__run") == F.min("__run").over(
                    Window.partitionBy(key_col)
                )).cast("int"),
            )
        )
        prev_epochs = [
            e
            for e in txlog.partition_ids(spark, f"{target_path}/open")
            if e < epoch_id
        ]
        if prev_epochs:
            tails = (
                spark.read.option("basePath", f"{target_path}/open")
                .parquet(f"{target_path}/open/__epoch={max(prev_epochs)}")
                .drop("__epoch")
            )
        else:
            tails = None

        firsts = chained.filter(F.col("__is_first") == 1).select(
            F.col(key_col),
            F.col(attr_col).alias("__f_attr"),
            F.col("__from_ts").alias("__f_from"),
            F.col("__to_ts").alias("__f_to"),
        )
        if tails is not None:
            # per-key merge of the previous open tail against this
            # epoch's first run: same attribute extends, new closes
            m = tails.join(firsts, key_col, "full_outer")
            closed_from_tails = m.filter(
                F.col("__f_attr").isNotNull()
                & F.col("valid_from").isNotNull()
                & (F.col(attr_col) != F.col("__f_attr"))
            ).select(
                key_col, attr_col,
                "valid_from",
                F.col("__f_from").alias("valid_to"),
            )
            # the first run closes inside the batch unless it is also
            # the key's last run; when it merges with the tail it
            # inherits the tail's valid_from
            first_rows = m.filter(F.col("__f_attr").isNotNull()).select(
                key_col,
                F.col("__f_attr").alias(attr_col),
                F.when(
                    F.col("valid_from").isNotNull()
                    & (F.col(attr_col) == F.col("__f_attr")),
                    F.col("valid_from"),
                )
                .otherwise(F.col("__f_from"))
                .alias("valid_from"),
                F.col("__f_to").alias("valid_to"),
            )
            carried = m.filter(F.col("__f_attr").isNull()).select(
                key_col, attr_col, "valid_from",
                F.lit(None).cast("long").alias("valid_to"),
            )
        else:
            closed_from_tails = None
            first_rows = firsts.select(
                key_col,
                F.col("__f_attr").alias(attr_col),
                F.col("__f_from").alias("valid_from"),
                F.col("__f_to").alias("valid_to"),
            )
            carried = None
        rest = chained.filter(F.col("__is_first") == 0).select(
            key_col, attr_col,
            F.col("__from_ts").alias("valid_from"),
            F.col("__to_ts").alias("valid_to"),
        )
        all_rows = first_rows.unionByName(rest)
        closed = all_rows.filter(F.col("valid_to").isNotNull())
        if closed_from_tails is not None:
            closed = closed.unionByName(closed_from_tails)
        new_open = all_rows.filter(F.col("valid_to").isNull()).select(
            key_col, attr_col, "valid_from"
        )
        if carried is not None:
            new_open = new_open.unionByName(
                carried.select(key_col, attr_col, "valid_from")
            )
        closed.coalesce(1).write.mode("overwrite").parquet(
            f"{target_path}/closed/__epoch={epoch_id}"
        )
        new_open.coalesce(1).write.mode("overwrite").parquet(
            f"{target_path}/open/__epoch={epoch_id}"
        )

    return (
        df.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def read_scd2_dimension(spark, target_path: str) -> DataFrame:
    """Current SCD-2 history of a ``scd2_dimension_stream_parquet``
    view: all closed runs plus the latest epoch's open tails."""
    closed = compaction.read_family(spark, target_path, "closed")
    if closed is None:
        raise FileNotFoundError(f"empty SCD-2 view at {target_path}")
    latest = max(
        txlog.partition_ids(spark, f"{target_path}/open", committed=True)
    )
    open_tails = (
        spark.read.option("basePath", f"{target_path}/open")
        .parquet(f"{target_path}/open/__epoch={latest}")
        .drop("__epoch")
        .withColumn("valid_to", F.lit(None).cast("long"))
    )
    cols = open_tails.columns
    return closed.select(*cols).unionByName(open_tails)


def kmv_view_stream_parquet(
    df: DataFrame,
    key_col: str,
    target_path: str,
    checkpoint_location: str,
    k: int = 64,
    compact_every_n_epochs: int | None = None,
):
    """Incremental maintenance of a K-minimum-values cardinality
    sketch: each micro-batch writes ITS OWN k-smallest distinct
    portable hashes of ``key_col`` to an epoch directory (<= k rows
    per epoch — parameter-sized deltas whatever the batch size), and
    the queryable sketch is the k smallest of the distinct union
    (``read_kmv_view``). KMV's merge is exact — sketch(A ∪ B) ==
    merge(sketch(A), sketch(B)) — so the maintained view equals the
    from-scratch sketch of the whole stream at every point, a
    different view algebra from the additive sums of
    ``aggregate_view_stream_parquet``. Epoch-dir overwrites make
    replay exactly-once, same as every view store here."""
    from local_stream_stack_spark.operators.sketches import (
        portable_hash32,
    )

    fold = _kmv_fold(k)
    return _epoch_delta_view_stream(
        df,
        lambda b: fold(b.select(portable_hash32(F.col(key_col)).alias("h"))),
        fold,
        target_path,
        checkpoint_location,
        compact_every_n_epochs,
    )


def _kmv_fold(k: int):
    return lambda df: df.select("h").distinct().orderBy("h").limit(k)


def read_kmv_view(spark, target_path: str, k: int = 64) -> DataFrame:
    """Current global sketch of a ``kmv_view_stream_parquet`` view:
    k smallest of the distinct union of the generation (if compacted)
    plus the live epoch sketches, with the (k_used, kth_hash,
    est_distinct) estimator columns."""
    from local_stream_stack_spark.operators.sketches import (
        kmv_estimate_cols,
    )

    merged = _read_epoch_delta_view(spark, target_path, _kmv_fold(k), "KMV")
    return merged.agg(*kmv_estimate_cols(k))


def compact_kmv_view(spark, target_path: str, k: int = 64) -> int:
    """Fold a KMV view's epoch sketches into one generation: the k
    smallest distinct hashes of the union. LOSSLESS for the sketch —
    KMV merge keeps only the global k minima, and a hash outside them
    can never re-enter any future merge, so the folded store reads
    identically to the unfolded one at every later epoch."""
    return _compact_epoch_delta_view(spark, target_path, _kmv_fold(k))


def maintain_join_view_stream_parquet(
    df: DataFrame,
    side_col: str,
    left_tag: str,
    right_tag: str,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    on: Sequence[str],
    store_path: str,
    checkpoint_location: str,

    compact_every_n_epochs: int | None = None,
    compact_n_buckets: int = 16,
):
    """Incrementally MAINTAIN an equi-JOIN view as BOTH relations
    stream in — the denormalized feature table every training-data
    pipeline keeps (fact ⋈ dimension, orders ⋈ customer), maintained
    by the classic two-sided delta rule instead of a from-scratch
    re-join of the full tables:

        Δ(R ⋈ S) = ΔR ⋈ S_old  ∪  R_old ⋈ ΔS  ∪  ΔR ⋈ ΔS

    The input stream carries both relations tagged by ``side_col``;
    each micro-batch splits into ΔR/ΔS, joins each delta against the
    OTHER side's accumulated store (strictly earlier epochs — the
    generation-manifest resolver makes compacted rows "earlier" by
    construction), adds the intra-batch ΔR ⋈ ΔS term, and appends the
    resulting join-delta rows to the ``view`` family while the deltas
    themselves land in the ``left`` / ``right`` families. For
    insert-only streams every (r, s) pair appears in exactly one
    epoch — the one where its LATER side arrived — so the view union
    equals the batch join whatever the interleaving was, and epoch-dir
    overwrites keep crash-replay exactly-once like every store here.

    Scale: each epoch is two scans probed by BROADCAST deltas (the
    micro-batch bounds both broadcast sides by construction) plus one
    tiny delta × delta join — the standing stores are never shuffled,
    and ``compaction.compact_store`` folds their epoch dirs into
    key-bucketed generations so the scan side stays one listing.
    """
    lcols = list(left_cols)
    rcols = list(right_cols)
    keys = list(on)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        d_left = batch_df.filter(
            F.col(side_col) == F.lit(left_tag)
        ).select(*lcols)
        d_right = batch_df.filter(
            F.col(side_col) == F.lit(right_tag)
        ).select(*rcols)
        # one manifest resolution for both side families (ADVICE r11)
        snap = compaction.latest_generation(spark, store_path)

        def _old(family: str) -> DataFrame | None:
            old = compaction.read_family(
                spark, store_path, family, with_epoch=True, snapshot=snap
            )
            if old is None:
                return None
            return old.filter(
                F.col("__epoch") < F.lit(int(epoch_id))
            ).drop("__epoch")

        old_left = _old("left")
        old_right = _old("right")
        parts = [d_left.join(F.broadcast(d_right), keys)]
        if old_right is not None:
            parts.append(d_left.hint("broadcast").join(old_right, keys))
        if old_left is not None:
            parts.append(old_left.join(F.broadcast(d_right), keys))
        view_delta = parts[0]
        for p in parts[1:]:
            view_delta = view_delta.unionByName(p)
        view_delta.coalesce(1).write.mode("overwrite").parquet(
            f"{store_path}/view/__epoch={epoch_id}"
        )
        d_left.coalesce(1).write.mode("overwrite").parquet(
            f"{store_path}/left/__epoch={epoch_id}"
        )
        d_right.coalesce(1).write.mode("overwrite").parquet(
            f"{store_path}/right/__epoch={epoch_id}"
        )
        if compact_every_n_epochs:
            compaction.auto_compact_if_due(
                spark,
                store_path,
                compact_every_n_epochs,
                lambda: compact_join_view(
                    spark,
                    store_path,
                    key=list(on)[0],
                    n_buckets=compact_n_buckets,
                ),
                probe_family="view",
            )

    return (
        df.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def read_join_view(spark, store_path: str) -> DataFrame:
    """Current contents of a ``maintain_join_view_stream_parquet``
    view (generation + live epoch deltas, manifest-resolved)."""
    df = compaction.read_family(spark, store_path, "view")
    if df is None:
        raise FileNotFoundError(f"empty join view at {store_path}")
    return df


def compact_join_view(
    spark, store_path: str, key: str, n_buckets: int = 16
) -> int:
    """Fold a join-view store's epoch dirs into one generation: all
    three families are append-only unions; the sides bucket on the
    join key so future delta probes co-locate."""
    return compaction.compact_store(
        spark,
        store_path,
        {
            "view": {"bucket_col": key, "n_buckets": n_buckets},
            "left": {"bucket_col": key, "n_buckets": n_buckets},
            "right": {"bucket_col": key, "n_buckets": n_buckets},
        },
    )


def maintain_bm25_index_stream_parquet(
    df: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    checkpoint_location: str,
    compact_every_n_epochs: int | None = None,
    compact_n_buckets: int = 16,
):
    """Incrementally MAINTAIN a BM25 inverted index as documents
    stream in — the maintained-view shape a 100 TB corpus actually
    runs (daily increments folded into a standing index, never a
    from-scratch recompute of the whole corpus).

    Each micro-batch is tokenized ONCE and folded into four
    epoch-partitioned column families:

    - ``postings/``  (doc, term, tf)   — the inverted index rows
    - ``doclen/``    (doc, len)        — per-doc token counts
    - ``termdf/``    (term, df_delta)  — per-epoch document-frequency
      increments (a doc arrives wholly in one epoch, so its df
      contribution lands exactly once)
    - ``corpus/``    (n_docs_delta, len_sum_delta) — corpus totals

    Reading the index (``read_bm25_index_topk``) folds the integer
    deltas (exact BIGINT sums — order-independent) and scores from the
    materialized postings; the expensive tokenize pass is never
    re-paid for old epochs. Epoch-dir overwrites make at-least-once
    foreachBatch delivery exactly-once, same as every other view
    store here. At scale, postings become a table bucketed by term so
    the score-time term lookup co-locates."""

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        tok = batch_df.select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)"
                )
            ).alias("tok"),
        )
        postings = (
            tok.groupBy(id_col, "tok")
            .agg(F.count("*").cast("bigint").alias("tf"))
            # three consumers below; materialize the AGGREGATED rows
            # once instead of re-tokenizing the batch per consumer
            .localCheckpoint(eager=True)
        )
        postings.coalesce(1).write.mode("overwrite").parquet(
            f"{store_path}/postings/__epoch={epoch_id}"
        )
        doclen = (
            postings.groupBy(id_col)
            .agg(F.sum("tf").cast("bigint").alias("len"))
            .localCheckpoint(eager=True)
        )
        doclen.coalesce(1).write.mode("overwrite").parquet(
            f"{store_path}/doclen/__epoch={epoch_id}"
        )
        postings.groupBy("tok").agg(
            F.count("*").cast("bigint").alias("df_delta")
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{store_path}/termdf/__epoch={epoch_id}"
        )
        doclen.agg(
            F.count("*").cast("bigint").alias("n_docs_delta"),
            F.sum("len").cast("bigint").alias("len_sum_delta"),
        ).na.fill(0).coalesce(1).write.mode("overwrite").parquet(
            f"{store_path}/corpus/__epoch={epoch_id}"
        )
        if compact_every_n_epochs:
            spark = batch_df.sparkSession
            compaction.auto_compact_if_due(
                spark,
                store_path,
                compact_every_n_epochs,
                lambda: compaction.compact_bm25_index(
                    spark,
                    store_path,
                    id_col=id_col,
                    n_buckets=compact_n_buckets,
                ),
                probe_family="postings",
            )

    return (
        df.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def read_bm25_index_topk(
    spark,
    store_path: str,
    id_col: str = "doc_id",
    k: int = 20,
    n_query_terms: int = 3,
) -> DataFrame:
    """Score the maintained BM25 index (k1=1.2, b=0.75) against the
    corpus's ``n_query_terms`` highest-df terms and return the top-k
    docs — the same determinism recipe as the batch ``bm25_topk_docs``
    (idf rounded once to e6, one identical double tree per (doc,term)
    contribution, integer sums), so the incremental result is
    bit-equal to a from-scratch batch compute over the union of all
    epochs.

    On a COMPACTED store (``compaction.compact_bm25_index``) every
    family resolves through the generation manifest, and the postings
    scan prunes to the term-bucket directories of the query terms —
    the driver collects the (bounded, ``n_query_terms``-sized) term
    list, recomputes each term's CRC32 bucket, and reads only those
    ``__bucket=`` dirs instead of every epoch's postings.

    The generation manifest is resolved ONCE and the ``(gen,
    manifest)`` snapshot threaded through every family read — a
    compaction committing mid-assembly can't mix generations across
    families (ADVICE r11), and compaction's one-cycle deferred vacuum
    keeps the snapshot's directories alive for the read."""
    import zlib

    snap = compaction.latest_generation(spark, store_path)

    def _fam(name: str, **kw) -> DataFrame:
        df = compaction.read_family(
            spark, store_path, name, snapshot=snap, **kw
        )
        if df is None:
            raise FileNotFoundError(
                f"BM25 store family {name!r} empty at {store_path}"
            )
        return df

    doclen = _fam("doclen")
    termdf = _fam("termdf").groupBy("tok").agg(
        F.sum("df_delta").cast("bigint").alias("df")
    )
    stats = _fam("corpus").agg(
        F.sum("n_docs_delta").cast("bigint").alias("n_docs"),
        F.sum("len_sum_delta").cast("bigint").alias("len_sum"),
    ).select(
        "n_docs",
        (F.col("len_sum").cast("double") / F.col("n_docs")).alias(
            "avglen"
        ),
    )
    qterms = termdf.orderBy(F.desc("df"), F.asc("tok")).limit(
        n_query_terms
    )
    gen, manifest = snap
    post_meta = (
        manifest["families"].get("postings", {}) if gen is not None else {}
    )
    if post_meta.get("n_buckets"):
        # bounded collect (n_query_terms rows) purely to prune the
        # bucketed postings scan to the terms' own bucket dirs
        terms = [r["tok"] for r in qterms.select("tok").collect()]
        nb = int(post_meta["n_buckets"])
        buckets = sorted(
            {zlib.crc32(t.encode("utf-8")) % nb for t in terms}
        )
        postings = _fam("postings", bucket_in=buckets)
    else:
        postings = _fam("postings")
    idf = qterms.crossJoin(F.broadcast(stats)).select(
        "tok",
        "df",
        F.expr(
            "CAST(FLOOR(ln((CAST(n_docs AS DOUBLE) - df + 0.5)"
            " / (df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)"
        ).alias("idf_e6"),
    )
    tf = postings.join(F.broadcast(qterms.select("tok")), "tok")
    contrib = (
        tf.join(F.broadcast(idf.select("tok", "idf_e6")), "tok")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats.select("avglen")))
        .select(
            id_col,
            F.expr(
                "CAST(FLOOR("
                "CAST(idf_e6 AS DOUBLE) * (tf * 2.2)"
                " / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen))"
                " + 0.5) AS BIGINT)"
            ).alias("c_e6"),
        )
    )
    return (
        contrib.groupBy(id_col)
        .agg(F.sum("c_e6").cast("bigint").alias("bm25_e6"))
        .orderBy(F.desc("bm25_e6"), F.asc(id_col))
        .limit(k)
    )


def read_state_metadata(spark, checkpoint: str) -> DataFrame:
    """Operator-level metadata of a streaming checkpoint (Spark 4
    ``state-metadata`` source): which stateful operators exist, their
    store names, partition counts, and batch-id ranges — the first
    stop when debugging a production checkpoint."""
    return spark.read.format("state-metadata").load(checkpoint)


def read_state_store(
    spark,
    checkpoint: str,
    batch_id: int | None = None,
    operator_id: int | None = None,
) -> DataFrame:
    """Contents of a streaming query's state store (Spark 4
    ``statestore`` source): (key, value, partition_id) rows — lets an
    operator's live aggregation state be audited/joined like any
    DataFrame (state at 100 TB is sharded by the shuffle partitioning,
    and this reader scans it partition-parallel) instead of trusting
    the sink blindly."""
    r = spark.read.format("statestore")
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    if operator_id is not None:
        r = r.option("operatorId", operator_id)
    return r.load(checkpoint)


def skyline_stream_parquet(
    df: DataFrame,
    group_col: str,
    value_col: str,
    store_path: str,
    checkpoint_location: str,
):
    """Incremental SKYLINE (Pareto-frontier) maintenance: keep the
    per-``group_col`` minimum ``value_col`` (with the count of rows
    sitting on that minimum) as the stream's frontier state — the
    streaming twin of the batch ``skyline_price_size`` grid stage.

    The per-group (min, count-at-min) merge is a SEMIGROUP: merging a
    batch's per-group minima into the prior state is associative and
    insensitive to batch boundaries, so the converged state equals the
    batch computation over all rows. Each epoch writes the COMPLETE
    merged state to its own ``__epoch=<id>`` directory and merges from
    the latest strictly-earlier epoch only — a crash-replayed epoch
    re-reads the same prior state and overwrites the same directory
    (exactly-once without a transaction log, the epoch-dir discipline
    shared by the other parquet-backed views). State is bounded by
    |distinct groups|, so every epoch's read AND write are tiny
    regardless of stream length; the cross-group dominance filter is
    applied by ``read_skyline_store`` at query time (keeping the
    stored merge associative)."""

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        per_point = batch_df.groupBy(group_col, value_col).agg(
            F.count("*").cast("bigint").alias("n")
        )
        batch_min = (
            per_point.groupBy(group_col)
            .agg(F.min(F.struct(value_col, "n")).alias("m"))
            .select(
                group_col,
                F.col(f"m.{value_col}").alias(value_col),
                F.col("m.n").alias("n"),
            )
        )
        merged = batch_min
        # the latest committed epoch below N, from a file listing, read
        # with the state's known schema: no probe or inference job
        prior_ids = [
            e
            for e in txlog.partition_ids(spark, store_path, committed=True)
            if e < epoch_id
        ]
        if prior_ids:
            prior = spark.read.schema(batch_min.schema).parquet(
                f"{store_path}/__epoch={prior_ids[-1]}"
            )
            merged = (
                prior.unionByName(batch_min)
                .groupBy(group_col, value_col)
                .agg(F.sum("n").cast("bigint").alias("n"))
                .groupBy(group_col)
                .agg(F.min(F.struct(value_col, "n")).alias("m"))
                .select(
                    group_col,
                    F.col(f"m.{value_col}").alias(value_col),
                    F.col("m.n").alias("n"),
                )
            )
        merged.coalesce(1).write.mode("overwrite").parquet(
            f"{store_path}/__epoch={epoch_id}"
        )

    return (
        df.writeStream.outputMode("append")
        .foreachBatch(merge)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def read_skyline_store(
    spark, store_path: str, group_col: str, value_col: str
) -> DataFrame:
    """Current frontier of a ``skyline_stream_parquet`` store: the
    latest epoch's per-group minima with the cross-group dominance
    filter applied (a broadcast anti theta-join over the tiny state)."""
    ids = txlog.partition_ids(spark, store_path, committed=True)
    if not ids:
        raise FileNotFoundError(f"empty skyline store at {store_path}")
    cand = spark.read.parquet(f"{store_path}/__epoch={ids[-1]}")
    dom = cand.select(
        F.col(group_col).alias("__dg"), F.col(value_col).alias("__dv")
    )
    return cand.join(
        F.broadcast(dom),
        (F.col("__dg") < F.col(group_col))
        & (F.col("__dv") <= F.col(value_col)),
        "left_anti",
    )


def maintain_ivf_index_stream_parquet(
    df: DataFrame,
    id_col: str,
    label_col: str,
    vec_col: str,
    store_path: str,
    checkpoint_location: str,
    compact_every_n_epochs: int | None = None,
    compact_n_buckets: int = 16,
):
    """Incrementally MAINTAIN an IVF (inverted-file) ANN index as
    embeddings stream in — the vector-search twin of the maintained
    BM25 index (`maintain_bm25_index_stream_parquet`): a standing
    index folded from per-epoch deltas, never a from-scratch rebuild
    of the whole corpus.

    Two column families per epoch:

    - ``vecs/``  (id, cell, x: array<bigint>) — the inverted lists,
      vectors floor-quantized to 1e-6 BIGINT grids (the same
      integer-exact recipe as the batch `sim_ivf_topk`)
    - ``csum/``  (cell, pos, s_delta) — per-cell per-dimension
      centroid SUM deltas. Centroid sums are ADDITIVE integers, so
      the folded centroid is bit-equal to the batch centroid however
      the stream was split — cosine is scale-invariant, so the sum
      points exactly where the mean does, and the maintained index
      scores bit-equal to batch.

    Epoch-dir overwrites make at-least-once delivery exactly-once;
    ``compaction.compact_store`` folds the lists into cell-bucketed
    generations (probe-side partition pruning) and the centroid
    deltas into one base row set."""

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        q = batch_df.select(
            F.col(id_col),
            F.col(label_col).alias("cell"),
            F.transform(
                vec_col,
                lambda v: F.floor(
                    v.cast("double") * F.lit(1000000.0)
                ).cast("bigint"),
            ).alias("x"),
        ).localCheckpoint(eager=True)
        q.coalesce(1).write.mode("overwrite").parquet(
            f"{store_path}/vecs/__epoch={epoch_id}"
        )
        (
            q.select("cell", F.posexplode("x").alias("pos", "xv"))
            .groupBy("cell", "pos")
            .agg(F.sum("xv").cast("bigint").alias("s_delta"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{store_path}/csum/__epoch={epoch_id}")
        )
        if compact_every_n_epochs:
            spark = batch_df.sparkSession
            compaction.auto_compact_if_due(
                spark,
                store_path,
                compact_every_n_epochs,
                lambda: compact_ivf_index(
                    spark, store_path, n_buckets=compact_n_buckets
                ),
                probe_family="vecs",
            )

    return (
        df.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def compact_ivf_index(
    spark, store_path: str, n_buckets: int = 16, vacuum: bool = True
) -> int:
    """Fold a maintained IVF index into one generation: inverted
    lists bucket by cell (probe-time partition pruning), centroid
    sums re-merge by exact integer group-sum."""
    return compaction.compact_store(
        spark,
        store_path,
        {
            "vecs": {"bucket_col": "cell", "n_buckets": n_buckets},
            "csum": {
                "fold": lambda df: df.groupBy("cell", "pos").agg(
                    F.sum("s_delta").cast("bigint").alias("s_delta")
                )
            },
        },
        vacuum=vacuum,
    )


def read_ivf_index_topk(
    spark,
    store_path: str,
    id_col: str = "vec_id",
    query_ids_below: int = 5,
    nprobe: int = 3,
    k: int = 10,
) -> DataFrame:
    """Score the maintained IVF index: fold the centroid-sum deltas
    (exact BIGINT group-sums), pick each query's nprobe nearest cells,
    re-score only those inverted lists — the identical integer/double
    recipe as the batch `sim_ivf_topk`, so the maintained result is
    bit-equal to batch over the union of all epochs."""
    from pyspark.sql.window import Window

    def doti(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    def sim_e6(dot, n1, n2):
        return F.round(
            dot.cast("double")
            / (F.sqrt(n1) * F.sqrt(n2))
            * F.lit(1000000.0)
        ).cast("bigint")

    # one manifest resolution for both families (ADVICE r11: a
    # compaction committing between the reads must not mix generations)
    snap = compaction.latest_generation(spark, store_path)
    vecs = compaction.read_family(spark, store_path, "vecs", snapshot=snap)
    csum = compaction.read_family(spark, store_path, "csum", snapshot=snap)
    if vecs is None or csum is None:
        raise FileNotFoundError(f"empty IVF index at {store_path}")
    cent = (
        csum.groupBy("cell", "pos")
        .agg(F.sum("s_delta").cast("bigint").alias("s"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda st: st.s,
            ).alias("cvec")
        )
        .withColumn("ss", doti(F.col("cvec"), F.col("cvec")))
    )
    q = vecs.filter(F.col(id_col) < query_ids_below).select(
        F.col(id_col).alias("query_id"),
        F.col("x").alias("__qx"),
        doti(F.col("x"), F.col("x")).alias("__qq"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cent_sim_e6"), F.asc("cell")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "cent_sim_e6",
            sim_e6(
                doti(F.col("__qx"), F.col("cvec")),
                F.col("__qq"),
                F.col("ss"),
            ),
        )
        .withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qx", "__qq", "cell")
    )
    c = vecs.select(
        F.col(id_col).alias("corpus_id"),
        F.col("cell"),
        F.col("x").alias("__cx"),
        doti(F.col("x"), F.col("x")).alias("__cc"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim_e6"), F.asc("corpus_id")
    )
    return (
        c.join(F.broadcast(probes), on="cell")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select(
            "query_id",
            "corpus_id",
            sim_e6(
                doti(F.col("__qx"), F.col("__cx")),
                F.col("__qq"),
                F.col("__cc"),
            ).alias("cosine_sim_e6"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .orderBy("query_id", "rk")
    )
