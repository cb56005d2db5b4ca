"""Generation-based store compaction (streaming/compaction.py):
folding epoch deltas must never change what a reader sees, must stay
crash-safe (unmanifested generations invisible, vacuum-less folds
don't double-count), and the maintaining stream must keep rejecting
duplicates against the folded generation after a restart."""

from __future__ import annotations

import pytest

# soak tier (opt-in, `-m soak`): multi-minute lifecycle proof; default-tier coverage of the operator itself lives in the oracle parity gate and the faster unit tests
pytestmark = pytest.mark.soak

import time

from pyspark.sql import functions as F

from local_stream_stack_spark.streaming.compaction import (
    compact_bm25_index,
    compact_ingest_store,
    compact_neardup_store,
    latest_generation,
    read_family,
)
from local_stream_stack_spark.streaming.ops import (
    ingest_dedup_stream_parquet,
    ingest_neardup_stream_parquet,
    maintain_bm25_index_stream_parquet,
    read_bm25_index_topk,
    read_ingest_store,
    read_neardup_store,
)


def _write_docs(spark, path, rows, mode="overwrite"):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode(mode).parquet(path)


def _run_bm25(spark, in_dir, store, cp):
    q = maintain_bm25_index_stream_parquet(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        id_col="doc_id",
        text_col="text",
        store_path=store,
        checkpoint_location=cp,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


ROWS1 = [
    (1, "spark shuffles data between stages during wide joins"),
    (2, "spark spark spark broadcast joins avoid the shuffle"),
    (3, "the maintained view folds data deltas into data tables"),
]
ROWS2 = [
    (4, "data pipelines fold data into maintained data views"),
    (5, "the shuffle is the bottleneck the optimizer removes"),
]
ROWS3 = [
    (6, "spark folds the shuffle data into the maintained index"),
]


def test_bm25_compaction_preserves_topk_and_prunes_dirs(spark, tmp_path):
    in_dir, store, cp = (
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "cp"),
    )
    _write_docs(spark, in_dir, ROWS1)
    time.sleep(1.1)
    _write_docs(spark, in_dir, ROWS2, mode="append")
    _run_bm25(spark, in_dir, store, cp)

    before = read_bm25_index_topk(spark, store, k=20).collect()
    gen = compact_bm25_index(spark, store, n_buckets=4)
    assert gen == 0
    after = read_bm25_index_topk(spark, store, k=20).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]

    # folded epoch dirs get the one-cycle grace window (ADVICE r12):
    # on disk but ignored, recorded for the next compaction's vacuum
    import os

    assert any(
        d.startswith("__epoch=") for d in os.listdir(f"{store}/postings")
    )
    assert os.path.isdir(f"{store}/postings/__gen=0")
    assert any(
        d.startswith("__bucket=")
        for d in os.listdir(f"{store}/postings/__gen=0")
    )
    g, manifest = latest_generation(spark, store)
    assert g == 0
    assert manifest["families"]["postings"]["fold_max"] == 1
    assert manifest["families"]["postings"]["n_buckets"] == 4
    assert f"{store}/postings/__epoch=0" in manifest["defer_vacuum"]

    # the NEXT compaction actually vacuums them
    gen = compact_bm25_index(spark, store, n_buckets=4)
    assert gen == 1
    assert not any(
        d.startswith("__epoch=") for d in os.listdir(f"{store}/postings")
    )
    final = read_bm25_index_topk(spark, store, k=20).collect()
    assert [tuple(r) for r in final] == [tuple(r) for r in before]


def test_bm25_post_compaction_epochs_fold_into_next_generation(
    spark, tmp_path
):
    in_dir, store, cp = (
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "cp"),
    )
    _write_docs(spark, in_dir, ROWS1)
    time.sleep(1.1)
    _write_docs(spark, in_dir, ROWS2, mode="append")
    _run_bm25(spark, in_dir, store, cp)
    compact_bm25_index(spark, store, n_buckets=4)

    # the stream resumes on the SAME checkpoint and folds a new epoch
    # on top of the generation
    time.sleep(1.1)
    _write_docs(spark, in_dir, ROWS3, mode="append")
    _run_bm25(spark, in_dir, store, cp)

    live = read_bm25_index_topk(spark, store, k=20).collect()

    # reference: one-shot maintained store over the full corpus
    ref_in, ref_store, ref_cp = (
        str(tmp_path / "rin"),
        str(tmp_path / "rstore"),
        str(tmp_path / "rcp"),
    )
    _write_docs(spark, ref_in, ROWS1 + ROWS2 + ROWS3)
    _run_bm25(spark, ref_in, ref_store, ref_cp)
    want = read_bm25_index_topk(spark, ref_store, k=20).collect()
    assert [tuple(r) for r in live] == [tuple(r) for r in want]

    # second compaction folds gen 0 + the new epoch into gen 1; gen 0's
    # directories get a ONE-CYCLE grace window (an in-flight reader that
    # planned its scan against gen 0 must not FileNotFound mid-query,
    # ADVICE r11) and are vacuumed by the NEXT compaction
    gen = compact_bm25_index(spark, store, n_buckets=4)
    assert gen == 1
    again = read_bm25_index_topk(spark, store, k=20).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in want]
    import os

    assert os.path.isdir(f"{store}/postings/__gen=0")
    gen = compact_bm25_index(spark, store, n_buckets=4)
    assert gen == 2
    assert not os.path.isdir(f"{store}/postings/__gen=0")
    final = read_bm25_index_topk(spark, store, k=20).collect()
    assert [tuple(r) for r in final] == [tuple(r) for r in want]


def test_compaction_without_vacuum_never_double_counts(spark, tmp_path):
    in_dir, store, cp = (
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "cp"),
    )
    _write_docs(spark, in_dir, ROWS1)
    time.sleep(1.1)
    _write_docs(spark, in_dir, ROWS2, mode="append")
    _run_bm25(spark, in_dir, store, cp)
    before = read_bm25_index_topk(spark, store, k=20).collect()
    compact_bm25_index(spark, store, n_buckets=4, vacuum=False)
    # stale folded epoch dirs remain on disk (crash between commit and
    # vacuum); the resolver must skip them, not double-count
    import os

    assert any(
        d.startswith("__epoch=") for d in os.listdir(f"{store}/postings")
    )
    after = read_bm25_index_topk(spark, store, k=20).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]

    # ADVICE r12: vacuum=False still TRACKS everything it superseded,
    # and a later vacuum=False fold carries the backlog forward (plus
    # its own superseded gen-0 dir) instead of orphaning it ...
    _, m0 = latest_generation(spark, store)
    assert f"{store}/postings/__epoch=0" in m0["defer_vacuum"]
    compact_bm25_index(spark, store, n_buckets=4, vacuum=False)
    _, m1 = latest_generation(spark, store)
    assert f"{store}/postings/__epoch=0" in m1["defer_vacuum"]
    assert f"{store}/postings/__gen=0" in m1["defer_vacuum"]
    # ... so a final vacuum=True fold garbage-collects the whole chain
    compact_bm25_index(spark, store, n_buckets=4, vacuum=True)
    assert not any(
        d.startswith("__epoch=") for d in os.listdir(f"{store}/postings")
    )
    assert not os.path.isdir(f"{store}/postings/__gen=0")
    # gen 1 was superseded by THIS fold — it keeps its own grace cycle
    assert os.path.isdir(f"{store}/postings/__gen=1")
    final = read_bm25_index_topk(spark, store, k=20).collect()
    assert [tuple(r) for r in final] == [tuple(r) for r in before]


def test_unmanifested_generation_is_invisible(spark, tmp_path):
    in_dir, store, cp = (
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "cp"),
    )
    _write_docs(spark, in_dir, ROWS1)
    _run_bm25(spark, in_dir, store, cp)
    before = read_bm25_index_topk(spark, store, k=20).collect()
    # a crash mid-compaction leaves __gen dirs with NO manifest — the
    # resolver must never read them
    spark.createDataFrame(
        [(999, "garbage", 999)], "doc_id long, tok string, tf long"
    ).write.parquet(f"{store}/postings/__gen=7")
    after = read_bm25_index_topk(spark, store, k=20).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]


def test_ingest_dedup_rejects_against_compacted_generation(
    spark, tmp_path
):
    in_dir, store, cp = (
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "cp"),
    )

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .withColumn("fp", F.md5("text"))
        )

    def run():
        q = ingest_dedup_stream_parquet(
            stream(),
            fp_col="fp",
            order_col="doc_id",
            store_path=store,
            checkpoint_location=cp,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_docs(spark, in_dir, [(1, "alpha"), (2, "beta")])
    time.sleep(1.1)
    _write_docs(spark, in_dir, [(3, "gamma")], mode="append")
    run()
    compact_ingest_store(spark, store, fp_col="fp", n_buckets=4)
    # second fold vacuums the deferred epoch dirs, so the rejection
    # below can only come from the GENERATION
    compact_ingest_store(spark, store, fp_col="fp", n_buckets=4)
    import os

    assert not any(
        d.startswith("__epoch=") for d in os.listdir(store)
    )

    # post-compaction epoch: one duplicate (must be rejected against
    # the GENERATION, not an epoch dir) and one novel row
    time.sleep(1.1)
    _write_docs(
        spark, in_dir, [(4, "alpha"), (5, "delta")], mode="append"
    )
    run()
    got = {
        (r.doc_id, r.text)
        for r in read_ingest_store(spark, store).collect()
    }
    assert got == {(1, "alpha"), (2, "beta"), (3, "gamma"), (5, "delta")}


def test_neardup_store_compaction_preserves_rows_and_keys(
    spark, tmp_path
):
    in_dir, store, cp = (
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "cp"),
    )
    docs1 = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "a completely different document about spark shuffles"),
    ]
    docs2 = [
        # light edit of doc 1 -> must be rejected
        (10, "the quick brown fox jumps over the lazy dog today"),
        (11, "another unrelated text on broadcast joins and buckets"),
    ]
    _write_docs(spark, in_dir, docs1)
    time.sleep(1.1)
    _write_docs(spark, in_dir, docs2, mode="append")

    def run():
        q = ingest_neardup_stream_parquet(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir),
            id_col="doc_id",
            text_col="text",
            order_col="doc_id",
            store_path=store,
            checkpoint_location=cp,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    before = {r.doc_id for r in read_neardup_store(spark, store).collect()}
    assert before == {1, 2, 11}
    keys_before = read_family(spark, store, "keys").count()

    compact_neardup_store(spark, store, n_buckets=4)
    after = {r.doc_id for r in read_neardup_store(spark, store).collect()}
    assert after == before
    assert read_family(spark, store, "keys").count() == keys_before

    # a re-text of doc 2 arriving AFTER compaction must be rejected
    # against the generation's band keys
    time.sleep(1.1)
    _write_docs(
        spark,
        in_dir,
        [(20, "a completely different document about spark shuffles")],
        mode="append",
    )
    run()
    final = {r.doc_id for r in read_neardup_store(spark, store).collect()}
    assert final == before


def test_read_family_empty_store_returns_none(spark, tmp_path):
    assert read_family(spark, str(tmp_path / "nothing"), "") is None


def test_kmv_view_compaction_is_lossless(spark, tmp_path):
    """KMV fold keeps only the global k minima — lossless for the
    sketch: reads are identical across the fold, and epochs arriving
    AFTER the fold merge exactly as if no fold had happened."""
    from local_stream_stack_spark.streaming.ops import (
        compact_kmv_view,
        kmv_view_stream_parquet,
        read_kmv_view,
    )

    in_dir, view, cp = (
        str(tmp_path / "in"),
        str(tmp_path / "view"),
        str(tmp_path / "cp"),
    )

    def run():
        q = kmv_view_stream_parquet(
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir),
            key_col="k",
            target_path=view,
            checkpoint_location=cp,
            k=16,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    spark.createDataFrame(
        [(i,) for i in range(0, 40)], "k long"
    ).coalesce(1).write.parquet(in_dir)
    time.sleep(1.1)
    spark.createDataFrame(
        [(i,) for i in range(20, 60)], "k long"
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run()
    before = read_kmv_view(spark, view, k=16).collect()[0]
    compact_kmv_view(spark, view, k=16)
    import os

    # folded epoch dirs deferred one cycle; a second fold vacuums them
    assert any(d.startswith("__epoch=") for d in os.listdir(view))
    compact_kmv_view(spark, view, k=16)
    assert not any(d.startswith("__epoch=") for d in os.listdir(view))
    after = read_kmv_view(spark, view, k=16).collect()[0]
    assert tuple(after) == tuple(before)

    # a post-fold epoch with overlapping + new keys merges exactly
    time.sleep(1.1)
    spark.createDataFrame(
        [(i,) for i in range(50, 90)], "k long"
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run()
    live = read_kmv_view(spark, view, k=16).collect()[0]

    # reference: one-shot view over the full key stream
    rin, rview, rcp = (
        str(tmp_path / "rin"),
        str(tmp_path / "rview"),
        str(tmp_path / "rcp"),
    )
    spark.createDataFrame(
        [(i,) for i in range(0, 90)], "k long"
    ).coalesce(1).write.parquet(rin)
    q = kmv_view_stream_parquet(
        spark.readStream.schema("k long").parquet(rin),
        key_col="k",
        target_path=rview,
        checkpoint_location=rcp,
        k=16,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = read_kmv_view(spark, rview, k=16).collect()[0]
    assert tuple(live) == tuple(want)


def test_legacy_epoch_minus_one_base_is_read_and_folded(spark, tmp_path):
    """ADVICE r11: a pre-generation store whose old compactor wrote its
    base as ``__epoch=-1`` must stay visible to the manifest reader
    (no manifest -> -1 is live state) and must be FOLDED — not
    vacuumed unfolded — by the first generation compaction."""
    from local_stream_stack_spark.streaming.compaction import compact_store
    from local_stream_stack_spark.streaming.ops import read_aggregate_view

    store = str(tmp_path / "legacy")
    spark.createDataFrame(
        [("a", 10), ("b", 5)], "k string, n_rows long"
    ).coalesce(1).write.parquet(f"{store}/__epoch=-1")
    spark.createDataFrame(
        [("a", 1), ("c", 2)], "k string, n_rows long"
    ).coalesce(1).write.parquet(f"{store}/__epoch=3")

    want = {("a", 11), ("b", 5), ("c", 2)}

    def totals():
        return {
            tuple(r) for r in read_aggregate_view(spark, store).collect()
        }

    assert totals() == want

    def fold(df):
        return df.groupBy("k").agg(F.sum("n_rows").alias("n_rows"))

    compact_store(spark, store, {"": {"fold": fold}})
    import os

    # the legacy base was folded into the generation; deferred one
    # cycle, then vacuumed by the next fold
    assert os.path.isdir(f"{store}/__epoch=-1")
    assert totals() == want
    compact_store(spark, store, {"": {"fold": fold}})
    assert not os.path.isdir(f"{store}/__epoch=-1")
    assert not os.path.isdir(f"{store}/__epoch=3")
    assert totals() == want


def test_vacuum_only_deletes_the_epochs_this_run_listed(spark, tmp_path):
    """ADVICE r11: an epoch directory appearing AFTER the compactor's
    listing (a racing micro-batch) must never enter the deferred-vacuum
    set — it survives the fold AND the next fold's vacuum as live data.
    Simulated by monkeypatching the lister to hide the late epoch."""
    from local_stream_stack_spark.streaming import compaction, txlog

    store = str(tmp_path / "race")
    spark.createDataFrame(
        [("a", 1)], "k string, n_rows long"
    ).coalesce(1).write.parquet(f"{store}/__epoch=0")
    spark.createDataFrame(
        [("a", 7)], "k string, n_rows long"
    ).coalesce(1).write.parquet(f"{store}/__epoch=1")

    real = txlog.partition_ids

    def hide_late(spark_, fpath, *args, **kwargs):
        return [e for e in real(spark_, fpath, *args, **kwargs) if e != 1]

    fold_spec = {"": {"fold": lambda df: df.groupBy("k").agg(
        F.sum("n_rows").alias("n_rows"))}}
    txlog.partition_ids = hide_late
    try:
        compaction.compact_store(spark, store, fold_spec)
    finally:
        txlog.partition_ids = real
    import os

    # epoch 1 landed "after the listing": not folded, not in the
    # deferred set; epoch 0 was folded and is deferred (still on disk)
    _, manifest = compaction.latest_generation(spark, store)
    assert f"{store}/__epoch=0" in manifest["defer_vacuum"]
    assert f"{store}/__epoch=1" not in manifest["defer_vacuum"]
    assert os.path.isdir(f"{store}/__epoch=1")
    from local_stream_stack_spark.streaming.ops import read_aggregate_view

    got = {tuple(r) for r in read_aggregate_view(spark, store).collect()}
    assert got == {("a", 8)}

    # the next fold vacuums the deferred epoch 0 and FOLDS epoch 1
    compaction.compact_store(spark, store, fold_spec)
    assert not os.path.isdir(f"{store}/__epoch=0")
    assert os.path.isdir(f"{store}/__epoch=1")  # deferred this cycle
    got = {tuple(r) for r in read_aggregate_view(spark, store).collect()}
    assert got == {("a", 8)}


def test_subset_family_compaction_carries_others_forward(spark, tmp_path):
    """ADVICE r11: folding a SUBSET of a store's families must not
    orphan the families folded by an earlier generation — their
    manifest entries (and __gen dirs) carry forward."""
    from local_stream_stack_spark.streaming.compaction import (
        compact_store,
        read_family,
    )

    store = str(tmp_path / "multi")
    spark.createDataFrame(
        [("x", 1)], "k string, v long"
    ).coalesce(1).write.parquet(f"{store}/fam_a/__epoch=0")
    spark.createDataFrame(
        [("y", 2)], "k string, v long"
    ).coalesce(1).write.parquet(f"{store}/fam_b/__epoch=0")

    compact_store(spark, store, {"fam_a": {}, "fam_b": {}})
    # second compaction touches only fam_a
    spark.createDataFrame(
        [("x", 3)], "k string, v long"
    ).coalesce(1).write.parquet(f"{store}/fam_a/__epoch=1")
    compact_store(spark, store, {"fam_a": {}})

    a = {tuple(r) for r in read_family(spark, store, "fam_a").collect()}
    b = {tuple(r) for r in read_family(spark, store, "fam_b").collect()}
    assert a == {("x", 1), ("x", 3)}
    assert b == {("y", 2)}  # fam_b survived the subset fold

    # and a third fold touching only fam_a STILL must not vacuum
    # fam_b's carried generation directory
    compact_store(spark, store, {"fam_a": {}})
    b2 = {tuple(r) for r in read_family(spark, store, "fam_b").collect()}
    assert b2 == {("y", 2)}


def test_read_family_snapshot_pins_generation(spark, tmp_path):
    """ADVICE r11: a reader threading one (gen, manifest) snapshot
    through several family reads keeps resolving that generation even
    after a new one commits (the one-cycle vacuum grace keeps its
    directories alive)."""
    from local_stream_stack_spark.streaming.compaction import (
        compact_store,
        latest_generation,
        read_family,
    )

    store = str(tmp_path / "snap")
    spark.createDataFrame(
        [("x", 1)], "k string, v long"
    ).coalesce(1).write.parquet(f"{store}/fam/__epoch=0")
    compact_store(spark, store, {"fam": {}})

    snap = latest_generation(spark, store)
    assert snap[0] == 0

    spark.createDataFrame(
        [("x", 9)], "k string, v long"
    ).coalesce(1).write.parquet(f"{store}/fam/__epoch=1")
    compact_store(spark, store, {"fam": {}})  # gen 1 commits mid-read

    pinned = {
        tuple(r)
        for r in read_family(spark, store, "fam", snapshot=snap).collect()
    }
    # gen 0 plus the (not-yet-folded-at-snapshot-time) epoch 1 — NOT
    # gen 1's refold; the grace window kept BOTH __gen=0 AND the
    # concurrently-folded __epoch=1 on disk (ADVICE r12: the epoch-1
    # row must survive, not just the gen-0 row)
    assert pinned == {("x", 1), ("x", 9)}
    fresh = {
        tuple(r) for r in read_family(spark, store, "fam").collect()
    }
    assert fresh == {("x", 1), ("x", 9)}


def test_auto_compaction_soak_bounds_live_epochs(spark, tmp_path):
    """VERDICT r11 #4: with ``compact_every_n_epochs=5`` a 30-epoch
    stream folds itself — live epoch-dir count never exceeds 5 (it is
    reset to 0 by the in-stream fold at every 5th epoch), six
    generations commit, and the final totals equal the batch
    aggregate."""
    import os

    from local_stream_stack_spark.streaming.ops import (
        aggregate_view_stream_parquet,
        read_aggregate_view,
    )

    in_dir, view, cp = (
        str(tmp_path / "in"),
        str(tmp_path / "view"),
        str(tmp_path / "cp"),
    )
    rows = [(i % 7, i) for i in range(300)]
    for chunk in range(30):
        spark.createDataFrame(
            rows[chunk * 10:(chunk + 1) * 10], "k long, v long"
        ).coalesce(1).write.mode("append").parquet(in_dir)
    q = aggregate_view_stream_parquet(
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        keys=["k"],
        sum_cols=["v"],
        target_path=view,
        checkpoint_location=cp,
        compact_every_n_epochs=5,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    live = [
        d for d in os.listdir(view) if d.startswith("__epoch=")
    ]
    assert len(live) <= 5, f"auto-compaction left {len(live)} live epochs"
    gen, manifest = latest_generation(spark, view)
    assert gen == 5  # folds at epochs 4, 9, 14, 19, 24, 29
    got = {
        (r["k"], r["n_rows"], r["sum_v"])
        for r in read_aggregate_view(spark, view).collect()
    }
    import collections

    cnt = collections.Counter(k for k, _ in rows)
    sums = collections.defaultdict(int)
    for k, v in rows:
        sums[k] += v
    want = {(k, cnt[k], sums[k]) for k in cnt}
    assert got == want


def test_auto_compaction_bm25_matches_manual(spark, tmp_path):
    """The BM25 maintainer with the auto-trigger on produces the same
    top-k as the never-compacted store over the same corpus."""
    in_dir, store, cp = (
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "cp"),
    )
    _write_docs(spark, in_dir, ROWS1)
    time.sleep(1.1)
    _write_docs(spark, in_dir, ROWS2, mode="append")
    time.sleep(1.1)
    _write_docs(spark, in_dir, ROWS3, mode="append")
    q = maintain_bm25_index_stream_parquet(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        id_col="doc_id",
        text_col="text",
        store_path=store,
        checkpoint_location=cp,
        compact_every_n_epochs=2,
        compact_n_buckets=4,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    gen, _ = latest_generation(spark, store)
    assert gen is not None  # the trigger actually fired mid-stream

    ref_in, ref_store, ref_cp = (
        str(tmp_path / "rin"),
        str(tmp_path / "rstore"),
        str(tmp_path / "rcp"),
    )
    _write_docs(spark, ref_in, ROWS1 + ROWS2 + ROWS3)
    _run_bm25(spark, ref_in, ref_store, ref_cp)
    want = read_bm25_index_topk(spark, ref_store, k=20).collect()
    got = read_bm25_index_topk(spark, store, k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_maintained_view_resumes_across_process_restart(tmp_path, spark):
    """VERDICT r11 #5: the crash-recovery story across a JVM boundary.
    Phase 1 (subprocess A): stream two epochs into an aggregate view,
    fold them into a generation, exit the process. Phase 2 (subprocess
    B, brand-new JVM + checkpoint resume): stream a third epoch on top
    of the generation. The final read (generation + live delta) must
    equal the batch aggregate computed in THIS session."""
    import os
    import subprocess
    import sys
    import textwrap

    base = str(tmp_path)
    phase = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession
        from local_stream_stack_spark.streaming.ops import (
            aggregate_view_stream_parquet,
            compact_aggregate_view,
        )

        base = {base!r}
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        stage = int(sys.argv[1])
        rows = [(i % 5, i) for i in range(30 * stage, 30 * (stage + 1))]
        spark.createDataFrame(rows, "k long, v long").coalesce(
            1
        ).write.mode("append").parquet(base + "/in")
        q = aggregate_view_stream_parquet(
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(base + "/in"),
            keys=["k"],
            sum_cols=["v"],
            target_path=base + "/view",
            checkpoint_location=base + "/cp",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if stage == 0:
            spark.createDataFrame(
                [(i % 5, i) for i in range(30, 60)], "k long, v long"
            ).coalesce(1).write.mode("append").parquet(base + "/in")
            q = aggregate_view_stream_parquet(
                spark.readStream.schema("k long, v long")
                .option("maxFilesPerTrigger", "1")
                .parquet(base + "/in"),
                keys=["k"],
                sum_cols=["v"],
                target_path=base + "/view",
                checkpoint_location=base + "/cp",
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            compact_aggregate_view(spark, base + "/view")
        spark.stop()
        """
    ).format(
        root=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        base=base,
    )
    for stage in ("0", "2"):
        proc = subprocess.run(
            [sys.executable, "-c", phase, stage],
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]

    from local_stream_stack_spark.streaming.compaction import (
        latest_generation,
    )
    from local_stream_stack_spark.streaming.ops import read_aggregate_view

    gen, _ = latest_generation(spark, f"{base}/view")
    assert gen == 0  # phase A's fold survived the restart
    import os as _os

    live = [
        d
        for d in _os.listdir(f"{base}/view")
        if d.startswith("__epoch=")
    ]
    assert live, "phase B wrote no live epoch on top of the generation"
    got = {
        (r["k"], r["n_rows"], r["sum_v"])
        for r in read_aggregate_view(spark, f"{base}/view").collect()
    }
    rows = [(i % 5, i) for i in range(0, 60)] + [
        (i % 5, i) for i in range(60, 90)
    ]
    import collections

    cnt = collections.Counter(k for k, _ in rows)
    sums = collections.defaultdict(int)
    for k, v in rows:
        sums[k] += v
    want = {(k, cnt[k], sums[k]) for k in cnt}
    assert got == want


def test_concurrent_writer_and_compactor_soak(tmp_path, spark):
    """VERDICT r12 #4: one subprocess streams epochs into an aggregate
    view while THIS process loops ``compact_aggregate_view`` against it
    concurrently — no idle coordination whatsoever. The _SUCCESS
    commit-marker filter keeps a mid-write epoch out of the fold (a
    torn read would fossilize ``fold_max`` past unread rows), the
    single-listing protocol keeps late epochs alive, and the deferred
    vacuum keeps any in-flight reader's directories on disk. After
    >=5 concurrent fold cycles the final read must equal the batch
    aggregate exactly — zero lost rows."""
    import os
    import subprocess
    import sys
    import textwrap
    import time as _time

    from local_stream_stack_spark.streaming.ops import (
        compact_aggregate_view,
        read_aggregate_view,
    )

    base = str(tmp_path)
    # stop-file handshake, not a stage count: the writer keeps landing
    # micro-batch epochs until the parent has finished its 5 concurrent
    # fold cycles, so the test's fold count is host-load-independent
    writer = textwrap.dedent(
        """
        import os, sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession
        from local_stream_stack_spark.streaming.ops import (
            aggregate_view_stream_parquet,
        )

        base = {base!r}
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        def land(stage):
            rows = [(i % 7, i) for i in range(stage * 10,
                                              (stage + 1) * 10)]
            spark.createDataFrame(rows, "k long, v long").coalesce(
                1
            ).write.mode("append").parquet(base + "/in")

        land(0)  # source dir must exist before the stream is defined
        q = aggregate_view_stream_parquet(
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(base + "/in"),
            keys=["k"],
            sum_cols=["v"],
            target_path=base + "/view",
            checkpoint_location=base + "/cp",
        )
        # purely stop-file driven (no stage cap): under heavy host
        # load the parent's folds can be arbitrarily slow, and a stage
        # cap would let the writer finish before 5 folds happened; the
        # wall-clock guard only protects against a wedged parent
        import time
        deadline = time.time() + 360
        stage = 0
        try:
            q.processAllAvailable()
            while time.time() < deadline:
                stage += 1
                land(stage)
                q.processAllAvailable()
                if os.path.exists(base + "/stop") and stage >= 5:
                    break
        finally:
            q.stop()
        print("STAGES", stage + 1, flush=True)
        spark.stop()
        """
    ).format(
        root=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        base=base,
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", writer],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    n_folds = 0
    try:
        while proc.poll() is None:
            try:
                compact_aggregate_view(spark, f"{base}/view")
                n_folds += 1
            except FileNotFoundError:
                pass  # writer hasn't produced the first epoch yet
            if n_folds >= 5 and not os.path.exists(f"{base}/stop"):
                open(f"{base}/stop", "w").close()
            _time.sleep(0.5)
    finally:
        out, err = proc.communicate(timeout=420)
    assert proc.returncode == 0, err[-3000:]
    assert n_folds >= 5, f"only {n_folds} concurrent fold cycles ran"
    n_stages = int(out.strip().rsplit("STAGES", 1)[1])

    got = {
        (r["k"], r["n_rows"], r["sum_v"])
        for r in read_aggregate_view(spark, f"{base}/view").collect()
    }
    rows = [(i % 7, i) for i in range(n_stages * 10)]
    import collections

    cnt = collections.Counter(k for k, _ in rows)
    sums = collections.defaultdict(int)
    for k, v in rows:
        sums[k] += v
    want = {(k, cnt[k], sums[k]) for k in cnt}
    assert got == want, (
        f"lost rows under concurrent compaction: {sorted(want - got)}"
    )


def test_bitmap_view_compaction_is_lossless_and_idempotent(
    spark, tmp_path
):
    """Bitmap-view fold (OR re-merge) preserves reads across the fold,
    merges post-fold epochs exactly, and — the algebra the family is
    registered for — REPLAYED rows change nothing (OR idempotence)."""
    import time

    from local_stream_stack_spark.streaming.ops import (
        bitmap_view_stream_parquet,
        compact_bitmap_view,
        read_bitmap_view,
    )

    in_dir, view, cp = (
        str(tmp_path / "in"),
        str(tmp_path / "view"),
        str(tmp_path / "cp"),
    )

    def run():
        q = bitmap_view_stream_parquet(
            spark.readStream.schema(
                "zone bigint, pos bigint, pa int, pb int"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir),
            zone_col="zone",
            pos_col="pos",
            flag_cols=["pa", "pb"],
            target_path=view,
            checkpoint_location=cp,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def rows(ids):
        return [(i // 62, i % 62, 1 if i % 3 == 0 else 0,
                 1 if i % 2 == 0 else 0) for i in ids]

    schema = "zone bigint, pos bigint, pa int, pb int"
    spark.createDataFrame(rows(range(0, 100)), schema).coalesce(
        1
    ).write.parquet(in_dir)
    time.sleep(1.1)
    # second epoch REPLAYS ids 50-99 (idempotent under OR) + new ones
    spark.createDataFrame(
        rows(range(50, 180)), schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run()
    before = {
        (r.zone, r.m_pa, r.m_pb)
        for r in read_bitmap_view(spark, view).collect()
    }
    # reference masks straight from python
    import collections

    want = collections.defaultdict(lambda: [0, 0])
    for z, p, pa, pb in rows(range(0, 180)):
        if pa:
            want[z][0] |= 1 << p
        if pb:
            want[z][1] |= 1 << p
    assert before == {(z, m[0], m[1]) for z, m in want.items()}

    compact_bitmap_view(spark, view)
    after = {
        (r.zone, r.m_pa, r.m_pb)
        for r in read_bitmap_view(spark, view).collect()
    }
    assert after == before

    # post-fold epoch overlapping old zones merges exactly
    time.sleep(1.1)
    spark.createDataFrame(
        rows(range(150, 250)), schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run()
    for z, p, pa, pb in rows(range(180, 250)):
        if pa:
            want[z][0] |= 1 << p
        if pb:
            want[z][1] |= 1 << p
    final = {
        (r.zone, r.m_pa, r.m_pb)
        for r in read_bitmap_view(spark, view).collect()
    }
    assert final == {(z, m[0], m[1]) for z, m in want.items()}
