"""The commit log of the parquet streaming stores (streaming/txlog.py),
driven directly through the Hadoop FileSystem API with no streaming
query: which files read as commits, what a retried commit does, the
partition listing, and the one reader serving both the latest-per-key
upsert's epoch manifests and the compactor's generation manifests.

The streaming crash/replay proofs of the same protocol run in the soak
tier (tests/test_streaming_soak.py, tests/test_compaction.py)."""

from __future__ import annotations

import os

import pytest

from local_stream_stack_spark.streaming import compaction, txlog
from local_stream_stack_spark.streaming.ops import (
    compact_aggregate_view,
    read_compacted_view,
)


def test_only_committed_names_read_as_commits(spark, tmp_path):
    log = tmp_path / "log"
    txlog.commit(spark, str(log), 3, {"epoch": 3, "buckets": [1]})
    # a crash between temp-create and rename, in the current and the
    # old temp naming (the latter torn), plus two stray files
    (log / ".tmp-4").write_text('{"epoch": 4, "buckets": [0]}')
    (log / ".tmp-5.json").write_text('{"epo')
    (log / "x.json").write_text('{"epoch": 9, "buckets": [2]}')
    (log / "7.json.bak").write_text('{"epoch": 7, "buckets": [2]}')
    assert txlog.read_commits(spark, str(log)) == {
        3: {"epoch": 3, "buckets": [1]}
    }
    assert txlog.read_commits(spark, str(tmp_path / "missing")) == {}


def test_retried_commit_replaces_the_first(spark, tmp_path):
    log = str(tmp_path / "log")
    txlog.commit(spark, log, 0, {"gen": 0, "attempt": 1})
    txlog.commit(spark, log, 0, {"gen": 0, "attempt": 2})
    assert txlog.read_commits(spark, log) == {0: {"gen": 0, "attempt": 2}}
    # no temp left behind (the local Hadoop FS adds .crc sidecars)
    names = [n for n in os.listdir(log) if not n.endswith(".crc")]
    assert names == ["0.json"]


def test_partition_ids_lists_and_filters_committed(spark, tmp_path):
    store = tmp_path / "store"
    df = spark.createDataFrame([(1,)], "v int")
    df.write.parquet(str(store / "__epoch=2"))
    df.write.parquet(str(store / "__epoch=-1"))
    # a directory whose parquet job has not committed yet
    (store / "__epoch=5").mkdir()
    (store / "__epoch=x").mkdir()
    (store / "__bucket=3").mkdir()
    assert txlog.partition_ids(spark, str(store)) == [-1, 2, 5]
    assert txlog.partition_ids(spark, str(store), committed=True) == [-1, 2]
    assert txlog.partition_ids(spark, str(store), "__bucket") == [3]
    assert txlog.partition_ids(spark, str(tmp_path / "missing")) == []


def test_one_reader_for_epoch_and_generation_manifests(spark, tmp_path):
    # a latest-per-key view laid out by hand: epoch 0 committed bucket 1;
    # epoch 1 wrote bucket 1 but crashed before its manifest rename
    view = tmp_path / "view"
    schema = "k int, v int, __deleted boolean"
    for epoch, v in ((0, 10), (1, 11)):
        spark.createDataFrame([(1, v, False)], schema).write.parquet(
            str(view / "data" / f"__epoch={epoch}" / "__bucket=1")
        )
    log = view / "_manifests"
    txlog.commit(spark, str(log), 0, {"epoch": 0, "buckets": [1]})
    (log / ".tmp-1").write_text('{"epoch": 1, "buckets": [1]}')
    assert txlog.read_commits(spark, str(log)) == {
        0: {"epoch": 0, "buckets": [1]}
    }
    got = [tuple(r) for r in read_compacted_view(spark, str(view)).collect()]
    assert got == [(1, 10)]

    # the compactor's generation manifest reads back the same way
    store = tmp_path / "store"
    spark.createDataFrame([("a", 1)], "k string, n long").write.parquet(
        str(store / "__epoch=0")
    )
    gen = compaction.compact_store(spark, str(store), {"": {}})
    gens = txlog.read_commits(spark, str(store / "_generations"))
    assert list(gens) == [gen] == [0]
    assert compaction.latest_generation(spark, str(store)) == (0, gens[0])
    assert gens[0]["families"][""]["fold_max"] == 0


def test_compact_aggregate_view_refuses_an_empty_store(spark, tmp_path):
    # no epoch at all, then only a torn one (dir made, parquet job not
    # committed): nothing to fold, so no generation is committed
    view = tmp_path / "view"
    for _ in range(2):
        with pytest.raises(FileNotFoundError):
            compact_aggregate_view(spark, str(view))
        assert compaction.latest_generation(spark, str(view)) == (None, None)
        (view / "__epoch=0").mkdir(parents=True, exist_ok=True)
    spark.createDataFrame(
        [("a", 2, 5)], "k string, n_rows long, sum_v long"
    ).write.mode("overwrite").parquet(str(view / "__epoch=0"))
    assert compact_aggregate_view(spark, str(view)) == 0
    # a compacted store with no live epoch left is not empty
    assert compact_aggregate_view(spark, str(view)) == 1
