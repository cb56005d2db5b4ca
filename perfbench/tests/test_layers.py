"""Tests of the benchmark's layer readings and output checks.

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import layers  # noqa: E402
import procfs  # noqa: E402
import spec  # noqa: E402
from spans import Tracer, self_times  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_task_run_time_counts_every_task(spark):
    """An N-task sleep job reads at least N x sleep of task run time,
    although its wall time is about one sleep."""
    n, nap = 4, 0.5
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-sleep", "sleep job")
    t = time.monotonic()
    sc.parallelize(range(n), n).foreach(lambda _: time.sleep(nap))
    wall = time.monotonic() - t
    jobs, stages = layers.group_jobs(spark, "perfbench-sleep")
    tot = layers.stage_totals(spark, stages)
    assert len(jobs) == 1 and len(stages) == 1
    assert tot["run_s"] >= n * nap
    assert tot["run_s"] > 1.5 * wall  # not a second wall clock
    assert tot["cpu_s"] < tot["run_s"]  # sleeping is not CPU


PROGRESS = {
    "id": "q-1",
    "batchId": 7,
    "timestamp": "2026-01-01T00:00:10.000Z",
    "numInputRows": 1000,
    "durationMs": {
        "addBatch": 900,
        "getBatch": 5,
        "latestOffset": 20,
        "queryPlanning": 30,
        "triggerExecution": 1000,
        "walCommit": 25,
        "commitOffsets": 15,
    },
    "stateOperators": [
        {
            "operatorName": "transformWithStateInPandasExec",
            "numRowsTotal": 300,
            "numRowsUpdated": 40,
            "memoryUsedBytes": 2 * 2**20,
            "commitTimeMs": 120,
            "allUpdatesTimeMs": 400,
        }
    ],
}


def test_progress_event_yields_phase_and_state_metrics():
    idle = dict(PROGRESS, batchId=8, numInputRows=0)  # a no-data batch
    rows = layers.epoch_rows([json.loads(json.dumps(PROGRESS)), idle])
    assert len(rows) == 1
    e = rows[0]
    assert e["end_ms"] - e["start_ms"] == 1000
    m = layers.streaming_metrics(rows)
    assert m["streaming.epochs"] == 1
    assert m["streaming.epoch_ms_p50"] == 1000
    assert m["streaming.add_batch_ms_p50"] == 900
    assert m["streaming.commit_ms_p50"] == 40
    assert m["sources.list_ms_p50"] == 25
    assert m["streaming.state_rows_total"] == 300
    assert m["streaming.state_mem_mb"] == 2
    assert m["streaming.state_commit_ms_p50"] == 120
    assert m["streaming.state_update_ms_p50"] == 400


def test_progress_without_state_operators_reads_zero_state():
    plain = dict(PROGRESS, stateOperators=[])
    m = layers.streaming_metrics(layers.epoch_rows([plain]))
    assert m["streaming.state_rows_total"] == 0
    assert m["streaming.state_commit_ms_p50"] == 0


def test_epoch_growth_compares_last_and_first_quarter():
    assert layers.epoch_growth([100, 100, 110, 150, 200, 210, 200, 200]) == 2.0
    assert layers.epoch_growth([100, 200]) == 1.0


def test_checkpoint_source_log_maps_files_to_epochs(tmp_path):
    log = tmp_path / "cp" / "sources" / "0"
    log.mkdir(parents=True)

    def entry(name, batch):
        return json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": batch})

    (log / "0").write_text("v1\n" + entry("ev-00000-due1000.parquet", 0) + "\n")
    (log / "1").write_text(
        "v1\n" + entry("ev-00001-due1100.parquet", 1) + "\n"
        + entry("ev-00002-due1200.parquet", 1) + "\n"
    )
    # a compacted log repeats earlier entries; a stray temp file is ignored
    (log / "2.compact").write_text(
        "v1\n" + entry("ev-00000-due1000.parquet", 0) + "\n"
        + entry("ev-00003-due1300.parquet", 2) + "\n"
    )
    (log / ".3.tmp").write_text("garbage")
    fb = layers.source_file_batches(str(tmp_path / "cp"))
    assert fb == {
        "ev-00000-due1000.parquet": 0,
        "ev-00001-due1100.parquet": 1,
        "ev-00002-due1200.parquet": 1,
        "ev-00003-due1300.parquet": 2,
    }
    due = {name: int(name.split("due")[1].split(".")[0]) for name in fb}
    due["ev-00004-due1400.parquet"] = 1400  # generated, never taken
    lat = layers.file_latencies(due, fb, {0: 1500.0, 1: 2500.0})
    assert lat == {
        "ev-00000-due1000.parquet": 500.0,
        "ev-00001-due1100.parquet": 1400.0,
        "ev-00002-due1200.parquet": 1300.0,
        "ev-00003-due1300.parquet": None,  # its epoch never finished
        "ev-00004-due1400.parquet": None,
    }


def test_proc_sampler_counts_reaped_workers():
    """A daemon that forks a CPU-burning worker and reaps it still shows
    the worker's CPU time, as the PySpark daemon does."""
    code = textwrap.dedent(
        """
        import os, sys, time
        pid = os.fork()
        if pid == 0:
            t = time.process_time()
            while time.process_time() - t < 0.6:
                pass
            os._exit(0)
        os.waitpid(pid, 0)
        print("reaped", flush=True)
        time.sleep(30)
        """
    )
    daemon = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert daemon.stdout.readline().strip() == "reaped"
        assert procfs.descendants(daemon.pid) == [daemon.pid]  # worker is gone
        assert procfs.cpu_s(daemon.pid) >= 0.5
        assert procfs.python_cpu_s(os.getpid()) >= procfs.cpu_s(daemon.pid)
        assert procfs.tree_rss_mb(daemon.pid) > 1
        assert procfs.tree_rss_mb(daemon.pid, skip="reaped") == 0
        sh = subprocess.Popen(["sleep", "30"])  # not Python or Java: not counted
        try:
            # just after exec the new image has no resident pages yet
            deadline = time.monotonic() + 10
            while procfs.rss_mb(sh.pid) == 0 and time.monotonic() < deadline:
                time.sleep(0.05)
            assert procfs.rss_mb(sh.pid) > 0 and procfs.tree_rss_mb(sh.pid) == 0
        finally:
            sh.kill()
            sh.wait(timeout=10)
        with procfs.PeakRss(daemon.pid, interval_s=0.01) as peak:
            time.sleep(0.05)
        assert peak.peak_mb > 1
    finally:
        daemon.kill()
        daemon.wait(timeout=10)


def test_self_time_subtracts_children():
    tr = Tracer("t", enabled=True)
    tr.add("pass", 0.0, 10.0, None)
    tr.add("query", 1.0, 4.0, 0)
    tr.add("query", 3.0, 6.0, 0)  # overlaps the first
    st = self_times(tr.spans)
    assert st["pass"] == pytest.approx(5.0)
    assert st["query"] == pytest.approx(6.0)
    off = Tracer("t", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_row_compare_catches_a_corrupted_cell():
    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    assert checks.compare_rows(rows, ["k", "s", "v"], list(reversed(rows)), ["k", "s", "v"]) is None
    bad = [(1, "a", 0.5), (2, "b", 1.26)]
    assert "cell" in checks.compare_rows(bad, ["k", "s", "v"], rows, ["k", "s", "v"])
    assert "rows" in checks.compare_rows(rows[:1], ["k", "s", "v"], rows, ["k", "s", "v"])


def test_compacted_view_check(tmp_path):
    import gen

    files = []
    for i in range(3):
        path = tmp_path / gen.tick_file_name(i, 1000 + i)
        gen._write(gen.tick_events(5, i, 50, 20, 0.2), str(path))
        files.append(str(path))
    want = checks.latest_per_key(files)
    ev = pd.concat([pd.read_parquet(f) for f in files])
    assert ev["timestamp"].is_unique
    # every key's newest event decides: live keys carry it, tombstoned keys vanish
    newest = ev.sort_values("timestamp").groupby("user_id").tail(1)
    assert set(want["user_id"]) == set(newest.loc[newest["payload"].notna(), "user_id"])
    assert checks.check_view(want.copy(), want) is None
    stale = want.copy()
    stale.iloc[0, stale.columns.get_loc("payload")] = "stale"
    assert checks.check_view(stale, want) is not None
    assert checks.check_view(want.iloc[1:], want) is not None


def test_neardup_replay_and_check():
    bk = pd.DataFrame(
        [  # doc 1 shares a key with doc 0 in its epoch; doc 3 hits epoch 0's key
            (0, 0, "x"), (1, 0, "x"), (2, 0, "y"), (3, 1, "z"), (3, 0, "y"), (4, 0, "w"),
        ],
        columns=["doc_id", "band", "bh"],
    )
    doc_batch = {0: 0, 1: 0, 2: 0, 3: 1, 4: 1}
    assert checks.neardup_admitted(bk, doc_batch) == {0, 2, 4}
    assert checks.check_neardup({0, 2, 4}, {0, 2, 4}, {1: 0}) is None
    assert "exact duplicates" in checks.check_neardup({0, 1, 2, 4}, {0, 2, 4}, {1: 0})
    assert "differs" in checks.check_neardup({0, 2}, {0, 2, 4}, {})


def test_generated_corpus_plants_exact_duplicates(tmp_path):
    import gen

    info = gen.write_corpus(str(tmp_path), 3, 4, 50, 0.1, 0.05)
    docs = pd.concat(
        [pd.read_parquet(tmp_path / f"docs-{f:04d}.parquet") for f in range(4)]
    ).set_index("doc_id")["text"]
    assert info["n_docs"] == 200 and info["exact_dups"]
    for dup, orig in info["exact_dups"].items():
        assert orig < dup and docs[dup] == docs[orig]
    mtimes = [os.path.getmtime(tmp_path / f"docs-{f:04d}.parquet") for f in range(4)]
    assert mtimes == sorted(mtimes)


def test_benchmark_json_matches_the_metrics_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == spec.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
