"""bench.py stdout contract (VERDICT r9 wrong #1 / task #4): the driver
parses the LAST 2,000 chars of bench stdout as one JSON line. An async
py4j stack trace from a streaming-stop race landing after the line
would void the round's bench, so bench.py quiesces (stop streams, drop
listener, spark.stop, drain) and hard-exits right after the print.

This test runs bench.py as the driver does — a real subprocess — with a
streaming entry in the measured set, and asserts stdout is EXACTLY one
parseable JSON line.
"""

from __future__ import annotations

import pytest

# soak tier (opt-in, `-m soak`): each test runs bench.py as a real subprocess JVM (~30-60 s each)
pytestmark = pytest.mark.soak

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_stdout_is_single_json_line_with_streaming_query(tmp_path):
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_BENCH_RUNS": "1",
            "SPARK_GRAFT_BENCH_QUERIES": (
                "q1_pricing_summary,stream_tumbling_counts"
            ),
            "SPARK_GRAFT_CPUS": "4",
            # do NOT clobber the repo's recorded BENCH_DETAIL.json
            "SPARK_GRAFT_BENCH_DETAIL": str(tmp_path / "detail.json"),
        }
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=ROOT,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out_lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert len(out_lines) == 1, (
        f"expected exactly one stdout line, got {len(out_lines)}:\n"
        + proc.stdout[-2000:]
    )
    # the COMBINED tail must be clean too (VERDICT r10 task #4): fd 2
    # is rerouted to a side log before the JVM launches, so no async
    # Traceback / py4j frame can crowd the JSON out of the driver's
    # captured window
    assert proc.stderr.strip() == "", (
        "stderr leaked into the captured stream:\n" + proc.stderr[-2000:]
    )
    payload = json.loads(out_lines[0])
    assert payload["metric"] == "total_headline_query_sec"
    assert "q1_pricing_summary" in payload["queries"]
    assert "worst5_vs_gate_v3" in payload
    # the streaming entry ran (it's in the headline tier)
    assert "stream_tumbling_counts" in payload["queries"]


def test_bench_streaming_detail_for_non_stream_prefixed_entry(tmp_path, sf_dir):
    """An entry runs a live stream whatever its name: ``pyds_stream_agg``
    (a Python DataSource stream) gets its per-batch detail because the
    run's listener saw its query start, not because of a name prefix."""
    detail_path = tmp_path / "detail.json"
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": sf_dir,
            "SPARK_GRAFT_BENCH_RUNS": "1",
            "SPARK_GRAFT_BENCH_QUERIES": "pyds_stream_agg",
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_GRAFT_BENCH_DETAIL": str(detail_path),
        }
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=ROOT,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    entry = json.load(open(detail_path))["queries_streaming_detail"][
        "pyds_stream_agg"
    ]
    # 50k rows served in 10k-row micro-batches
    assert entry["batches"] >= 5, entry
    assert entry["batch_ms_sum"] > 0


def test_subset_bench_never_clobbers_full_detail_artifact():
    """VERDICT r11 #3: a subset run (SPARK_GRAFT_BENCH_QUERIES set,
    no explicit detail path) writes BENCH_DETAIL.partial.json and
    leaves the full-run BENCH_DETAIL.json artifact untouched. The
    retry pass is exercised in the same subprocess (retry thresholds
    forced to zero so every measured entry is a candidate) — the
    detail JSON records the candidates and the compact line reports
    n_retried (VERDICT r11 #2)."""
    full = os.path.join(ROOT, "BENCH_DETAIL.json")
    partial = os.path.join(ROOT, "BENCH_DETAIL.partial.json")
    before = open(full, "rb").read() if os.path.exists(full) else None
    if os.path.exists(partial):
        os.remove(partial)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_BENCH_DETAIL", None)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_BENCH_RUNS": "1",
            "SPARK_GRAFT_BENCH_QUERIES": "q1_pricing_summary,q6_forecast_revenue",
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_GRAFT_BENCH_RETRY_RATIO": "0.0001",
            "SPARK_GRAFT_BENCH_RETRY_FLOOR": "-1000",
        }
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=ROOT,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    after = open(full, "rb").read() if os.path.exists(full) else None
    assert after == before, "subset run clobbered BENCH_DETAIL.json"
    assert os.path.exists(partial), "subset run wrote no partial detail"
    detail = json.load(open(partial))
    assert set(detail["retry_candidates"]) == {
        "q1_pricing_summary",
        "q6_forecast_revenue",
    }
    payload = json.loads(
        [l for l in proc.stdout.splitlines() if l.strip()][0]
    )
    assert "n_retried" in payload
    os.remove(partial)


def test_retry_pass_converges_past_the_per_round_cap(tmp_path):
    """VERDICT r12 #2: with MORE breaches than the per-batch retry cap
    (here 22 artificial breaches vs a cap of 20), the convergence loop
    must keep iterating until every breach got a best-of-3 re-measure —
    the r12 failure mode was a single capped pass fossilizing hot
    reads on ranks 21+. Thresholds are forced to zero so every entry
    permanently 'breaches'; the loop must still terminate (no-progress
    rule) after covering all of them."""
    names = [
        "projection_cast",
        "distinct_rows",
        "topk_orders",
        "math_funcs",
        "string_funcs",
        "date_funcs",
        "json_funcs",
        "case_when_buckets",
        "set_ops",
        "join_semi",
        "filter_predicates",
        "hash_agg_stats",
        "set_ops_bag",
        "topk_per_group",
        "join_broadcast_dims",
        "rollup_revenue",
        "cube_qty",
        "window_ranking",
        "window_frames",
        "window_analytic",
        "null_semantics",
        "try_arithmetic_orders",
    ]
    assert len(names) == 22
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_BENCH_RUNS": "1",
            "SPARK_GRAFT_BENCH_QUERIES": ",".join(names),
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_GRAFT_BENCH_DETAIL": str(tmp_path / "detail.json"),
            "SPARK_GRAFT_BENCH_RETRY_RATIO": "0.0001",
            "SPARK_GRAFT_BENCH_RETRY_FLOOR": "-1000",
            "SPARK_GRAFT_BENCH_RETRY_CAP": "20",
            "SPARK_GRAFT_BENCH_RETRY_BUDGET_SEC": "600",
        }
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=ROOT,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    detail = json.load(open(tmp_path / "detail.json"))
    # every artificial breach was retried — the cap bounded each
    # BATCH, not total coverage
    assert set(detail["retry_candidates"]) == set(names)
    assert detail["retry_rounds"] >= 2
    payload = json.loads(
        [l for l in proc.stdout.splitlines() if l.strip()][0]
    )
    assert payload["retry_rounds"] == detail["retry_rounds"]
