"""Benchmark of the local_stream_stack_spark engine: batch queries and
streaming pipelines, end to end and layer by layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_catalog --seed 1 --seconds 20 --trace 0

``--workload all`` runs every workload, each in its own process. The
last line of standard output is one JSON object, ``{"correct",
"attempted", "failed", "metrics"}``; with ``--trace 0`` the metrics are
the end-to-end ones, with ``--trace 1`` the per-layer ones. The full
result of every run, spans and self times included, goes to
``.perfbench/results/``. See ``perfbench/NOTES.md`` for what each
workload and metric means.

This file imports no Spark: it generates the inputs from the seed,
starts the measured process (``worker.py``) on ``local[nproc]``,
samples that process tree's memory from ``/proc``, and stops every
process the run started before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procfs  # noqa: E402
import spec  # noqa: E402

WORKER_TIMEOUT_S = 170


def make_inputs(workload: str, seed: int, work: str) -> None:
    """Write the workload's inputs from the seed (not timed)."""
    if workload == "batch_catalog":
        gen.write_catalog(
            os.path.join(work, "tables"), seed, spec.BATCH_ORDERS, spec.BATCH_DOCS
        )
    elif workload == "stream_neardup_tws":
        for name, n_files, base in (
            ("warm", spec.NEARDUP_WARM_FILES, 10_000_000),
            ("backlog", spec.NEARDUP_FILES, 0),
        ):
            info = gen.write_corpus(
                os.path.join(work, name, "in"), seed, n_files,
                spec.NEARDUP_DOCS_PER_FILE, spec.NEARDUP_EXACT, spec.NEARDUP_NEAR,
                id_base=base,
            )
            with open(os.path.join(work, name, "corpus.json"), "w") as f:
                json.dump(info, f)


def _kill_group(pgid: int) -> None:
    """SIGKILL whatever is left in the worker's process group (the JVM,
    PySpark daemons, the stream generator) and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_one(a: argparse.Namespace) -> dict:
    """Generate inputs, run the workload in a fresh process, and return
    the result line (plus the full record, written to results/)."""
    work = os.path.join(ROOT, ".perfbench", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    make_inputs(a.workload, a.seed, work)

    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--workdir", work, "--out", out]
    env["PERFBENCH_T0"] = repr(time.monotonic())
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
    try:
        with procfs.PeakRss(p.pid, skip="gen.py") as rss:
            code = p.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _kill_group(p.pid)
        p.wait()

    doc = {}
    if os.path.exists(out):
        with open(out) as f:
            doc = json.load(f)
    if code != 0 or doc.get("error"):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(
            f"{a.workload}: worker {'timed out' if code is None else f'exited {code}'}"
            f": {doc.get('error')}"
        )

    attempted, failed = doc["attempted"], len(doc["failures"])
    e2e = dict(doc["e2e"], peak_rss_mb=rss.peak_mb)
    table, values = (spec.PER_LAYER, doc["per_layer"]) if a.trace else (spec.END_TO_END, e2e)
    metrics = {k: {"value": values[k], "unit": u} for k, (u, _) in table.items()}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "failures": doc["failures"],
        "e2e": e2e, "per_layer": doc["per_layer"], "extra": doc["extra"],
        "self_times_s": doc["self_times_s"],
    }
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}")
    if a.trace:
        record["spans"] = doc["spans"]
        untraced = f"{stem}-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            record["trace_overhead"] = {k: e2e[k] - base[k] for k in base if k in e2e}
    with open(f"{stem}-trace{a.trace}.json", "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for line in doc["failures"]:
        print(f"FAILED {a.workload}: {line}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=(*spec.ALL_WORKLOADS, "all"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "local_stream_stack_spark", "__init__.py")):
        print(f"no local_stream_stack_spark package under {ROOT}", file=sys.stderr)
        return 2
    if a.workload != "all":
        line = run_one(a)
        print(json.dumps(line))
        return 0 if line["correct"] else 1
    # every workload in its own process, one result line each, then the sum
    lines = []
    for w in spec.ALL_WORKLOADS:
        p = subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        print(f"{w} {last}")
        lines.append((w, json.loads(last) if last.startswith("{") else {}))
    ok = all(line.get("correct") for _, line in lines)
    print(json.dumps({
        "correct": ok,
        "attempted": sum(line.get("attempted", 0) for _, line in lines),
        "failed": sum(line.get("failed", 0) for _, line in lines),
        "metrics": {f"{w}/{k}": v for w, line in lines
                    for k, v in line.get("metrics", {}).items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
