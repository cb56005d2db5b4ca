"""Per-layer readings taken from outside the engine.

Nothing here changes the program under measurement: it reads the JVM's
management beans, Spark's status tracker and status store, the streaming
progress events and the stream checkpoint, all through public or
py4j-reachable interfaces.

Task time comes from stage ``executorRunTime``/``executorCpuTime`` in the
status store. Executor ``totalDuration`` is not used: in local mode it
advances with wall-clock time even while the executor is idle.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


# -- session: JVM management beans ----------------------------------------


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative JIT compile time, loaded classes, GC time, and the
    current code-cache use of the driver JVM."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    code = sum(
        p.getUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if "Code" in p.getName()
    )
    return {
        "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
        "classes_loaded": float(mf.getClassLoadingMXBean().getTotalLoadedClassCount()),
        "codecache_mb": code / 2**20,
        "gc_ms": float(
            sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
        ),
    }


def counter_delta(before: dict, after: dict) -> dict[str, float]:
    """Counter growth between two readings; code-cache use is a level,
    so its growth is reported the same way."""
    return {k: after[k] - before[k] for k in before}


# -- queries: jobs and stages of one job group ----------------------------

_DONE = {"COMPLETE", "SKIPPED", "FAILED"}


def group_jobs(spark, group: str) -> tuple[list[int], list[int]]:
    """(job ids, stage ids) launched under ``setJobGroup(group)``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return jobs, sorted(stages)


def stage_totals(spark, stage_ids: list[int], wait_s: float = 5.0) -> dict[str, float]:
    """Summed task run time, task CPU time and shuffle bytes of the given
    stages, read from ``statusStore().stageList`` (Spark 4.1 signature:
    statuses, details, withSummaries, quantiles, taskStatus).

    Status-store updates travel on the listener bus, so a stage can
    still read as active just after its job returned: poll until every
    stage has finished or ``wait_s`` has passed."""
    out = {"run_s": 0.0, "cpu_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0}
    if not stage_ids:
        return out
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    wanted, low = set(stage_ids), min(stage_ids)
    deadline = time.monotonic() + wait_s
    while True:
        seen: dict[int, tuple] = {}
        pending = False
        stages = store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.Collections.emptyList(),
        )
        for i in range(stages.size()):  # newest stage first
            s = stages.apply(i)
            sid = s.stageId()
            if sid < low:
                break
            if sid not in wanted:
                continue
            pending |= s.status().toString() not in _DONE
            prev = seen.get(sid, (0, 0, 0, 0))
            seen[sid] = tuple(
                a + b
                for a, b in zip(
                    prev,
                    (
                        s.executorRunTime(),
                        s.executorCpuTime(),
                        s.shuffleWriteBytes(),
                        s.shuffleReadBytes(),
                    ),
                )
            )
        if not pending or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    for run_ms, cpu_ns, w, r in seen.values():
        out["run_s"] += run_ms / 1e3
        out["cpu_s"] += cpu_ns / 1e9
        out["shuffle_write_mb"] += w / 2**20
        out["shuffle_read_mb"] += r / 2**20
    return out


# -- streaming: progress events --------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event whole (phase durations, source and
    state-operator metrics), as parsed JSON."""

    def __init__(self) -> None:
        self._events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self._events.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def wait_for(self, query, timeout_s: float = 30.0) -> None:
        """Wait until the listener has received the progress event of
        ``query``'s last completed batch: events reach Python listeners
        asynchronously, after ``processAllAvailable`` has returned."""
        last = query.lastProgress
        if last is None:
            return
        want = (last["id"], last["batchId"])
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if any((e["id"], e["batchId"]) == want for e in self.events()):
                return
            time.sleep(0.05)
        raise TimeoutError(f"no progress event for batch {want[1]}")

    def events(self) -> list[dict]:
        with self._lock:
            return list(self._events)


def epoch_rows(events: list[dict]) -> list[dict]:
    """One row per data-carrying epoch: batch id, wall start/end (epoch
    ms), phase durations and summed state-operator metrics. Epochs that
    read no input (no-data batches) are left out, so the epoch count of
    a fixed backlog repeats exactly."""
    rows = []
    for p in events:
        if not p.get("numInputRows"):
            continue
        d = p.get("durationMs", {})
        start = (
            dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            * 1000.0
        )
        ops = p.get("stateOperators", [])
        rows.append(
            {
                "batch": p["batchId"],
                "rows": p["numInputRows"],
                "start_ms": start,
                "end_ms": start + d.get("triggerExecution", 0),
                "epoch_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "list_ms": d.get("latestOffset", 0) + d.get("getBatch", 0),
                "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "state_ops": len(ops),
                "state_rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
                "state_mem_mb": sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20,
                "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
                "state_update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops),
            }
        )
    rows.sort(key=lambda r: r["batch"])
    return rows


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def epoch_growth(epoch_ms: list[float]) -> float:
    """Median epoch time of the last quarter of epochs over that of the
    first quarter (1.0 when there are too few epochs to tell)."""
    q = len(epoch_ms) // 4
    if q == 0:
        return 1.0
    return median(epoch_ms[-q:]) / max(median(epoch_ms[:q]), 1e-9)


def streaming_metrics(rows: list[dict]) -> dict[str, float]:
    """The ``streaming.*`` and ``sources.list_ms_p50`` readings of a list
    of epoch rows (see ``epoch_rows``)."""
    last = rows[-1] if rows else {}
    has_state = any(r["state_ops"] for r in rows)
    return {
        "streaming.epochs": float(len(rows)),
        "streaming.epoch_ms_p50": median(r["epoch_ms"] for r in rows),
        "streaming.add_batch_ms_p50": median(r["add_batch_ms"] for r in rows),
        "streaming.commit_ms_p50": median(r["commit_ms"] for r in rows),
        "streaming.epoch_growth": epoch_growth([r["epoch_ms"] for r in rows]),
        "streaming.state_rows_total": float(last.get("state_rows_total", 0)),
        "streaming.state_mem_mb": float(last.get("state_mem_mb", 0.0)),
        "streaming.state_commit_ms_p50": (
            median(r["state_commit_ms"] for r in rows) if has_state else 0.0
        ),
        "streaming.state_update_ms_p50": (
            median(r["state_update_ms"] for r in rows) if has_state else 0.0
        ),
        "sources.list_ms_p50": median(r["list_ms"] for r in rows),
    }


# -- sources: the file stream's checkpoint log -----------------------------


def source_file_batches(checkpoint: str) -> dict[str, int]:
    """{input file name: batch id} from a file stream's checkpoint log,
    ``<checkpoint>/sources/0/<batchId>`` (and ``<batchId>.compact``
    files, which repeat every entry up to that batch). Each log file is
    a version line followed by one JSON entry per input file."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if not name.split(".")[0].isdigit() or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()[1:]
        for line in lines:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def file_latencies(
    due_ms: dict[str, float], file_batch: dict[str, int], epoch_end_ms: dict[int, float]
) -> dict[str, float | None]:
    """Per input file: from its due time to the end of the epoch that
    committed it, or None when no finished epoch took the file."""
    out: dict[str, float | None] = {}
    for name, due in due_ms.items():
        end = epoch_end_ms.get(file_batch.get(name, -1))
        out[name] = None if end is None else end - due
    return out


def lag_files_max(
    due_ms: dict[str, float], file_batch: dict[str, int], rows: list[dict]
) -> float:
    """Most input files that were already due when an epoch ended but
    that no epoch up to and including it had taken."""
    return float(max(
        (sum(1 for name, due in due_ms.items()
             if due <= e["end_ms"] and file_batch.get(name, 1 << 62) > e["batch"])
         for e in rows),
        default=0,
    ))


def tree_size(path: str) -> tuple[int, float]:
    """(files, MB) under ``path``, checksum files included."""
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size / 2**20
