"""The measured process: one workload in a fresh interpreter.

``run.py`` starts this file with the inputs already generated and the
process start time (monotonic clock, shared by all processes) in
``PERFBENCH_T0``. It writes one JSON document to ``--out``; the
orchestrator turns it into the benchmark's result line. Spark and the
engine are imported inside the workload functions, so their import
time counts towards ``setup_s``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import layers  # noqa: E402
import procfs  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

from spec import (  # noqa: E402
    BATCH_MIN_PASSES,
    BATCH_WARM_PASSES,
    CATALOG_TABLES,
    MIX,
    NEARDUP_DOCS_PER_FILE,
    NEARDUP_FILES,
    NEARDUP_FILES_PER_TRIGGER,
    PER_LAYER,
    UPSERT_EVENTS,
    UPSERT_KEYS,
    UPSERT_TICK_MS,
    UPSERT_TOMBSTONES,
    UPSERT_WARM_S,
)


def pct(xs, q: float) -> float:
    """Nearest-rank-interpolated percentile of a non-empty list."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(xs) -> float:
    """Geometric mean of a non-empty list of positive numbers."""
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def trend_ratio(series: list[float]) -> float:
    """Median of the second half over that of the first half: above 1
    the run slowed down, below 1 it was still warming up."""
    h = len(series) // 2
    if h == 0:
        return 1.0
    return statistics.median(series[-h:]) / statistics.median(series[:h])


class Run:
    """State shared by the workload functions: arguments, tracer,
    operation counts and the readings that become metrics."""

    def __init__(self, a: argparse.Namespace):
        self.a = a
        self.t0 = float(os.environ["PERFBENCH_T0"])
        self.wall_offset = time.time() - time.monotonic()
        self.tr = Tracer(f"{a.workload}-{a.seed}", bool(a.trace))
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer = {k: 0.0 for k in PER_LAYER}
        self.extra: dict = {}
        self.spark = None

    def op(self, name: str, error: str | None) -> None:
        """Count one operation (a query, file or epoch check)."""
        self.attempted += 1
        if error is not None:
            self.failures.append(f"{name}: {error}")

    def session(self):
        """Import the engine and start its session; both count as set-up."""
        with self.tr.span("session.import"):
            from local_stream_stack_spark.session import get_spark
        t = time.monotonic()
        with self.tr.span("session.get_spark"):
            # bench-only heap, set the way bench.py sets it; everything
            # else is the engine's own session configuration
            self.spark = get_spark(
                app_name=f"perfbench-{self.a.workload}",
                extra_conf={
                    "spark.driver.memory": "1g",
                    # keep the JVM's temporary files in the run directory
                    # (no hsperfdata file under /tmp)
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                },
            )
        self.layer["session.get_spark_s"] = time.monotonic() - t
        self.jvm_pid = procfs.java_child(os.getpid())
        return self.spark

    def mono(self, wall_ms: float) -> float:
        """A wall-clock time in epoch ms (progress events, the generator's
        log) on the monotonic clock the spans use."""
        return wall_ms / 1e3 - self.wall_offset

    def epoch_spans(self, rows: list[dict], parent: dict | None) -> None:
        """One span per epoch, from its progress event."""
        for e in rows:
            self.tr.add("epoch", self.mono(e["start_ms"]), self.mono(e["end_ms"]),
                        parent["id"] if parent else None, batch=e["batch"])

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.monotonic() - self.t0

    def window(self):
        """Readings at the start of a timed window; ``close_window`` turns
        them into per-window (or, with ``per``, per-pass) deltas."""
        return (
            layers.jvm_counters(self.spark),
            procfs.python_cpu_s(self.jvm_pid) if self.jvm_pid else 0.0,
        )

    def close_window(self, start, per: int = 1) -> None:
        jvm0, py0 = start
        d = layers.counter_delta(jvm0, layers.jvm_counters(self.spark))
        for k, v in d.items():
            self.layer[f"session.{k}"] = v / per
        if self.jvm_pid:
            self.layer["operators.pyworker_cpu_s"] = (
                procfs.python_cpu_s(self.jvm_pid) - py0
            ) / per
        self.extra["jvm_window"] = d


# -- batch_catalog --------------------------------------------------------


def batch_catalog(r: Run) -> None:
    """Closed loop, one client: passes over the fixed query mix, in an
    order the seed permutes, written to the noop sink."""
    with r.tr.span("session.import"):
        from local_stream_stack_spark.queries import QUERIES
    spark = r.session()
    r.setup_done()
    tables = os.path.join(r.a.workdir, "tables")
    rng = random.Random(r.a.seed)
    timers = _pipeline_timers() if r.a.trace else None

    # untimed warm-up: a pass of the same mix, collected and checked,
    # then passes exactly as timed
    con = checks.duckdb_catalog(tables, CATALOG_TABLES)
    with r.tr.span("warmup"):
        for name in rng.sample(MIX, len(MIX)):
            with r.tr.span("check", query=name):
                try:
                    df = QUERIES[name].fn(spark, tables)
                    err = checks.check_query(
                        con, QUERIES[name].oracle, [tuple(x) for x in df.collect()],
                        df.columns,
                    )
                except Exception as e:  # a failing query is a failed op
                    err = f"{type(e).__name__}: {str(e)[:200]}"
            r.op(f"check {name}", err)
        for _ in range(BATCH_WARM_PASSES - 1):
            for name in rng.sample(MIX, len(MIX)):
                QUERIES[name].fn(spark, tables).write.format("noop").mode("overwrite").save()
    con.close()

    sc = spark.sparkContext
    samples: dict[str, list[float]] = {q: [] for q in MIX}
    pass_s: list[float] = []
    acc = {k: 0.0 for k in ("jobs", "stages", "fn_s", "task_run_s", "task_cpu_s",
                            "shuffle_write_mb", "shuffle_read_mb")}
    jobs_per_query: dict[str, list[int]] = {q: [] for q in MIX}
    win = r.window()
    if timers:
        timers.update(build=0.0, dataframe=0.0)
    t_start = time.monotonic()
    with r.tr.span("timed"):
        while True:
            p = len(pass_s)
            tp = time.monotonic()
            with r.tr.span("pass", index=p):
                for name in rng.sample(MIX, len(MIX)):
                    group = f"perfbench-{name}-{p}"
                    if r.a.trace:
                        sc.setJobGroup(group, name)
                    err = None
                    t0 = time.monotonic()
                    try:
                        with r.tr.span("query", query=name):
                            with r.tr.span("query.fn", query=name):
                                df = QUERIES[name].fn(spark, tables)
                            t1 = time.monotonic()
                            with r.tr.span("query.action", query=name):
                                df.write.format("noop").mode("overwrite").save()
                    except Exception as e:
                        err = f"{type(e).__name__}: {str(e)[:200]}"
                        t1 = time.monotonic()
                    t2 = time.monotonic()
                    r.op(f"{name} pass {p}", err)
                    samples[name].append(t2 - t0)
                    if r.a.trace:
                        jobs, stages = layers.group_jobs(spark, group)
                        tot = layers.stage_totals(spark, stages)
                        jobs_per_query[name].append(len(jobs))
                        acc["jobs"] += len(jobs)
                        acc["stages"] += len(stages)
                        acc["fn_s"] += t1 - t0
                        acc["task_run_s"] += tot["run_s"]
                        acc["task_cpu_s"] += tot["cpu_s"]
                        acc["shuffle_write_mb"] += tot["shuffle_write_mb"]
                        acc["shuffle_read_mb"] += tot["shuffle_read_mb"]
            pass_s.append(time.monotonic() - tp)
            if len(pass_s) >= BATCH_MIN_PASSES and time.monotonic() - t_start >= r.a.seconds:
                break
    n = len(pass_s)
    r.close_window(win, per=n)

    lat = [x * 1e3 for q in MIX for x in samples[q]]
    med = {q: statistics.median(samples[q]) for q in MIX}
    r.e2e["latency_ms_p50"] = pct(lat, 0.5)
    r.e2e["latency_ms_geomean"] = geomean(med.values()) * 1e3
    r.e2e["throughput_per_s"] = len(MIX) / statistics.median(pass_s)
    r.extra.update(
        passes=n,
        pass_s=statistics.median(pass_s),
        pass_s_all=pass_s,
        query_s_geomean=r.e2e["latency_ms_geomean"] / 1e3,
        query_s_median=med,
        latency_ms_p90=pct(lat, 0.9),
    )
    r.layer["run.trend_ratio"] = trend_ratio(pass_s)
    if r.a.trace:
        for k, v in acc.items():
            r.layer[f"queries.{k}"] = v / n
        r.layer["queries.par"] = acc["task_run_s"] / sum(pass_s)
        for q in MIX:
            r.layer[f"queries.{q}.s"] = med[q]
            r.layer[f"queries.{q}.jobs"] = statistics.median(jobs_per_query[q])
        r.extra["jobs_per_query"] = jobs_per_query
        r.layer["pipeline.build_s"] = timers["build"] / n
        r.layer["pipeline.dataframe_s"] = timers["dataframe"] / n


def _pipeline_timers() -> dict[str, float]:
    """Time every call into ``Pipeline.build``/``Pipeline.dataframe``
    (traced runs only): the batch mix reaches the declarative pipeline
    from inside ``curation_pipeline_yaml``."""
    from local_stream_stack_spark.pipeline import Pipeline

    acc = {"build": 0.0, "dataframe": 0.0}

    def timed(key, fn):
        def call(*args, **kwargs):
            t = time.monotonic()
            try:
                return fn(*args, **kwargs)
            finally:
                acc[key] += time.monotonic() - t

        return call

    Pipeline.build = timed("build", Pipeline.build)
    Pipeline.dataframe = timed("dataframe", Pipeline.dataframe)
    return acc


# -- stream_upsert --------------------------------------------------------


def stream_upsert(r: Run) -> None:
    """Open loop at a fixed rate: a separate generator process writes
    one keyed-event file per tick into a directory that a ``Pipeline``
    streams into the compacted (latest-per-key) parquet view."""
    import gen

    with r.tr.span("session.import"):
        from local_stream_stack_spark.pipeline import Pipeline
        from local_stream_stack_spark.streaming.ops import (
            latest_per_key_stream_parquet,
            read_compacted_view,
        )
    spark = r.session()
    progress = layers.ProgressLog()
    spark.streams.addListener(progress)
    in_dir = os.path.join(r.a.workdir, "events")
    view = os.path.join(r.a.workdir, "view")
    cp = os.path.join(r.a.workdir, "cp")
    os.makedirs(in_dir)
    cfg = {
        "name": "perfbench-upsert",
        "source": {"type": "parquet", "path": in_dir, "schema": "user_event"},
        "processors": [
            {"name": "filter", "params": {"predicate": "user_id IS NOT NULL"}},
            {"name": "select",
             "params": {"columns": ["user_id", "event_type", "timestamp", "payload"]}},
        ],
        "sink": {"type": "noop"},
    }
    t = time.monotonic()
    with r.tr.span("pipeline.build"):
        pipe = Pipeline(spark, cfg).build()
    r.layer["pipeline.build_s"] = time.monotonic() - t
    t = time.monotonic()
    with r.tr.span("pipeline.dataframe"):
        df = pipe.dataframe()
    r.layer["pipeline.dataframe_s"] = time.monotonic() - t
    with r.tr.span("stream.start"):
        q = latest_per_key_stream_parquet(
            df, keys=["user_id"], order_col="timestamp", target_path=view,
            checkpoint_location=cp, tombstone_predicate="payload IS NULL",
        )
    r.setup_done()

    warm = UPSERT_WARM_S * 1000 // UPSERT_TICK_MS
    timed = r.a.seconds * 1000 // UPSERT_TICK_MS
    start_ms = int(time.time() * 1000) + 1000
    tick_log = os.path.join(r.a.workdir, "ticks.json")
    genp = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "ticker",
         "--out", in_dir, "--log", tick_log, "--seed", str(r.a.seed),
         "--start-ms", str(start_ms), "--tick-ms", str(UPSERT_TICK_MS),
         "--ticks", str(warm + timed), "--events", str(UPSERT_EVENTS),
         "--keys", str(UPSERT_KEYS), "--tombstone-frac", str(UPSERT_TOMBSTONES)],
    )
    window_start_ms = start_ms + warm * UPSERT_TICK_MS
    # readings for the timed window start when its first tick is due
    time.sleep(max(0.0, window_start_ms / 1000 - time.time()))
    win = r.window()
    with r.tr.span("timed") as timed_span:
        if genp.wait(timeout=r.a.seconds + UPSERT_WARM_S + 60) != 0:
            raise RuntimeError("stream generator failed")
        q.processAllAvailable()
        progress.wait_for(q)
    r.close_window(win)
    q.stop()

    with open(tick_log) as f:
        ticks = json.load(f)
    file_batch = layers.source_file_batches(cp)
    epochs = {e["batch"]: e for e in layers.epoch_rows(progress.events())}
    due = {gen.tick_file_name(i, d): d for i, d, _ in ticks}
    lat = layers.file_latencies(due, file_batch, {b: e["end_ms"] for b, e in epochs.items()})
    fresh, timed_batches, late = [], set(), []
    for i, d, written in ticks:
        name = gen.tick_file_name(i, d)
        r.op(f"file {i}", None if lat[name] is not None else "never committed")
        if i >= warm and lat[name] is not None:
            fresh.append(lat[name])
            timed_batches.add(file_batch[name])
            late.append(written - d)
    rows = [epochs[b] for b in sorted(timed_batches)]
    r.layer.update(layers.streaming_metrics(rows))
    r.layer["sources.lag_files_max"] = layers.lag_files_max(due, file_batch, rows)
    n, mb = layers.tree_size(view)
    r.layer["streaming.store_files"], r.layer["streaming.store_mb"] = float(n), mb
    r.layer["run.trend_ratio"] = trend_ratio([e["epoch_ms"] for e in rows])
    r.epoch_spans(rows, timed_span)
    for i, d, written in ticks:
        r.tr.add("tick", r.mono(d), r.mono(written), None, tick=i)

    r.e2e["latency_ms_p50"] = pct(fresh, 0.5)
    r.e2e["latency_ms_geomean"] = geomean(fresh)
    span_s = (max(epochs[b]["end_ms"] for b in timed_batches) - window_start_ms) / 1e3
    r.e2e["throughput_per_s"] = len(fresh) * UPSERT_EVENTS / span_s
    r.extra.update(
        freshness_ms_p50=r.e2e["latency_ms_p50"],
        freshness_ms_p90=pct(fresh, 0.9),
        generator_late_ms_max=max(late),
        timed_files=len(fresh),
        epoch_ms=[e["epoch_ms"] for e in rows],
    )

    with r.tr.span("check"):
        got = read_compacted_view(spark, view).toPandas()
        want = checks.latest_per_key(
            [os.path.join(in_dir, name) for name in due]
        )
        r.op("compacted view", checks.check_view(got, want))


# -- stream_neardup_tws ---------------------------------------------------


def stream_neardup_tws(r: Run) -> None:
    """Backlog drain: a fixed set of document files with exact and near
    duplicates, drained by the transformWithState near-dup ingest on the
    RocksDB state store at a fixed ``maxFilesPerTrigger``."""
    with r.tr.span("session.import"):
        from local_stream_stack_spark.session import configure_for_oracle
        from local_stream_stack_spark.streaming.ops import (
            ingest_neardup_stream_tws,
            read_neardup_tws_store,
        )
    spark = r.session()
    configure_for_oracle(spark)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    progress = layers.ProgressLog()
    spark.streams.addListener(progress)
    r.setup_done()

    def drain(name: str):
        base = os.path.join(r.a.workdir, name)
        t = time.time()
        q = ingest_neardup_stream_tws(
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", str(NEARDUP_FILES_PER_TRIGGER))
            .parquet(os.path.join(base, "in")),
            id_col="doc_id", text_col="text", order_col="doc_id",
            store_path=os.path.join(base, "store"),
            checkpoint_location=os.path.join(base, "cp"),
        )
        try:
            q.processAllAvailable()
            progress.wait_for(q)
        finally:
            q.stop()
        return t * 1000, [
            e for e in layers.epoch_rows(progress.events())
            if e["start_ms"] >= t * 1000
        ]

    with r.tr.span("warmup"):
        drain("warm")
    win = r.window()
    with r.tr.span("timed") as timed_span:
        start_ms, rows = drain("backlog")
    r.close_window(win)

    base = os.path.join(r.a.workdir, "backlog")
    cp = os.path.join(base, "cp")
    file_batch = layers.source_file_batches(cp)
    names = [f"docs-{f:04d}.parquet" for f in range(NEARDUP_FILES)]
    # a backlog: every file is due when the stream starts
    due = dict.fromkeys(names, start_ms)
    lat = layers.file_latencies(due, file_batch, {e["batch"]: e["end_ms"] for e in rows})
    for name in names:
        r.op(name, None if lat[name] is not None else "never committed")
    lat = [v for v in lat.values() if v is not None]
    r.layer.update(layers.streaming_metrics(rows))
    r.layer["sources.lag_files_max"] = layers.lag_files_max(due, file_batch, rows)
    n, mb = layers.tree_size(os.path.join(base, "store"))
    r.layer["streaming.store_files"], r.layer["streaming.store_mb"] = float(n), mb
    r.layer["run.trend_ratio"] = trend_ratio([e["epoch_ms"] for e in rows])
    r.epoch_spans(rows, timed_span)

    n_docs = NEARDUP_FILES * NEARDUP_DOCS_PER_FILE
    drain_s = (max(e["end_ms"] for e in rows) - start_ms) / 1e3
    r.e2e["latency_ms_p50"] = pct(lat, 0.5)
    r.e2e["latency_ms_geomean"] = geomean(lat)
    r.e2e["throughput_per_s"] = n_docs / drain_s
    r.extra.update(drain_events_per_s=n_docs / drain_s, drain_s=drain_s,
                   latency_ms_p90=pct(lat, 0.9),
                   epoch_ms=[e["epoch_ms"] for e in rows])

    if any(file_batch.get(name) is None for name in names):
        return  # already counted as failed files; there is no set to check
    with r.tr.span("check"):
        with open(os.path.join(base, "corpus.json")) as f:
            exact = {int(k): v for k, v in json.load(f)["exact_dups"].items()}
        admitted = {
            int(x[0]) for x in read_neardup_tws_store(spark, os.path.join(base, "store"))
            .select("doc_id").collect()
        }
        doc_batch = {
            d: file_batch[f"docs-{d // NEARDUP_DOCS_PER_FILE:04d}.parquet"]
            for d in range(n_docs)
        }
        want = checks.neardup_admitted(
            _band_keys(os.path.join(base, "in")), doc_batch
        )
        r.op("admitted set", checks.check_neardup(admitted, want, exact))


def _band_keys(in_dir: str):
    """(doc_id, band, bh) of every document, from the repository's DuckDB
    replay of the portable MinHash band keys the operator computes."""
    from local_stream_stack_spark.queries.llm import _minhash_bandkey_cte_sql

    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM '{in_dir}/*.parquet'")
    cte = _minhash_bandkey_cte_sql(32, 3, 4, source="corpus")
    out = con.sql(f"WITH {cte} SELECT doc_id, band, bh FROM bandkey").df()
    con.close()
    return out


WORKLOADS = {
    "batch_catalog": batch_catalog,
    "stream_upsert": stream_upsert,
    "stream_neardup_tws": stream_neardup_tws,
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    r = Run(a)
    error = None
    try:
        with r.tr.span("run", workload=a.workload):
            WORKLOADS[a.workload](r)
    except Exception as e:  # reported, then the run counts as failed
        import traceback

        traceback.print_exc()
        error = f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        if r.spark is not None:
            r.spark.stop()
    doc = {
        "error": error,
        "attempted": r.attempted,
        "failures": r.failures,
        "e2e": r.e2e,
        "per_layer": r.layer,
        "extra": r.extra,
        "self_times_s": self_times(r.tr.spans),
        "spans": r.tr.spans,
    }
    with open(a.out, "w") as f:
        json.dump(doc, f)
    return 0 if error is None else 1


if __name__ == "__main__":
    sys.exit(main())
