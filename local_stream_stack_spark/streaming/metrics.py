"""Streaming observability: a StreamingQueryListener that collects
per-batch progress (the metrics surface the reference exposes only as
log lines, `streaming_pipeline.py` logger calls).

`MetricsListener` records one row per micro-batch progress event —
(query name, batch id, input rows, processed rows/sec, batch duration,
the ``addBatch`` phase, the whole ``durationMs`` phase map as
``phase_ms``, and the state operators' commit time and row count
summed over ``stateOperators[]``, 0 for a stateless query) —
into a bounded in-memory deque; `snapshot()` returns them as plain
dicts, and `to_df()` as a DataFrame for SQL over the engine's own
telemetry. At scale the same listener shape forwards to a metrics
sink (StatsD/Prometheus push) instead of memory — the listener API is
identical; only `_emit` changes.
"""

from __future__ import annotations

from collections import deque
from threading import Lock

from pyspark.sql.streaming import StreamingQueryListener


class MetricsListener(StreamingQueryListener):
    """Collects micro-batch progress rows, bounded to ``max_events``."""

    def __init__(self, max_events: int = 1000) -> None:
        self._events: deque = deque(maxlen=max_events)
        self._started = 0
        self._lock = Lock()

    # StreamingQueryListener contract
    def onQueryStarted(self, event) -> None:  # noqa: N802
        with self._lock:
            self._started += 1

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = p.stateOperators or []
        row = {
            "query_name": p.name or "",
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "rows_per_sec": float(p.processedRowsPerSecond or 0.0),
            "batch_duration_ms": int(p.batchDuration),
            "add_batch_ms": int(p.durationMs.get("addBatch", 0)),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows_total": sum(o.numRowsTotal for o in ops),
            "phase_ms": {k: int(v) for k, v in p.durationMs.items()},
        }
        with self._lock:
            self._events.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def started(self) -> int:
        """Queries started since the listener was added. Spark delivers
        the start event before ``start()`` returns, so unlike progress
        rows this count is never late."""
        with self._lock:
            return self._started

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self._events)

    def to_df(self, spark):
        rows = self.snapshot()
        schema = (
            "query_name string, query_id string, batch_id bigint, "
            "num_input_rows bigint, rows_per_sec double, "
            "batch_duration_ms bigint, add_batch_ms bigint, "
            "state_commit_ms bigint, state_rows_total bigint, "
            "phase_ms map<string,bigint>"
        )
        return spark.createDataFrame(rows, schema=schema)
