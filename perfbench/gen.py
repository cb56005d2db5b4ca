"""Seeded input generators for the benchmark workloads.

Everything the engine reads is made here from the run's seed, inside the
run's work directory: the engine sees only the generated files. This
module imports no Spark, so the orchestrator can use it before the
measured process starts, and the stream generator runs as its own
single-threaded process (``python3 perfbench/gen.py ticker ...``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line data table agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "en", "en", "en", "de", "fr", "es", "zh")


def _write(table: pa.Table, path: str) -> None:
    """Write a parquet file atomically: readers never see a partial file
    (names starting with '.' are hidden from Spark's file listing)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB, size=int(rng.integers(lo, hi))))


# -- batch catalog tables -------------------------------------------------


def write_catalog(out_dir: str, seed: int, n_orders: int, n_docs: int) -> None:
    """TPC-H-shaped ``customer``/``orders``/``lineitem`` plus the
    ``documents``/``embeddings`` tables the batch mix reads, with the
    column types and value ranges of the catalog's own test tables."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    day0 = np.datetime64("1995-01-01", "us")
    one_day = np.timedelta64(86_400_000_000, "us")

    n_cust = max(10, n_orders // 10)
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                ),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )

    odate = day0 + rng.integers(0, 2404, n_orders) * one_day
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
                "o_orderdate": pa.array(odate, pa.timestamp("us")),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_orders,
                ),
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )

    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(okey, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, 200, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, 10, n_li), pa.int64()),
                "l_linenumber": pa.array(linenumber, pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(float),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": pa.array(
                    odate[okey] + rng.integers(1, 122, n_li) * one_day,
                    pa.timestamp("us"),
                ),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )

    texts = [_words(rng, 10, 100) for _ in range(n_docs)]
    # ~5% near-duplicates of earlier documents, marked the way the
    # catalog's test corpus marks them (a trailing 'dup' token)
    for i in range(1, n_docs):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": texts,
                "lang": rng.choice(LANGS, n_docs),
                "source": [f"src{int(s)}" for s in rng.integers(0, 20, n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    emb = rng.normal(0.0, 0.15, (n_docs, 64)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_docs), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


# -- stream_upsert: keyed events, one file per tick -----------------------

# the registered ``user_event`` schema (local_stream_stack_spark.schemas)
EVENT_SCHEMA = pa.schema(
    [
        ("user_id", pa.int32()),
        ("event_type", pa.string()),
        ("timestamp", pa.int64()),
        ("payload", pa.string()),
    ]
)
EVENT_TYPES = ("view", "click", "purchase", "signup")


def tick_events(
    seed: int, tick: int, n_events: int, n_keys: int, tombstone_frac: float
) -> pa.Table:
    """The events of one tick: Zipf-distributed keys, a fixed share of
    tombstones (null payload), strictly increasing ``timestamp`` so the
    latest record per key is unambiguous."""
    rng = np.random.default_rng([seed, tick])
    keys = (rng.zipf(1.3, n_events * 2) - 1)
    keys = keys[keys < n_keys][:n_events]
    while len(keys) < n_events:  # the Zipf tail was cut; top up uniformly
        keys = np.concatenate([keys, rng.integers(0, n_keys, n_events - len(keys))])
    tomb = rng.random(n_events) < tombstone_frac
    vals = rng.integers(0, 1_000_000, n_events)
    return pa.table(
        {
            "user_id": pa.array(keys, pa.int32()),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "timestamp": pa.array(tick * 1_000_000 + np.arange(n_events), pa.int64()),
            "payload": [
                None if t else json.dumps({"v": int(v)}) for t, v in zip(tomb, vals)
            ],
        },
        schema=EVENT_SCHEMA,
    )


def tick_file_name(tick: int, due_ms: int) -> str:
    return f"ev-{tick:05d}-due{due_ms}.parquet"


def run_ticker(
    out_dir: str,
    seed: int,
    start_ms: int,
    tick_ms: int,
    n_ticks: int,
    n_events: int,
    n_keys: int,
    tombstone_frac: float,
    log_path: str,
) -> None:
    """Open-loop generator: tick ``i`` is due at ``start_ms + i*tick_ms``
    and writes its file then, however far the engine has fallen behind.
    Each tick's (due, written) times go to ``log_path`` at exit."""
    os.makedirs(out_dir, exist_ok=True)
    log = []
    for i in range(n_ticks):
        due = start_ms + i * tick_ms
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        t = tick_events(seed, i, n_events, n_keys, tombstone_frac)
        _write(t, os.path.join(out_dir, tick_file_name(i, due)))
        log.append((i, due, int(time.time() * 1000)))
    with open(log_path, "w") as f:
        json.dump(log, f)


# -- stream_neardup_tws: a fixed document backlog -------------------------


def write_corpus(
    out_dir: str,
    seed: int,
    n_files: int,
    docs_per_file: int,
    exact_frac: float,
    near_frac: float,
    id_base: int = 0,
) -> dict:
    """A document backlog of ``n_files`` parquet files with a fixed share
    of exact duplicates (same text as an earlier document) and near
    duplicates (an earlier text with one word replaced). File
    modification times increase with the file index, so the stream
    source takes the files in index order. Returns the ids of the exact
    duplicates and of their originals."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, id_base])
    texts: list[str] = []
    exact: dict[int, int] = {}
    t0 = time.time() - n_files - 10
    for f in range(n_files):
        ids, out = [], []
        for _ in range(docs_per_file):
            doc_id = id_base + len(texts)
            r = rng.random()
            if texts and r < exact_frac:
                src = int(rng.integers(0, len(texts)))
                text = texts[src]
                exact[doc_id] = id_base + src
            elif texts and r < exact_frac + near_frac:
                words = texts[int(rng.integers(0, len(texts)))].split()
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
                text = " ".join(words)
            else:
                text = _words(rng, 12, 60)
            texts.append(text)
            ids.append(doc_id)
            out.append(text)
        path = os.path.join(out_dir, f"docs-{f:04d}.parquet")
        _write(
            pa.table(
                {"doc_id": pa.array(ids, pa.int64()), "text": out}
            ),
            path,
        )
        os.utime(path, (t0 + f, t0 + f))
    return {"exact_dups": exact, "n_docs": len(texts)}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("ticker", help="run the stream_upsert generator")
    for name in ("out", "log"):
        t.add_argument(f"--{name}", required=True)
    for name in ("seed", "start-ms", "tick-ms", "ticks", "events", "keys"):
        t.add_argument(f"--{name}", type=int, required=True)
    t.add_argument("--tombstone-frac", type=float, required=True)
    a = ap.parse_args(argv)
    run_ticker(
        a.out, a.seed, a.start_ms, a.tick_ms, a.ticks, a.events, a.keys,
        a.tombstone_frac, a.log,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
