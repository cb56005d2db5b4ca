"""Output checks, run outside the timed part of every run.

Each check returns ``None`` when the output is right, else a one-line
reason. A wrong output counts as a failed operation.
"""

from __future__ import annotations

import math
from datetime import date, datetime

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def _canon(v):
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def _key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-12
        )
    return a == b


def compare_rows(got, got_cols, want, want_cols) -> str | None:
    """Order-insensitive comparison on name-sorted columns, floats to a
    relative 1e-9: the same rule the repository's parity gate applies
    between Spark and its DuckDB oracle."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"

    def norm(rows, cols):
        idx = [cols.index(c) for c in sorted(cols)]
        return sorted((tuple(_canon(r[i]) for i in idx) for r in rows), key=_key)

    for g, w in zip(norm(got, got_cols), norm(want, want_cols)):
        for a, b in zip(g, w):
            if not _close(a, b):
                return f"cell {a!r} != {b!r}"
    return None


def duckdb_catalog(table_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def check_query(con, oracle_sql: str, got, got_cols) -> str | None:
    rel = con.sql(oracle_sql)
    return compare_rows(got, got_cols, rel.fetchall(), list(rel.columns))


def latest_per_key(event_files: list[str]) -> pd.DataFrame:
    """The compacted view a correct engine must hold: the latest event
    per ``user_id`` (by ``timestamp``), keys whose latest event is a
    tombstone (null payload) removed."""
    ev = pd.concat(
        [pq.read_table(f).to_pandas() for f in event_files], ignore_index=True
    )
    last = ev.loc[ev.groupby("user_id")["timestamp"].idxmax()]
    return last[last["payload"].notna()]


def check_view(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    cols = ["user_id", "event_type", "timestamp", "payload"]
    g = sorted(map(tuple, got[cols].astype(object).values.tolist()))
    w = sorted(map(tuple, want[cols].astype(object).values.tolist()))
    if len(g) != len(w):
        return f"view has {len(g)} live keys, expected {len(w)}"
    for a, b in zip(g, w):
        if a != b:
            return f"view row {a} != expected {b}"
    return None


def neardup_admitted(band_keys: pd.DataFrame, doc_batch: dict[int, int]) -> set[int]:
    """Replay of the near-dup store's seen-claims rule over band keys
    (doc_id, band, bh) and each document's epoch: a document is admitted
    unless one of its band keys was seen in an earlier epoch or is
    shared with a lower doc id in its own epoch."""
    bk = band_keys.assign(epoch=band_keys["doc_id"].map(doc_batch))
    first = bk.groupby(["band", "bh"]).agg(
        first_epoch=("epoch", "min")
    ).reset_index()
    bk = bk.merge(first, on=["band", "bh"])
    earlier = bk["epoch"] > bk["first_epoch"]
    same = bk[bk["epoch"] == bk["first_epoch"]]
    low = same.groupby(["band", "bh", "epoch"])["doc_id"].transform("min")
    hit_docs = set(bk.loc[earlier, "doc_id"]) | set(same.loc[same["doc_id"] > low, "doc_id"])
    return set(doc_batch) - hit_docs


def check_neardup(
    admitted: set[int], expected: set[int], exact_dups: dict[int, int]
) -> str | None:
    leaked = sorted(d for d in exact_dups if d in admitted)
    if leaked:
        return f"{len(leaked)} exact duplicates admitted, e.g. doc {leaked[0]}"
    if admitted != expected:
        extra, missing = admitted - expected, expected - admitted
        return (
            f"admitted set differs from the replay: {len(extra)} extra, "
            f"{len(missing)} missing"
        )
    return None
