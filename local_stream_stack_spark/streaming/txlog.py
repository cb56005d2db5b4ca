"""The commit log of the parquet-backed streaming stores.

Every exactly-once store in :mod:`local_stream_stack_spark.streaming`
keeps its metadata through this module, and only this module talks to
the Hadoop FileSystem for it (driver-side metadata ops, no Spark job per
call, any supported scheme):

- :func:`commit` writes ``<dir>/<n>.json`` atomically: the payload goes
  to a temp ``.tmp-<n>`` and is renamed onto the final name.  The
  single-file rename is the commit point; a retried commit of ``n``
  replaces the earlier file.
- :func:`read_commits` returns every COMMITTED ``<n>.json`` and nothing
  else.  Hadoop ``globStatus`` does not hide dot-prefixed names, so the
  strict ``\\d+\\.json`` filter is what keeps a crash-leftover temp, a
  torn write or any stray file from reading as a commit.
- :func:`partition_ids` lists the ``__epoch=<id>`` (or ``__bucket=<id>``)
  children of a store directory, optionally only those whose parquet job
  committed (``_SUCCESS`` present).
- :func:`delete` removes a directory tree.
- :func:`recorded_confs` reads the SQL confs a streaming query's own
  offset log recorded (Spark's checkpoint, not one of the stores').

Two logs use it: the latest-per-key upsert's per-epoch manifests
(``<view>/_manifests``) and the compactor's generation manifests
(``<store>/_generations``).  The reference keeps no such log (its offset
manager was superseded by checkpointing, ``offset_manager.py:13-16``);
here it pairs with the replayable source and the idempotent epoch-dir
sink to give exactly-once stores.
"""

from __future__ import annotations

import json
import re

_COMMIT_NAME = re.compile(r"\d+\.json")


def _fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def commit(spark, log_dir: str, n: int, payload: dict) -> None:
    """Commit ``payload`` as ``<log_dir>/<n>.json`` (temp + rename).
    The temp has no ``.json`` suffix, so a crash leftover never matches
    even a loose ``*.json`` glob."""
    fs, _, jvm = _fs(spark, log_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(Path(log_dir))
    tmp = Path(f"{log_dir}/.tmp-{n}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    final = Path(f"{log_dir}/{n}.json")
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"commit {n} failed under {log_dir}")


def read_commits(spark, log_dir: str) -> dict[int, dict]:
    """{n: payload} for every committed ``<n>.json`` under ``log_dir``
    ({} when the log does not exist yet)."""
    fs, p, jvm = _fs(spark, log_dir)
    if not fs.exists(p):
        return {}
    Path = jvm.org.apache.hadoop.fs.Path
    out: dict[int, dict] = {}
    for st in fs.globStatus(Path(log_dir + "/*.json")) or []:
        name = st.getPath().getName()
        if not _COMMIT_NAME.fullmatch(name):
            continue
        text = _read_text(fs, st.getPath(), jvm)
        out[int(name[: -len(".json")])] = json.loads(text)
    return out


def _read_text(fs, path, jvm) -> str:
    stream = fs.open(path)
    try:
        return jvm.java.util.Scanner(stream, "UTF-8").useDelimiter("\\A").next()
    finally:
        stream.close()


def recorded_confs(spark, checkpoint_location: str) -> dict[str, str]:
    """The SQL confs that Spark recorded in the newest entry of the
    offset log under ``checkpoint_location`` ({} before the query's
    first batch). A restarted query runs its stateful operators with
    these values (``spark.sql.shuffle.partitions`` among them), not
    with the live session's. An entry is ``v1``, then one JSON line of
    batch metadata, then one line per source offset."""
    log_dir = checkpoint_location.rstrip("/") + "/offsets"
    fs, p, jvm = _fs(spark, log_dir)
    if not fs.exists(p):
        return {}
    ids = [
        int(st.getPath().getName())
        for st in fs.listStatus(p)
        if re.fullmatch(r"\d+", st.getPath().getName())
    ]
    if not ids:
        return {}
    Path = jvm.org.apache.hadoop.fs.Path
    text = _read_text(fs, Path(f"{log_dir}/{max(ids)}"), jvm)
    return json.loads(text.split("\n")[1]).get("conf", {})


def partition_ids(
    spark, path: str, key: str = "__epoch", committed: bool = False
) -> list[int]:
    """Sorted ids of the ``<key>=<id>`` children of ``path`` ([] when
    ``path`` does not exist).

    ``committed=True`` keeps only children carrying the job-commit
    ``_SUCCESS`` marker.  A micro-batch writer creates its
    ``__epoch=<id>`` directory BEFORE the parquet job commits its task
    files, so a reader or compactor racing it would otherwise see a torn
    (possibly empty) directory."""
    fs, _, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    base = path.rstrip("/")
    out = []
    for st in fs.globStatus(Path(f"{base}/{key}=*")) or []:
        m = re.fullmatch(rf"{key}=(-?\d+)", st.getPath().getName())
        if m and (
            not committed
            or fs.exists(Path(f"{base}/{m.group(0)}/_SUCCESS"))
        ):
            out.append(int(m.group(1)))
    return sorted(out)


def delete(spark, path: str) -> None:
    """Delete ``path`` recursively (a missing path is a no-op)."""
    fs, p, _ = _fs(spark, path)
    fs.delete(p, True)
