"""Table catalog for the driver-generated synthetic datasets.

Tables (one parquet each, see /root/repo/TESTDATA.md): the TPC-H-ish
star schema ``region nation customer supplier part orders lineitem``
plus ``events`` (stream-shaped, maps onto the reference's
USER_EVENT_SCHEMA at `schema_manager.py:19-24`), ``documents`` and
``embeddings`` for the LLM-data operators.

Design note for 100 TB: the loader is a thin wrapper over
``spark.read.parquet`` so Catalyst keeps full pushdown/pruning, and no
DataFrame or data is ever cached or materialized here. The one thing
cached is each path's inferred SCHEMA (``read_parquet``): without a
schema every read runs Spark's parquet schema inference as its own
1-task job, a ~0.1 s step in every query's sequential job chain that
re-derives the same answer for an unchanged file. An entry is only
reused while the (size, mtime, inode) stamps of the path's data files
are unchanged. On a real lake these paths would be partitioned table
roots and everything below still holds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from local_stream_stack_spark.session import configure_for_oracle

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that Spark 4.1's parquet schema inference reads (the
# footer -> StructType converter, plus which footers it reads): the same
# file can infer a different schema under different values, so they are
# part of the cache key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles",
)

# (abspath, conf values) -> (file stamps, inferred schema). Unlocked:
# stamps are always taken before the inference they key, so a file
# rewritten mid-read, or a lost race between two readers, leaves stamps
# older than the file, which the next read's comparison rejects.
_SCHEMAS: dict[tuple, tuple[tuple, T.StructType]] = {}


def _hidden(name: str) -> bool:
    """Spark's file-index filter: ``_``/``.`` names are not data, except
    partition directories (``_k=v``) and parquet summary files."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _stamps(path: str) -> tuple | None:
    """(relpath, size, mtime_ns, inode) of every data file under a local
    file or directory, or None when ``path`` is not one (a glob or a URI)
    or changes while it is listed: such paths are read uncached."""
    if any(c in path for c in "*?[]{}:\\") or not os.path.exists(path):
        return None
    if os.path.isfile(path):
        files = [path]
    else:
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not _hidden(d))
            files += [os.path.join(root, f) for f in sorted(names) if not _hidden(f)]
    try:
        stats = [os.stat(f) for f in files]
    except OSError:
        return None
    return tuple(
        (os.path.relpath(f, path), st.st_size, st.st_mtime_ns, st.st_ino)
        for f, st in zip(files, stats)
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job on
    repeat reads of an unchanged local file or directory.

    The first read infers the schema as usual and caches the
    ``StructType``; later reads pass it via ``spark.read.schema(...)``,
    which plans the same scan with no job. Only the schema is cached:
    every call still builds a new DataFrame (fresh attribute ids, which
    self-joins rely on, and a fresh file listing). An entry is keyed by
    path and the session's inference confs and holds the data files'
    stamps; a changed stamp re-infers and replaces it.
    """
    stamps = _stamps(path)
    if stamps is None:
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamps:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamps, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one catalog table.

    The ``events`` table stores TIMESTAMP(NANOS) parquet, which Spark 4
    rejects by default (PARQUET_TYPE_ILLEGAL). We read nanos as long
    (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to a
    microsecond TIMESTAMP — the same truncation DuckDB applies when it
    maps ns parquet to its us TIMESTAMP, so oracle comparisons agree.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return read_parquet(spark, path)
    # The conf only changes how TIMESTAMP(NANOS) columns are decoded
    # (as long), so setting it up front is safe for every other table
    # and avoids a throwaway failed read just to probe the footer.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    if df.schema["ts"].dataType.typeName() == "long":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def oracle_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` in a session pinned for oracle comparison
    (``configure_for_oracle``): the table accessor of the query modules."""
    configure_for_oracle(spark)
    return load_table(spark, sf_dir, name)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register catalog tables as temp views so SQL-form operators work."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
