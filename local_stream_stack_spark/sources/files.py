"""File and rate sources — the batch/test-friendly side of the source
matrix (SURVEY.md §2B: absent from the reference, whose reader
whitelist is kafka-only at `streaming_pipeline.py:65-71`).

FileSource reads parquet/json/csv in batch or streaming form from the
same config; streaming file reads require an explicit schema (schema
inference on streams is an anti-pattern — registry schemas instead,
see schemas.py). RateSource generates load for streaming tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from local_stream_stack_spark.catalog import read_parquet

_FORMATS = ("parquet", "json", "csv", "orc")


@dataclass
class FileSource:
    path: str
    format: str = "parquet"
    schema: T.StructType | None = None
    options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.format not in _FORMATS:
            raise ValueError(
                f"unsupported file format {self.format!r}; supported: {_FORMATS}"
            )
        if not self.path:
            raise ValueError("path is required")

    def read_batch(self, spark: SparkSession) -> DataFrame:
        if self.format == "parquet" and self.schema is None and not self.options:
            # skips the per-read schema-inference job (catalog.read_parquet)
            return read_parquet(spark, self.path)
        reader = spark.read.format(self.format).options(**self.options)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.load(self.path)

    def read_stream(self, spark: SparkSession) -> DataFrame:
        if self.schema is None:
            raise ValueError(
                "streaming file sources require an explicit schema "
                "(register one in schemas.py)"
            )
        reader = (
            spark.readStream.format(self.format)
            .schema(self.schema)
            .options(**self.options)
        )
        # FileStreamSource needs a directory basePath; pointing at a
        # single file fails with "Option 'basePath' must be a directory"
        # unless we anchor basePath at the parent ourselves.
        import os

        if os.path.isfile(self.path) and "basePath" not in self.options:
            reader = reader.option("basePath", os.path.dirname(self.path))
        return reader.load(self.path)


@dataclass
class RateSource:
    """Synthetic load source (rows with ``timestamp``, ``value``)."""

    rows_per_second: int = 100
    num_partitions: int | None = None

    def read_stream(self, spark: SparkSession) -> DataFrame:
        reader = spark.readStream.format("rate").option(
            "rowsPerSecond", str(self.rows_per_second)
        )
        if self.num_partitions:
            reader = reader.option("numPartitions", str(self.num_partitions))
        return reader.load()
