"""Extension-surface queries: grouped-map UDAF (applyInPandas),
Python UDTF (LATERAL), and the spark.sql() API path.

SURVEY.md §2B "UDF/UDAF/UDTF surface" — the reference's extension
point is the processor class (`base_processor.py:39-51`); these cover
the Spark-native tiers, each with a DuckDB oracle. ``sql_api_revenue``
additionally proves the SQL entry path: the EXACT same SQL string runs
on Spark (temp views) and DuckDB.

Determinism: the UDAF works on integer cents derived via
floor(x*100 + 0.5) — the same IEEE ops on both engines — so sums are
exact; the UDTF tokenizes single-space-ish prose identically to the
oracle's regex split after trim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from local_stream_stack_spark.catalog import load_table, oracle_table as _t
from local_stream_stack_spark.operators.udx import (
    register_udtfs,
    trimmed_stats_per_user,
)
from local_stream_stack_spark.queries.registry import query
from local_stream_stack_spark.session import configure_for_oracle
from local_stream_stack_spark.utils.scratch import ephemeral_dir


@query(
    "udaf_trimmed_stats",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CASE WHEN COUNT(*) > 2
                THEN (SUM(cents) - MIN(cents) - MAX(cents))
                     / (100.0 * (COUNT(*) - 2))
                ELSE SUM(cents) / (100.0 * COUNT(*))
           END AS trimmed_mean
    FROM (
      SELECT user_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ) t
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def udaf_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF via applyInPandas: per-user min/max-trimmed
    mean of event values, computed on exact integer cents. One shuffle
    on a deterministic coarse key (pmod(user_id, 256)); each coarse
    group crosses to Python as Arrow batches and the per-user
    aggregation runs as one vectorized pandas groupby per batch — the
    guide §4.2 shape (see operators/udx.py scale notes)."""
    e = _t(spark, sf_dir, "events").select("user_id", "value")
    return trimmed_stats_per_user(e).orderBy("user_id")


@query(
    "udtf_tokenize",
    oracle="""
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token,
           CAST(LENGTH(toks[i]) AS INT) AS token_len
    FROM (
      SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
      FROM documents WHERE doc_id <= 50
    ) t,
    UNNEST(generate_series(1, len(toks))) AS u(i)
    ORDER BY doc_id, pos
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF through SQL LATERAL: text -> (pos, token, len)
    rows. Production tokenization should stay JVM-side
    (explode_token_counts); this covers the UDTF extension tier."""
    register_udtfs(spark)
    _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50).select(
        "doc_id", "text"
    ).createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token, t.token_len
        FROM __udtf_docs d, LATERAL tokenize(d.text) t
        ORDER BY d.doc_id, t.pos
        """
    )


_SHARED_SQL = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                      * (CAST(1 AS DECIMAL(2,0))
                         - CAST(l_discount AS DECIMAL(6,4)))), 2)
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


@query("sql_api_revenue", oracle=_SHARED_SQL)
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql() entry path: the IDENTICAL SQL string runs on Spark
    (over temp views) and on DuckDB as the oracle — dialect-portable
    ANSI SQL with exact decimal aggregation."""
    for name in ("lineitem", "supplier", "nation"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_SHARED_SQL)


@query(
    "exact_quantile_distributed",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
           ROUND(quantile_cont(l_extendedprice, 0.90), 4) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def exact_quantile_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles via distributed bin-refinement — the 100 TB form.

    ``percentile_stats`` uses Spark's exact ``percentile`` aggregate,
    which buffers every group value in one reducer; with 3 groups that
    is a parallelism collapse and an OOM at scale. This variant
    (operators/quantiles.exact_quantile) computes the identical
    interpolated answer with three codegen passes whose shuffles carry
    only aggregate state + an O(n/bins) residual — exactness without
    the memory cliff. Same oracle as quantile_cont.
    """
    from local_stream_stack_spark.operators.quantiles import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    both = exact_quantiles(
        li,
        "l_extendedprice",
        [0.25, 0.90],
        ["l_returnflag"],
        out_cols=["p25_price", "p90_price"],
    )
    return both.select(
        "l_returnflag",
        F.round("p25_price", 4).alias("p25_price"),
        F.round("p90_price", 4).alias("p90_price"),
    ).orderBy("l_returnflag")


@query(
    "pipeline_yaml_enrich_agg",
    oracle="""
    SELECT c.c_nationkey,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type <> 'error'
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def pipeline_yaml_enrich_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A full relational flow driven ENTIRELY from YAML config:
    filter -> computed column -> static-dimension broadcast join ->
    grouped aggregation — the processor breadth the reference's chain
    model gestures at (any DataFrame -> DataFrame transform,
    `base_processor.py:40-51`) made concrete as named registry stages
    (`aggregate`, `join_static`). The whole chain stays one lazy plan,
    so Catalyst pushes the filter below the join and the dim side
    broadcasts; integer-cents sums keep the aggregate engine-exact."""
    import yaml

    from local_stream_stack_spark.pipeline import Pipeline

    configure_for_oracle(spark)
    cfg = yaml.safe_load(f"""
name: events-enrich-agg
source:
  type: parquet
  path: {sf_dir}/events.parquet
  streaming: false
processors:
  - name: filter
    params:
      predicate: "event_type <> 'error'"
  - name: with_column
    params:
      name: cents
      expr: "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
  - name: with_column
    params:
      name: c_custkey
      expr: "user_id"
  - name: join_static
    params:
      path: {sf_dir}/customer.parquet
      "on": [c_custkey]
      select: [c_custkey, c_nationkey]
  - name: aggregate
    params:
      group_by: [c_nationkey]
      aggs:
        - "COUNT(*) AS n_events"
        - "CAST(SUM(cents) AS BIGINT) AS sum_cents"
sink:
  type: noop
""")
    return Pipeline(spark, cfg).dataframe().orderBy("c_nationkey")


@query(
    "pipeline_yaml_batch",
    oracle="""
    SELECT doc_id, lang, n_chars,
           UPPER(SUBSTR(text, 1, 40)) AS head_upper
    FROM documents
    WHERE n_chars > 100 AND lang = 'en'
    ORDER BY doc_id
    """,
)
def pipeline_yaml_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core surface under the oracle: a YAML pipeline
    (source -> ordered processor chain -> sink; mirrors
    `streaming_pipeline.py:145-219`) built from config and run as a
    bounded batch replay. The returned frame is the pipeline's
    pre-sink plan — one lazy composition, so Catalyst optimizes across
    processor boundaries exactly like hand-written DataFrame code."""
    import yaml

    from local_stream_stack_spark.pipeline import Pipeline

    configure_for_oracle(spark)
    cfg = yaml.safe_load(f"""
name: docs-curation-replay
source:
  type: parquet
  path: {sf_dir}/documents.parquet
  streaming: false
processors:
  - name: filter
    params:
      predicate: "n_chars > 100 AND lang = 'en'"
  - name: with_column
    params:
      name: head_upper
      expr: "upper(substring(text, 1, 40))"
  - name: select
    params:
      columns: [doc_id, lang, n_chars, head_upper]
sink:
  type: noop
""")
    return Pipeline(spark, cfg).dataframe().orderBy("doc_id")


@query(
    "schema_registry_parse",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           COUNT(CAST(json_extract(props, '$.k') AS INT)) AS n_parsed
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def schema_registry_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The schema-registry projection the reference registers but never
    applies (`streaming_pipeline.py:10`, `schema_manager.py:23`): a
    named StructType parses the JSON payload column via from_json and
    its fields flatten to top level (PERMISSIVE — malformed rows null
    out and are countable). Aggregates over the parsed field prove the
    projection, not just the parse."""
    import pyspark.sql.types as T

    from local_stream_stack_spark.schemas import apply_json_schema, get_schema, register_schema

    try:
        get_schema("event_props")
    except KeyError:
        register_schema(
            "event_props",
            T.StructType([T.StructField("k", T.IntegerType(), True)]),
        )
    e = _t(spark, sf_dir, "events")
    parsed = apply_json_schema(e, "event_props", payload_col="props")
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_parsed"),
        )
        .orderBy("event_type")
    )


@query(
    "kafka_frame_roundtrip",
    oracle="""
    SELECT event_id, event_type, user_id FROM events
    ORDER BY event_id
    """,
)
def kafka_frame_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka wire-frame round-trip: rows serialize to the (key, value)
    JSON shape the Kafka sink writes (to_kafka_frame transform — the
    reference's serialization note, `kafka_connector.py:240-244`) and
    parse back through from_json. The identity result proves
    serialize -> parse loses nothing; raw JSON text is never compared
    (engine formatting differs), field values are."""
    import pyspark.sql.types as T

    from local_stream_stack_spark.operators.registry import resolve_transform

    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    to_frame = resolve_transform(
        "to_kafka_frame", {"key_expr": "CAST(event_id AS STRING)"}
    )
    framed = to_frame(e)  # (key string, value string) — the sink shape
    back_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    return (
        framed.select(F.from_json("value", back_schema).alias("p"))
        .select("p.event_id", "p.event_type", "p.user_id")
        # pin before the global sort: narrow scan->to_json->from_json
        # subtree below, so the sort's bound-sampling job would re-run
        # the whole serialize/parse round-trip a second time (guide §5)
        .localCheckpoint(eager=True)
        .orderBy("event_id")
    )


def _roundtrip_orders(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Round-trip the orders slice through ``fmt`` and aggregate the
    REREAD copy — lossless encode/decode of timestamps, decimals-in-
    double, and strings is what the oracle equality proves (the oracle
    reads the original parquet)."""
    import os

    from local_stream_stack_spark.sources.files import FileSource

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    path = os.path.join(
        ephemeral_dir(prefix=f"roundtrip-{fmt}-"), f"orders_{fmt}"
    )
    writer = o.write.format(fmt).mode("overwrite")
    csv_opts = {
        "header": "true",
        "timestampFormat": "yyyy-MM-dd HH:mm:ss",
        # o_orderdate is TIMESTAMP_NTZ (parquet nanos decode path) —
        # CSV formats NTZ columns via its own option
        "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss",
    }
    if fmt == "csv":
        writer = writer.options(**csv_opts)
    elif fmt == "json":
        writer = writer.options(
            timestampNTZFormat="yyyy-MM-dd HH:mm:ss"
        )
    elif fmt == "orc":
        # the default zstd ORC codec is unreadable in this runtime
        # (native lib mismatch); zlib is in-JVM and universal
        writer = writer.option("compression", "zlib")
    writer.save(path)
    from pyspark.sql.types import _parse_datatype_string

    opts = csv_opts if fmt == "csv" else (
        {"timestampNTZFormat": "yyyy-MM-dd HH:mm:ss"} if fmt == "json" else {}
    )
    schema = _parse_datatype_string(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz"
    )
    back = FileSource(
        path=path, format=fmt, schema=schema, options=opts
    ).read_batch(spark)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(
                "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)"
            ).alias("sum_price"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
        .orderBy("o_orderstatus")
    )


_ROUNDTRIP_ORACLE = """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS sum_price,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@query("csv_roundtrip_orders", oracle=_ROUNDTRIP_ORACLE)
def csv_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink -> CSV source round-trip under the oracle: the reread
    copy must aggregate identically to the original parquet (timestamp
    format pinned explicitly — schema-on-read, never inference)."""
    return _roundtrip_orders(spark, sf_dir, "csv")


@query("orc_roundtrip_orders", oracle=_ROUNDTRIP_ORACLE)
def orc_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink -> ORC source round-trip under the oracle (DuckDB
    cannot read ORC, so equality against the parquet-sourced oracle is
    exactly the losslessness claim)."""
    return _roundtrip_orders(spark, sf_dir, "orc")


@query("json_roundtrip_orders", oracle=_ROUNDTRIP_ORACLE)
def json_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink -> source round-trip under the oracle
    (schema-on-read with a pinned NTZ timestamp format — JSON carries
    no types, so the explicit schema IS the losslessness contract)."""
    return _roundtrip_orders(spark, sf_dir, "json")


@query(
    "pyds_synthetic_agg",
    oracle="""
    SELECT CAST(g % 10 AS INT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM((g * 2654435761) % 4294967296) AS BIGINT) AS sum_k,
           CAST(ROUND(CAST(SUM((g * 2654435761) % 4294967296) AS DOUBLE)
                      / COUNT(*) / 4294967296 * 1000000) AS BIGINT)
             AS mean_unit_e6
    FROM generate_series(0, 49999) t(g)
    GROUP BY 1
    ORDER BY bucket
    """,
)
def pyds_synthetic_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM CONNECTOR end-to-end: the Spark 4 Python DataSource API
    (sources/pyds.py) registered, planned, and executed as a parallel
    scan — the reference's connector abstraction
    (kafka_connector.py:11-189) re-expressed as a first-class source
    instead of a wrapper function. Eight Python-worker shards each
    generate only their id range; the aggregate downstream is ordinary
    JVM codegen. Every cell is an exact integer function of the row id
    (Knuth multiplicative hash), so DuckDB's generate_series mirrors
    the source exactly — the oracle checks the CONNECTOR, not just the
    query. Output keeps integer sums; the one double division emits a
    scaled BIGINT."""
    from local_stream_stack_spark.sources.pyds import register

    configure_for_oracle(spark)
    register(spark)
    df = (
        spark.read.format("lss_synthetic")
        .option("n_rows", "50000")
        .option("n_parts", "8")
        .option("n_buckets", "10")
        .load()
    )
    return (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(
                F.sum("k").cast("double")
                / F.count("*")
                / F.lit(4294967296.0)
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("mean_unit_e6"),
        )
        .orderBy("bucket")
    )


@query(
    "ols_slope_per_type",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
               - 1704067200 AS x,
             CAST(ROUND(value * 1000000) AS BIGINT) AS y_e6
      FROM events
    ),
    m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y_e6 AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
             SUM(CAST(x AS HUGEINT) * CAST(y_e6 AS HUGEINT)) AS sxy
      FROM pts
      GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
                      * 1000000) AS BIGINT) AS slope_e6_per_s
    FROM m
    ORDER BY event_type
    """,
)
def ols_slope_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend slope via ``applyInArrow`` (Spark 4's
    Arrow-native grouped map — no pandas conversion layer): each group
    arrives as a pyarrow Table, moment sums accumulate in PYTHON INTS
    (arbitrary precision, so they are exact and order-independent —
    the same determinism contract the decimal moment sums give in SQL,
    achieved a different way), and the closed-form slope is the one
    double expression both engines evaluate identically (oracle
    mirrors with HUGEINT sums). The trend-per-series primitive for
    metric drift.

    Scale: groups stream through workers as Arrow batches; per-group
    state is five integers. The x offset (fixed epoch base) keeps the
    sums small relative to double precision when the final closed
    form divides them."""
    import pyarrow as pa

    from local_stream_stack_spark.utils.ts import epoch_s

    e = load_table(spark, sf_dir, "events")
    configure_for_oracle(spark)
    pts = e.select(
        "event_type",
        (epoch_s("ts") - 1704067200).cast("bigint").alias("x"),
        F.round(F.col("value") * F.lit(1000000.0)).cast("bigint").alias(
            "y_e6"
        ),
    )

    def slope(table: pa.Table) -> pa.Table:
        import math

        xs = table.column("x").to_pylist()
        ys = table.column("y_e6").to_pylist()
        n = len(xs)
        sx = sum(xs)
        sy = sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        num = float(n) * float(sxy) - float(sx) * float(sy)
        den = float(n) * float(sxx) - float(sx) * float(sx)
        if den == 0.0:
            # degenerate group (n==1 or constant x): slope undefined.
            # Emit NULL, mirrored by NULLIF(den, 0) in the oracle —
            # never a worker crash that fails the whole query.
            slope_e6 = None
        else:
            v = num / den * 1000000
            # half-AWAY rounding to match SQL ROUND (Python round() is
            # half-even; a .5 boundary would differ deterministically)
            slope_e6 = int(math.copysign(math.floor(abs(v) + 0.5), v))
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": pa.array([n], pa.int64()),
                "slope_e6_per_s": pa.array([slope_e6], pa.int64()),
            }
        )

    return (
        pts.groupBy("event_type")
        .applyInArrow(
            slope, "event_type string, n bigint, slope_e6_per_s bigint"
        )
        .orderBy("event_type")
    )


@query(
    "xml_roundtrip_orders",
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY status
    """,
)
def xml_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML path (Spark 4 native to_xml/from_xml): orders round-trip
    through XML records and are consumed via schema-on-read
    extraction — the legacy-feed ingestion pattern (SOAP/enterprise
    exports) next to VARIANT's JSON-native one. The oracle reads the
    plain columns, so it checks the serialize -> parse round-trip for
    exact double/long/string fidelity; a formatting loss (XML carries
    no types) would surface as a value mismatch. Both XML expressions
    are JVM codegen — no Python in the path."""
    o = _t(spark, sf_dir, "orders")
    xml = F.to_xml(F.struct("o_orderstatus", "o_totalprice", "o_custkey"))
    parsed = F.from_xml(
        F.col("x"),
        "o_orderstatus string, o_totalprice double, o_custkey bigint",
    )
    return (
        o.select(xml.alias("x"))
        .select(parsed.alias("r"))
        .select(
            F.col("r.o_orderstatus").alias("status"),
            F.col("r.o_totalprice").alias("total"),
            F.col("r.o_custkey").alias("cust"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("total") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("sum_cents"),
            F.sum("cust").cast("bigint").alias("sum_cust"),
        )
        .orderBy("status")
    )


@query(
    "collation_group_ci",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
               AS src,
             n_chars
      FROM documents
    )
    SELECT lower(src) AS source_ci,
           COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM mixed
    GROUP BY lower(src)
    ORDER BY source_ci
    """,
)
def collation_group_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware aggregation (Spark 4 string collations): the
    mixed-case source column groups under UTF8_LCASE COLLATION — the
    engine-level form of case-insensitive semantics, which at scale
    beats wrapping every comparison in lower() because the collation
    participates in hashing/ordering directly and survives into joins
    and sorts on the same column. The oracle mirrors with lower()
    grouping (provably the same partition of rows for UTF8_LCASE);
    the emitted key is lower()'d on both engines so the group LABEL is
    deterministic whichever case variant a group sees first."""
    d = _t(spark, sf_dir, "documents")
    mixed = d.select(
        F.when(
            F.col("doc_id") % 2 == 0, F.upper(F.col("source"))
        ).otherwise(F.col("source")).alias("src"),
        "n_chars",
    )
    return (
        mixed.groupBy(F.expr("collate(src, 'UTF8_LCASE')").alias("k"))
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            F.lower(F.col("k")).alias("source_ci"), "n", "total_chars"
        )
        .orderBy("source_ci")
    )


_GROUP_BY_ALL_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS rev_c
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


@query("group_by_all_revenue", oracle=_GROUP_BY_ALL_SQL)
def group_by_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` + ``ORDER BY ALL`` — the DuckDB-originated
    SQL sugar Spark 4 adopted (group by every non-aggregate select
    item; order by every output column left-to-right). The IDENTICAL
    SQL text runs on both engines, so the oracle checks the CLAUSE
    semantics themselves, not a hand-expanded rewrite — the same
    same-text discipline as `lateral_topk_suppliers` and the recursive
    CTEs. Revenue as exact integer cents."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUP_BY_ALL_SQL)


@query(
    "pipe_syntax_revenue",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2)
                AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 `|>` operators): the same
    filter -> aggregate -> order pipeline written as sequential pipe
    stages instead of nested clauses — the composable-SQL entry path
    that mirrors how the reference folds processors over a frame
    (`streaming_pipeline.py:195-200`), but in pure SQL. Semantics are
    identical to the classic form (same Catalyst plan), so the oracle
    is the classic rewrite. Decimal sums keep the output exact."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView(
        "lss_pipe_orders"
    )
    return spark.sql(
        """
        FROM lss_pipe_orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2)
                          AS DOUBLE) AS total_price
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    ).select("o_orderpriority", "n_orders", "total_price")


@query(
    "sql_udf_netprice",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2))
                     * (CAST(1 AS DECIMAL(6,4))
                        - CAST(l_discount AS DECIMAL(6,4)))
                     * (CAST(1 AS DECIMAL(6,4))
                        + CAST(l_tax AS DECIMAL(6,4))) AS DECIMAL(28,6))),
                      2) AS DOUBLE) AS net_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sql_udf_netprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDF (Spark 4 `CREATE FUNCTION ... RETURN
    expr`): the declarative extension tier below Python UDFs — the
    body is a plain SQL expression, so Catalyst INLINES it into the
    calling plan (whole-stage codegen, no Python worker, pushdown
    still applies). The oracle is the hand-inlined expression; exact
    decimal arithmetic end to end."""
    configure_for_oracle(spark)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION lss_net_price(
            price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS DECIMAL(28,6)
        RETURN CAST(CAST(price AS DECIMAL(14,2))
                    * (CAST(1 AS DECIMAL(6,4)) - CAST(disc AS DECIMAL(6,4)))
                    * (CAST(1 AS DECIMAL(6,4)) + CAST(tax AS DECIMAL(6,4)))
                    AS DECIMAL(28,6))
        """
    )
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lss_udf_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n_lines,
               CAST(ROUND(SUM(lss_net_price(l_extendedprice, l_discount,
                                            l_tax)), 2) AS DOUBLE)
                 AS net_revenue
        FROM lss_udf_lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@query(
    "sql_variables_param_revenue",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2)
                AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderstatus IN ('F', 'P')
      AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def sql_variables_param_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE/SET VAR) + parameterized
    SQL (named ``:params`` bound server-side): the injection-safe
    parameterization tier for a SQL-first user — one predicate value
    arrives via a session variable, the other via a bind parameter,
    and neither is string-interpolated into the query text. Both
    resolve to literals at analysis time, so pushdown and pruning are
    identical to the hand-written form (which is the oracle)."""
    configure_for_oracle(spark)
    _t(spark, sf_dir, "orders").createOrReplaceTempView(
        "lss_var_orders"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE lss_cut_date TIMESTAMP"
        " DEFAULT TIMESTAMP '1990-01-01 00:00:00'"
    )
    spark.sql(
        "SET VAR lss_cut_date = TIMESTAMP '1994-01-01 00:00:00'"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2)
                    AS DOUBLE) AS total_price
        FROM lss_var_orders
        WHERE o_orderstatus IN (:st1, :st2)
          AND o_orderdate >= lss_cut_date
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
        args={"st1": "F", "st2": "P"},
    )


_LATERAL_SQL = """
SELECT n_name AS nation, s_name AS supplier, t.bal_c AS acctbal_c,
       t.rnk
FROM nation,
LATERAL (
  SELECT s_name,
         CAST(ROUND(s_acctbal * 100) AS BIGINT) AS bal_c,
         CAST(ROW_NUMBER() OVER (ORDER BY s_acctbal DESC, s_name)
              AS BIGINT) AS rnk
  FROM supplier
  WHERE s_nationkey = n_nationkey
  ORDER BY s_acctbal DESC, s_name
  LIMIT 3
) t
ORDER BY nation, t.rnk
"""


@query("lateral_topk_suppliers", oracle=_LATERAL_SQL)
def lateral_topk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery in the FROM clause — the SQL:1999
    surface for per-row dependent subplans (each nation row drives its
    own top-3-suppliers subquery). The IDENTICAL SQL string runs on
    Spark (which plans the correlated LATERAL as a ranked window over
    the decorrelated join — no per-row re-execution) and on DuckDB as
    the oracle. Balances as exact integer cents; a total ORDER BY
    inside the lateral (acctbal DESC, name) makes the top-3 pick
    deterministic."""
    for name in ("nation", "supplier"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_LATERAL_SQL)


_RECURSIVE_STREAK_SQL = """
WITH RECURSIVE days AS (
  SELECT DISTINCT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                       AS BIGINT) AS di
  FROM orders
),
chain(start_di, di, len) AS (
  SELECT d.di, d.di, CAST(1 AS BIGINT)
  FROM days d
  WHERE NOT EXISTS (SELECT 1 FROM days p WHERE p.di = d.di - 1)
  UNION ALL
  SELECT c.start_di, d.di, c.len + 1
  FROM chain c JOIN days d ON d.di = c.di + 1
  WHERE c.len < 12
),
streaks AS (
  SELECT start_di, MAX(len) AS streak_len
  FROM chain GROUP BY start_di
)
SELECT streak_len, CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM streaks
GROUP BY streak_len
ORDER BY streak_len
"""


@query("active_streaks_doubling", oracle=_RECURSIVE_STREAK_SQL)
def active_streaks_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-doubling twin of ``recursive_cte_day_streaks`` (VERDICT
    r12 #6): the SAME streak-length histogram, but computed in
    ceil(log2(cap)) self-joins instead of cap recursion levels —
    the documented scale pattern for iterative chain-following on
    Spark, where every recursion level costs a fixed ~0.5 s job.

    Invariant carried through the loop: ``len_k(d) = min(run(d), k)``
    where ``run(d)`` is the consecutive-day run length starting at day
    ``d``.  Base: ``len_1 = 1``.  Doubling step (one self-join):
    ``len_2k(d) = len_k(d)`` when the half-chain is short
    (``len_k < k``), else ``k + len_k(d + k)`` (0 when ``d+k`` is not
    an active day) — after k = 1,2,4,8 the map holds ``min(run, 16)``,
    clamped to the recursion twin's 12-link cap for the histogram.
    Streak starts are days with no predecessor (left-anti self-join).
    4 shuffle joins on the tiny day-grain set vs 12 level-jobs: the
    log2 trade grows as the cap does (a 100-link cap would be 7 joins
    vs 100 jobs).  All-integer arithmetic; the oracle is the IDENTICAL
    recursive SQL of the twin, so both formulations are cross-checked
    against each other on every run."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    days = (
        _t(spark, sf_dir, "orders")
        .select(
            F.expr(
                "CAST(datediff(CAST(o_orderdate AS DATE),"
                " DATE '1970-01-01') AS BIGINT)"
            ).alias("di")
        )
        .distinct()
    )
    chain = days.select("di", F.lit(1).cast("bigint").alias("len"))
    k = 1
    while k < 16:
        half = chain.select(
            (F.col("di") - F.lit(k)).alias("__j"),
            F.col("len").alias("__blen"),
        )
        chain = (
            chain.join(half, F.col("di") == F.col("__j"), "left")
            .select(
                "di",
                F.when(F.col("len") < k, F.col("len"))
                .otherwise(
                    F.lit(k) + F.coalesce(F.col("__blen"), F.lit(0))
                )
                .cast("bigint")
                .alias("len"),
            )
        )
        k *= 2
    starts = days.join(
        days.select((F.col("di") + 1).alias("di")), "di", "left_anti"
    )
    return (
        chain.join(starts, "di")
        .select(
            F.least(F.col("len"), F.lit(12)).cast("bigint").alias(
                "streak_len"
            )
        )
        .groupBy("streak_len")
        .agg(F.count("*").cast("bigint").alias("n_streaks"))
        .orderBy("streak_len")
    )


@query("recursive_cte_day_streaks", oracle=_RECURSIVE_STREAK_SQL)
def recursive_cte_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE — the SQL:1999 iteration surface Spark 4 added
    (linear recursion, UNION ALL step semantics): walk consecutive-day
    chains of order activity from each streak start and report the
    streak-length histogram — the recursion twin of the window-islands
    `active_streaks`, cross-checked by running the IDENTICAL SQL on
    DuckDB's recursive executor. The chain step is capped at 12 links,
    keeping the iteration count under Spark's recursion-level limit
    (100) whatever the calendar span — data-dependent termination plus
    an explicit bound, the pattern any production recursive query
    needs (each recursion level is one Spark job, so the bound is also
    the fixed-cost knob: 12 levels ≈ 6 s of pure iteration overhead on
    local[32], flat in data size — alpha 0.06 on the x1/x10 curve). Day-grain collapse first, so each iteration joins
    calendar-bounded sets."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_STREAK_SQL)
