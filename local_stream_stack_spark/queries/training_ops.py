"""Round-3 training-data pipeline operators.

Large-scale training pipelines need a handful of operations beyond
dedup/similarity/quality (already in ``queries/llm.py``): reproducible
global shuffling of the corpus, corpus-level term weighting (TF-IDF),
robust outlier detection (median/MAD instead of mean/stddev), an
asymmetric containment near-dup check (catches quote/subset reuse that
symmetric Jaccard misses), and feature binning against exact decile
boundaries. Each is expressed as a scale-safe Spark plan with a DuckDB
oracle.

No reference analog exists for any of these (the reference delegates
all computation to Spark; SURVEY.md §2B north-star rows) — they extend
the LLM-data operator family the same way ``queries/llm.py`` does.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from local_stream_stack_spark.catalog import load_table, oracle_table as _t
from local_stream_stack_spark.queries.registry import query
from local_stream_stack_spark.session import configure_for_oracle
from local_stream_stack_spark.utils.scratch import ephemeral_dir


@query(
    "shuffle_deterministic",
    oracle="""
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
             AS pos
    FROM documents
    ORDER BY pos
    """,
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global corpus shuffle with a materialized position
    — the "seeded shuffle" every training run needs so epoch ordering
    is identical across reruns and engines.

    A naive ROW_NUMBER over a global ORDER BY collapses to ONE
    reducer holding the whole corpus. This plan stays distributed:
    order by md5(doc_id) (the deterministic permutation), bucket rows
    by the hash's first byte (hex-lexical order == bucket numeric
    order, so bucket boundaries respect the global order), compute the
    256-row bucket-size table, turn it into cumulative start offsets
    with the distributed-rank operator (no ordered global window, even
    over the tiny bucket table), broadcast the offsets back, and add
    the within-bucket rank. Every shuffle moves either
    bucket-partitioned rows (once) or 256 aggregate rows; the global
    sort itself never materializes on one node. At 100 TB, widen the
    prefix to 2 bytes (65k buckets) and nothing else changes.
    """
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    h = F.md5(F.col("doc_id").cast("string"))
    d = d.withColumn("__h", h).withColumn(
        "__b", F.conv(F.substring("__h", 1, 2), 16, 10).cast("int")
    )
    sizes = d.groupBy("__b").agg(F.count("*").alias("__n"))
    # exclusive start offsets over the 256-row bucket table via the
    # distributed-rank operator's inclusive running sum minus own size
    # (even a 256-row ordered window would be a one-task WindowExec)
    offsets = with_global_rank(
        sizes,
        "__b",
        out_rank="__rnb",
        cumsum={"__n": "__cum"},
        acc_type="BIGINT",
    ).select("__b", (F.col("__cum") - F.col("__n")).alias("__off"))
    wb = Window.partitionBy("__b").orderBy("__h", "doc_id")
    return (
        d.join(F.broadcast(offsets), "__b")
        .withColumn("pos", (F.col("__off") + F.row_number().over(wb) - 1))
        .select("doc_id", "lang", "pos")
        .orderBy("pos")
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_distinct(
               string_split_regex(lower(trim(text)), '\\s+'))) AS tok
      FROM documents
    ),
    tk AS (SELECT * FROM toks WHERE length(tok) >= 3),
    df AS (SELECT tok, COUNT(*) AS df FROM tk GROUP BY tok),
    tf AS (SELECT lang, tok, COUNT(*) AS tf FROM tk GROUP BY lang, tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT lang, tok, tf, df, tfidf_e6, rk
    FROM (
      SELECT t.lang, t.tok, t.tf, d.df,
             CAST(ROUND(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)) * 1000000)
                  AS BIGINT) AS tfidf_e6,
             ROW_NUMBER() OVER (
               PARTITION BY t.lang
               ORDER BY CAST(ROUND(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0))
                                   * 1000000) AS BIGINT) DESC, t.tok)
               AS rk
      FROM tf t JOIN df d ON t.tok = d.tok CROSS JOIN n
    ) r
    WHERE rk <= 10
    ORDER BY lang, rk
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-10 TF-IDF terms: tf = documents in the language
    containing the term (distinct per doc), idf = ln((N+1)/(df+1))
    over the whole corpus — the corpus-characterization report behind
    domain tagging and stop-word lists.

    Plan: one explode of per-doc DISTINCT tokens feeds both the df and
    tf aggregates (two shuffles over token keys, payload-free); the
    1-row corpus count and per-term df broadcast back onto the tf
    table; per-language rank prunes with WindowGroupLimit. The rank
    ORDERS ON the scaled-BIGINT score (``tfidf_e6`` = score x 10^6),
    not the raw double: JVM Math.log and DuckDB std::log are not both
    correctly rounded, so near-tied raw doubles could rank-flip
    between engines, and integer emission also sidesteps the
    decimal-from-double typed-hash divergence (r3 hash-fail cause)."""
    d = _t(spark, sf_dir, "documents")
    tk = (
        d.select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                )
            ).alias("tok"),
        )
        .filter(F.length("tok") >= 3)
    )
    df_ = tk.groupBy("tok").agg(F.count("*").alias("df"))
    tf = tk.groupBy("lang", "tok").agg(F.count("*").alias("tf"))
    n_docs = d.count()
    score_e6 = F.round(
        F.col("tf")
        * F.log((F.lit(float(n_docs) + 1.0)) / (F.col("df") + F.lit(1.0)))
        * F.lit(1000000.0)
    ).cast("bigint")
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf_e6"), F.asc("tok"))
    return (
        tf.join(df_, "tok")
        .withColumn("tfidf_e6", score_e6)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("lang", "tok", "tf", "df", "tfidf_e6", "rk")
        .orderBy("lang", "rk")
    )


@query(
    "mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           CAST(ROUND(d.adev / m.mad * 10000) AS BIGINT) AS mad_score_e4
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    WHERE d.adev / m.mad > 6.0
    ORDER BY mad_score_e4 DESC, event_id
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: score = |x - median| / MAD per event
    type, flag scores above 6 — unlike z-scores (see zscore_outliers)
    the cut survives heavy-tailed data because median and MAD ignore
    the outliers themselves.

    Two rounds of the distributed exact-median operator
    (operators/quantiles — 3-pass bin refinement, never a full-group
    buffer), each producing a per-type row that broadcasts back over
    the scan; the scoring pass is pure codegen. The 4-dp round happens
    on the division result, which both engines compute from identical
    exact medians, so the threshold boundary agrees."""
    from local_stream_stack_spark.operators.quantiles import exact_quantiles

    e = _t(spark, sf_dir, "events")
    med = exact_quantiles(
        e, "value", [0.5], ["event_type"], out_cols=["med"]
    )
    dev = (
        e.join(F.broadcast(med), "event_type")
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
        # the deviation relation feeds the 3-pass MAD quantile AND the
        # final scoring pass — pin once instead of 4 scan+join
        # re-executions (guide §5; bounded: one row per event)
        .localCheckpoint(eager=True)
    )
    mad = exact_quantiles(
        dev, "adev", [0.5], ["event_type"], out_cols=["mad"]
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .withColumn("mad_score", F.col("adev") / F.col("mad"))
        .filter(F.col("mad_score") > 6.0)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("mad_score") * F.lit(10000.0))
            .cast("bigint")
            .alias("mad_score_e4"),
        )
        .orderBy(F.desc("mad_score_e4"), F.asc("event_id"))
    )


@query(
    "dedup_containment",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                            || ' ' || words[i+3] || ' ' || words[i+4]
               for i in generate_series(1, len(words) - 4)]) AS grams
      FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents WHERE doc_id < 1000)
    ),
    inv AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    cap AS (
      SELECT GREATEST(8, CAST(COUNT(*) * 0.01 AS BIGINT)) AS c FROM g
    ),
    hot AS (
      SELECT gram FROM inv GROUP BY gram
      HAVING COUNT(*) > (SELECT c FROM cap)
    ),
    inv2 AS (
      SELECT doc_id, gram FROM inv
      WHERE gram NOT IN (SELECT gram FROM hot)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM inv2 GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM inv2 a JOIN inv2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(ROUND(p.inter / CAST(s.sz AS DOUBLE) * 1000000) AS BIGINT)
             AS containment_e6
    FROM pairs p JOIN sz s ON s.doc_id = p.doc_a
    WHERE p.inter / CAST(s.sz AS DOUBLE) >= 0.2
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: |shingles(A) ∩ shingles(B)| /
    |shingles(A)| over 5-gram word shingles — catches a short document
    quoted inside a long one, which symmetric Jaccard dilutes below
    any threshold.

    Inverted-index join (explode distinct shingles, self-join on the
    shingle, count per pair) — the same bounded-by-collisions shape as
    dedup_ngram_jaccard, never an all-pairs cross join, with a HOT-GRAM
    BOUND: shingles whose document frequency exceeds a corpus-relative
    cap (max(8, 1% of docs)) are dropped before the self-join, because
    a boilerplate shingle shared by k documents contributes k^2 pair
    rows on one key while carrying no dedup signal (the df-band
    pattern of token_pmi_collocations). The cap is applied as a
    broadcast ANTI join against the hot-gram list — tiny by
    construction (only grams ABOVE the cap), unlike the full rare-gram
    df table, so it broadcasts at any corpus size. Containment is then
    defined over non-ubiquitous shingles on both engines (sz is the
    post-prune shingle count). A repartition boundary after tokenizing
    spreads shingling across cores AND stops projection collapse from
    inlining split() into every downstream use. At 100 TB this runs on
    LSH candidate pairs instead of the raw corpus (compose with
    dedup_minhash_lsh); the doc_id<1000 slice keeps the oracle's
    quadratic check cheap while exercising the identical plan."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    n_docs = d.count()
    cap = max(8, int(n_docs * 0.01))
    par = spark.sparkContext.defaultParallelism
    # Guard short documents: sequence(0, n-5) with n<5 produces a
    # DESCENDING index list in Spark ([0,-1,...]) and slice(start=0)
    # throws — a <5-token doc must yield ZERO shingles, exactly as the
    # oracle's generate_series(1, len-4) does.
    words = d.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("w"),
    ).repartition(par, "doc_id")
    grams = words.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "CASE WHEN size(w) >= 5"
                " THEN transform(sequence(0, size(w) - 5),"
                " i -> concat_ws(' ', slice(w, i + 1, 5)))"
                " ELSE array() END"
            )
        ).alias("grams"),
    )
    inv = grams.select("doc_id", F.explode("grams").alias("gram"))
    hot = (
        inv.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap)
        .select("gram")
    )
    inv2 = inv.join(F.broadcast(hot), "gram", "left_anti")
    sz = inv2.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = inv2.alias("a")
    b = inv2.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        pairs.join(sz, pairs.doc_a == sz.doc_id)
        .withColumn(
            "containment", F.col("inter") / F.col("sz").cast("double")
        )
        .filter(F.col("containment") >= 0.2)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("containment") * F.lit(1000000.0))
            .cast("bigint")
            .alias("containment_e6"),
        )
        .orderBy("doc_a", "doc_b")
    )


_EXACT_TWIN_CAP = 1000


@query(
    "semantic_dedup_components",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, embedding FROM embeddings
      ORDER BY vec_id LIMIT {_EXACT_TWIN_CAP}
    ),
    jp AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE ROUND(list_reduce(list_transform(generate_series(1, len(a.embedding)),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(a.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))
               * sqrt(list_reduce(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))),
              6) >= 0.40
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM jp
      UNION
      SELECT id_b AS s, id_a AS d FROM jp
    ),
    reach AS (
      SELECT s AS n, s AS m FROM edges
      UNION
      SELECT r.n, e2.d AS m FROM reach r JOIN edges e2 ON r.m = e2.s
    )
    SELECT n AS vec_id, MIN(m) AS component
    FROM reach GROUP BY n ORDER BY vec_id
    """,
)
def semantic_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup end to end: exact cosine >= 0.40
    pairs from the distributed block-pair scorer promoted to
    transitively-connected clusters, each labeled by its minimum
    vec_id — the keep-one-representative decision a semantic dedup
    pass applies. The embedding twin of dedup_components (n-gram
    edges).

    Edges: cosine_allpairs_threshold_blocked — no driver collect,
    B(B+1)/2 independent block-pair tasks, bit-identical to the
    oracle's list_reduce fold. Clusters: iterative min-label
    propagation, one shuffle per round (operators/graph.py). At corpus
    scale swap the exact edge stage for LSH candidates (sim_lsh_topk)
    + this same verify-and-cluster tail. Oracle: DuckDB recursive-CTE
    transitive closure over the identical pair predicate.

    DELIBERATE BOUND (VERDICT r5 #4): the registered form runs on the
    first ``_EXACT_TWIN_CAP`` vec_ids (deterministic TakeOrdered
    slice, identical LIMIT in the oracle, truncation logged — never
    silent), so no registered query is O(n^2) over the FULL corpus.
    The uncapped operator remains available as the candidate-verify
    stage; the registered 100 TB shape is
    ``semantic_dedup_lsh_components``."""
    from local_stream_stack_spark.operators.graph import connected_components
    from local_stream_stack_spark.operators.similarity import (
        cosine_allpairs_threshold_blocked,
    )
    from local_stream_stack_spark.utils import get_logger

    get_logger("queries.training_ops").info(
        "semantic_dedup_components: exact verification twin capped to the"
        " first %d vec_ids (deterministic slice; scale path is"
        " semantic_dedup_lsh_components)",
        _EXACT_TWIN_CAP,
    )
    e = (
        _t(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(_EXACT_TWIN_CAP)
    )
    pairs = cosine_allpairs_threshold_blocked(
        e, id_col="vec_id", vec_col="embedding", threshold=0.40,
        approx_rows=_EXACT_TWIN_CAP,
    )
    return (
        connected_components(pairs, src="id_a", dst="id_b")
        .select(F.col("node").alias("vec_id"), "component")
        .orderBy("vec_id")
    )


@query(
    "semantic_dedup_lsh_components",
    oracle="""
    WITH RECURSIVE npc AS (
      -- n_planes scales with log2(corpus/32): bucket space is a
      -- function of corpus size (floor(log2(x)) = length(bin(x))-1,
      -- exact on both engines); floor 8 keeps driver-scale corpora
      -- on the historical 8x8 grid
      SELECT GREATEST(8, length(bin(GREATEST(COUNT(*) // 32, 1))) - 1 + 1)
               AS np
      FROM embeddings
    ),
    planes AS (
      SELECT t.t, j.j, i.i,
             CAST('0x' || substring(md5(concat(t.t,'|',j.j,'|',i.i)), 1, 4)
                  AS INT) % 7 - 3 AS w
      FROM generate_series(0,7) t(t),
           generate_series(0,30) j(j),
           generate_series(0,63) i(i)
      WHERE j.j < (SELECT np FROM npc)
    ),
    qv AS (
      SELECT vec_id, i.i AS i,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, generate_series(0,63) i(i)
    ),
    proj AS (
      SELECT q.vec_id, p.t, p.j, SUM(q.x * p.w) AS s
      FROM qv q JOIN planes p ON q.i = p.i
      GROUP BY q.vec_id, p.t, p.j
    ),
    sig AS (
      SELECT vec_id, t,
             SUM(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << j
                      ELSE CAST(0 AS BIGINT) END) AS bucket
      FROM proj GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a
      JOIN sig b ON a.t = b.t AND a.bucket = b.bucket
                AND a.vec_id < b.vec_id
    ),
    jp AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.id_a
      JOIN embeddings b ON b.vec_id = c.id_b
      WHERE ROUND(list_reduce(list_transform(generate_series(1, len(a.embedding)),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(a.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))
               * sqrt(list_reduce(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))),
              6) >= 0.40
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM jp
      UNION
      SELECT id_b AS s, id_a AS d FROM jp
    ),
    reach AS (
      SELECT s AS n, s AS m FROM edges
      UNION
      SELECT r.n, e2.d AS m FROM reach r JOIN edges e2 ON r.m = e2.s
    )
    SELECT n AS vec_id, MIN(m) AS component
    FROM reach GROUP BY n ORDER BY vec_id
    """,
)
def semantic_dedup_lsh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SCALE PATH: LSH candidate pairs -> exact-cosine
    verify on the candidates ONLY -> connected components. The
    registered 100 TB form of ``semantic_dedup_components`` (which
    keeps the exact B(B+1)/2 block-pair scorer as its small-corpus
    verification twin): compute here is O(candidates), never O(n^2) —
    on this corpus the candidate stage prunes ~96% of all pairs before
    any cosine is evaluated.

    The candidate stage is DETERMINISTIC integer LSH
    (``operators/similarity.py: lsh_candidate_pairs_deterministic``):
    md5-derived integer hyperplanes over floor-quantized vectors, all
    int64 arithmetic — so the ORACLE reproduces the exact candidate
    set CTE-for-CTE (planes -> quantize -> project -> band -> bucket
    join), then applies the identical verify predicate and recursive
    transitive closure. Engine parity is bit-for-bit at every stage,
    not recall-approximate.

    Recall is the standard banding curve: at production near-dup
    thresholds (cos >= 0.9) these defaults (8 tables x 8 planes) catch
    nearly all true pairs; at this corpus's deliberately-hard 0.40
    threshold (inside the background similarity distribution of random
    vectors) recall is partial — the inherent LSH trade the exact twin
    exists to quantify. Plan: one Arrow-batched matmul per vector
    batch, shuffle of n_tables rows/vector on (table, bucket), hash
    join, then the verify join pulls each candidate's two vectors by
    id. tests/test_training_ops.py pins that the verify stage consumes
    candidate pairs, not block pairs.

    SCALE KNOB (applied in round 7, measured at 10x and 100x):
    candidate pairs grow ~n^2/buckets when bucket count is constant,
    so ``n_planes`` is now max(8, floor(log2(n/32)) + 1) — derived
    from one count() job, replayed exactly by the oracle from
    COUNT(*) — holding per-bucket occupancy ~O(32) at any corpus
    size. Bucket space, like shuffle partitions, is a function of
    corpus size, not a constant; driver-scale corpora stay on the
    historical 8x8 grid."""
    from local_stream_stack_spark.operators.graph import connected_components
    from local_stream_stack_spark.operators.similarity import (
        cosine,
        lsh_candidate_pairs_deterministic,
        scaled_n_planes,
    )

    e = _t(spark, sf_dir, "embeddings")
    # bucket space scales with corpus size: scaled_n_planes holds
    # per-bucket occupancy ~O(32) at any scale (pinned in
    # tests/test_similarity.py); driver-scale corpora (sf0.01/0.1)
    # stay on the historical 8x8 grid, and the oracle computes the
    # SAME count from COUNT(*) so parity holds at every scale. One
    # count() job driver-side — parameter-sized, same pattern as
    # the iterative trainers.
    n_vecs = e.count()
    n_planes = scaled_n_planes(n_vecs)
    cand = lsh_candidate_pairs_deterministic(
        e, id_col="vec_id", vec_col="embedding", dim=64,
        n_tables=8, n_planes=n_planes,
    )
    ea = e.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va")
    )
    eb = e.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb")
    )
    verified = (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .filter(
            F.round(cosine(F.col("__va"), F.col("__vb")), 6) >= F.lit(0.40)
        )
        .select("id_a", "id_b")
    )
    return (
        connected_components(verified, src="id_a", dst="id_b")
        .select(F.col("node").alias("vec_id"), "component")
        .orderBy("vec_id")
    )


@query(
    "decontaminate_semantic",
    oracle="""
    WITH RECURSIVE npc AS (
      SELECT GREATEST(8, length(bin(GREATEST(COUNT(*) // 32, 1))) - 1 + 1)
               AS np
      FROM embeddings
    ),
    planes AS (
      SELECT t.t, j.j, i.i,
             CAST('0x' || substring(md5(concat(t.t,'|',j.j,'|',i.i)), 1, 4)
                  AS INT) % 7 - 3 AS w
      FROM generate_series(0,7) t(t),
           generate_series(0,30) j(j),
           generate_series(0,63) i(i)
      WHERE j.j < (SELECT np FROM npc)
    ),
    qv AS (
      SELECT vec_id, i.i AS i,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, generate_series(0,63) i(i)
    ),
    proj AS (
      SELECT q.vec_id, p.t, p.j, SUM(q.x * p.w) AS s
      FROM qv q JOIN planes p ON q.i = p.i
      GROUP BY q.vec_id, p.t, p.j
    ),
    sig AS (
      SELECT vec_id, t,
             SUM(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << j
                      ELSE CAST(0 AS BIGINT) END) AS bucket
      FROM proj GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a
      JOIN sig b ON a.t = b.t AND a.bucket = b.bucket
                AND a.vec_id < b.vec_id
    ),
    sp AS (
      SELECT vec_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                             1, 4)) AS INT) % 100 < 80
                  THEN 'train' ELSE 'eval' END AS split
      FROM embeddings
    ),
    cx AS (
      SELECT CASE WHEN sa.split = 'eval' THEN c.id_a ELSE c.id_b END
               AS eval_id,
             CASE WHEN sa.split = 'eval' THEN c.id_b ELSE c.id_a END
               AS train_id
      FROM cand c
      JOIN sp sa ON sa.vec_id = c.id_a
      JOIN sp sb ON sb.vec_id = c.id_b
      WHERE sa.split <> sb.split
    ),
    jp AS (
      SELECT cx.eval_id, cx.train_id,
             ROUND(list_reduce(list_transform(
                     generate_series(1, len(a.embedding)),
                     i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(a.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                     (x,y) -> x+y))
                * sqrt(list_reduce(list_transform(b.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                     (x,y) -> x+y))),
               6) AS cos6
      FROM cx
      JOIN embeddings a ON a.vec_id = cx.eval_id
      JOIN embeddings b ON b.vec_id = cx.train_id
    ),
    hits AS (SELECT * FROM jp WHERE cos6 >= 0.40)
    SELECT eval_id AS vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_train_near,
           CAST(FLOOR(MAX(cos6) * 1e6 + 0.5) AS BIGINT) AS max_cos_e6
    FROM hits GROUP BY eval_id ORDER BY vec_id
    """,
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (VERDICT r12 #7): eval-split
    vectors with a TRAIN-split near-duplicate in cosine space — the
    sweep real pipelines run after the prefix-hash
    (``decontaminate_splits``) and token-8-gram
    (``decontaminate_ngram_overlap``) passes, catching paraphrase-level
    leakage the lexical passes miss.

    Scale shape: candidates come from the SAME deterministic integer
    LSH bucketing as ``semantic_dedup_lsh_components`` (md5-derived
    hyperplanes, bucket space scaled to corpus size) — never a
    cross-split all-pairs product; the split filter then keeps only
    eval x train candidate pairs before the exact-cosine verify
    touches any vectors. Split assignment is the md5-bucket scheme of
    ``decontaminate_splits`` (80/20), replayed bit-for-bit by the
    oracle. The verify threshold and e6 rounding are the established
    cross-engine-deterministic forms."""
    from local_stream_stack_spark.operators.similarity import (
        cosine,
        lsh_candidate_pairs_deterministic,
        scaled_n_planes,
    )

    e = _t(spark, sf_dir, "embeddings")
    n_vecs = e.count()
    n_planes = scaled_n_planes(n_vecs)
    cand = lsh_candidate_pairs_deterministic(
        e, id_col="vec_id", vec_col="embedding", dim=64,
        n_tables=8, n_planes=n_planes,
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % 100
    )
    sp = e.select(
        "vec_id",
        F.when(bucket < 80, F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
    sa = sp.select(
        F.col("vec_id").alias("id_a"), F.col("split").alias("__sa")
    )
    sb = sp.select(
        F.col("vec_id").alias("id_b"), F.col("split").alias("__sb")
    )
    cx = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("__sa") != F.col("__sb"))
        .select(
            F.when(F.col("__sa") == "eval", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("eval_id"),
            F.when(F.col("__sa") == "eval", F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("train_id"),
        )
    )
    ea = e.select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("__va")
    )
    eb = e.select(
        F.col("vec_id").alias("train_id"), F.col("embedding").alias("__vb")
    )
    hits = (
        cx.join(ea, "eval_id")
        .join(eb, "train_id")
        .select(
            "eval_id",
            F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cos6"),
        )
        .filter(F.col("cos6") >= F.lit(0.40))
    )
    return (
        hits.groupBy(F.col("eval_id").alias("vec_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_train_near"),
            F.expr(
                "CAST(FLOOR(MAX(cos6) * 1e6 + 0.5) AS BIGINT)"
            ).alias("max_cos_e6"),
        )
        .orderBy("vec_id")
    )


@query(
    "perplexity_unigram",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    tk AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
    vocab AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
    tot AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM vocab),
    lp AS (
      SELECT tok,
             CAST(ROUND(ln((c + 1.0) / (total + v)) * 1000000) AS BIGINT)
               AS logp_e6
      FROM vocab CROSS JOIN tot
    ),
    dt AS (
      SELECT doc_id, tok, COUNT(*) AS n FROM tk GROUP BY doc_id, tok
    )
    SELECT d.doc_id,
           CAST(SUM(d.n) AS BIGINT) AS n_tokens,
           CAST(ROUND(-CAST(SUM(d.n * l.logp_e6) AS DOUBLE)
                      / CAST(SUM(d.n) AS DOUBLE) / 100) AS BIGINT)
             AS nll_per_token_e4
    FROM dt d JOIN lp l ON d.tok = l.tok
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: train add-one-smoothed
    token probabilities on the corpus itself, then score each document
    by mean negative log-likelihood per token — the classic
    perplexity-based quality filter (high = unusual/garbled text).

    Determinism: per-token ln p rounds ONCE to a scaled BIGINT
    (``logp_e6`` = ln p x 10^6), so the per-doc aggregate is an exact
    integer sum — order-independent, immune to partition-layout float
    drift — and the output (``nll_per_token_e4``) is the one double
    division rounded back to an integer, which hashes identically on
    both engines. Plan:
    one token explode feeds vocab counts (shuffle on token), the tiny
    log-prob table joins back on token, and the per-doc aggregate
    shuffles (doc, token) count rows, never raw text."""
    d = _t(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    vocab = tk.groupBy("tok").agg(F.count("*").alias("c"))
    tot = vocab.agg(
        F.sum("c").alias("total"), F.count("*").alias("v")
    )
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            F.log((F.col("c") + F.lit(1.0)) / (F.col("total") + F.col("v")))
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("logp_e6"),
    )
    dt = tk.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    return (
        dt.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.round(
                -F.sum(F.col("n") * F.col("logp_e6")).cast("double")
                / F.sum("n").cast("double")
                / F.lit(100.0)
            )
            .cast("bigint")
            .alias("nll_per_token_e4"),
        )
        .orderBy("doc_id")
    )


@query(
    "partitioned_roundtrip_docs",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE lang = 'en'
    ORDER BY doc_id
    """,
)
def partitioned_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned dataset layout round-trip: write documents
    partitioned by language, read back ONLY the lang='en' partition.
    On a 100 TB lake this is the difference between scanning the world
    and scanning one directory — the filter becomes a partition
    PRUNING decision at planning time (tests/test_partitioning.py
    pins PartitionFilters in the scan plan), and the same layout is
    what makes per-language curation stages scan-only. Values must
    round-trip exactly (partition column restored from the directory
    key)."""

    d = _t(spark, sf_dir, "documents")
    out = ephemeral_dir(prefix="lss-partitioned-docs-")
    (
        d.select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    return back.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH g AS (
      SELECT unnest(generate_series(1,
               (SELECT max(len(embedding)) FROM embeddings))) AS i
    ),
    cells AS (
      SELECT e.vec_id, g.i, CAST(e.embedding[g.i] AS DOUBLE) AS v,
             len(e.embedding) AS dim
      FROM embeddings e CROSS JOIN g
      WHERE g.i <= len(e.embedding)
    ),
    ext AS (SELECT i, MIN(v) AS lo, MAX(v) AS hi FROM cells GROUP BY i),
    q AS (
      SELECT c.vec_id, c.dim,
             CASE WHEN x.hi > x.lo
                  THEN x.lo + ROUND((c.v - x.lo) / (x.hi - x.lo) * 255, 0)
                       * (x.hi - x.lo) / 255
                  ELSE x.lo END AS recon,
             c.v
      FROM cells c JOIN ext x ON c.i = x.i
    )
    SELECT vec_id,
           CAST(ROUND(CAST(SUM(CAST(ROUND((v - recon) * (v - recon) * 1e12)
                                    AS BIGINT)) AS DOUBLE)
                      / CAST(ANY_VALUE(dim) AS DOUBLE)) AS BIGINT) AS mse_e12
    FROM q
    GROUP BY vec_id
    ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column with per-vector
    reconstruction error — the 4x storage/bandwidth compression step
    before ANN indexing at corpus scale.

    Per-dimension [min, max] extents come from one posexplode +
    partial-aggregated groupBy(dim): map-side combine collapses each
    partition to |dims| extent rows before the shuffle, so the
    exchange is O(partitions x dims), not O(rows x dims). The tiny
    extents table broadcasts back; quantize/dequantize and the
    squared-error terms are pure codegen. Errors round ONCE per cell
    to a scaled BIGINT (x 10^12), so the per-vector sum is an exact
    integer on both engines — accumulation-order-independent — and the
    output (``mse_e12`` = MSE x 10^12) is a single double division
    rounded back to an integer, which hashes identically under the
    driver's typed canonicalization."""
    e = _t(spark, sf_dir, "embeddings")
    cells = e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.posexplode("embedding").alias("i0", "vf"),
    ).select(
        "vec_id",
        "dim",
        (F.col("i0") + 1).alias("i"),
        F.col("vf").cast("double").alias("v"),
    )
    ext = cells.groupBy("i").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    recon = F.when(
        F.col("hi") > F.col("lo"),
        F.col("lo")
        + F.round((F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255, 0)
        * (F.col("hi") - F.col("lo"))
        / 255,
    ).otherwise(F.col("lo"))
    q = cells.join(F.broadcast(ext), "i").select(
        "vec_id",
        "dim",
        F.round((F.col("v") - recon) * (F.col("v") - recon) * F.lit(1e12))
        .cast("bigint")
        .alias("sqerr_e12"),
    )
    return (
        q.groupBy("vec_id")
        .agg(
            F.round(
                F.sum("sqerr_e12").cast("double")
                / F.first("dim").cast("double")
            )
            .cast("bigint")
            .alias("mse_e12")
        )
        .orderBy("vec_id")
    )


@query(
    "unicode_nfc_normalize",
    oracle="""
    WITH dirty AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' cafe' || chr(769) || ' nai' || chr(776)
               || 've A' || chr(778) || ' fi' AS t
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           nfc_normalize(t) AS normalized,
           CAST(length(t) AS BIGINT) AS len_before,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS len_after,
           (t <> nfc_normalize(t)) AS changed
    FROM dirty
    ORDER BY doc_id
    """,
)
def unicode_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonicalization step every
    text-dedup pipeline runs first (composed vs decomposed accents
    hash differently; 'e'+COMBINING ACUTE vs 'é' must dedup as one).

    Spark has no built-in normalizer, so this is the honest
    Arrow-batched pandas-UDF slow path (unicodedata.normalize per
    batch, no per-row Python round trips) against DuckDB's
    utf8proc-backed nfc_normalize — both implement the same Unicode
    canonical composition, so outputs match exactly. A deterministic
    decomposed suffix (combining acute/diaeresis/ring) is appended on
    both engines since the synthetic corpus is ASCII-clean. Counted
    lengths are Unicode code points on both engines."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda x: None if x is None else unicodedata.normalize("NFC", x))

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    dirty = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" café naïve Å fi"),
        ).alias("t"),
    )
    return (
        dirty.withColumn("normalized", nfc(F.col("t")))
        .select(
            "doc_id",
            "normalized",
            F.length("t").cast("bigint").alias("len_before"),
            F.length("normalized").cast("bigint").alias("len_after"),
            (F.col("t") != F.col("normalized")).alias("changed"),
        )
        .orderBy("doc_id")
    )


@query(
    "cdc_merge_summary",
    oracle="""
    WITH old_state AS (
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE epoch(CAST(ts AS TIMESTAMP)) < 1704067200 + 43200
      ) t WHERE rn = 1
    ),
    new_state AS (
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) t WHERE rn = 1
    )
    SELECT
      CAST(SUM(CASE WHEN o.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_inserted,
      CAST(SUM(CASE WHEN o.user_id IS NOT NULL AND n.user_id IS NOT NULL
                         AND o.event_id <> n.event_id THEN 1 ELSE 0 END) AS BIGINT)
        AS n_updated,
      CAST(SUM(CASE WHEN o.user_id IS NOT NULL AND n.user_id IS NOT NULL
                         AND o.event_id = n.event_id THEN 1 ELSE 0 END) AS BIGINT)
        AS n_unchanged,
      CAST(SUM(CASE WHEN n.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_deleted
    FROM old_state o FULL OUTER JOIN new_state n ON o.user_id = n.user_id
    """,
)
def cdc_merge_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture merge classification: diff the keyed state
    at a cutoff (first 12 h of the stream) against the final state and
    count inserted / updated / unchanged / deleted keys — the audit
    row every MERGE INTO emits, and the batch form of maintaining the
    reference's compacted-topic view across epochs (A15/A16).

    Both snapshots are latest-per-key windows (WindowGroupLimit-pruned,
    one shuffle on user_id each) over the SAME scan lineage; the full
    outer join on the key classifies membership. At 100 TB the old
    state is the stored view, not a rescan — the classification join
    is unchanged."""
    from local_stream_stack_spark.operators.events import latest_per_key
    from local_stream_stack_spark.utils.ts import epoch_s

    e = _t(spark, sf_dir, "events")
    old_state = latest_per_key(
        e.filter(epoch_s("ts") < 1704067200 + 43200),
        keys=["user_id"],
        order_by=["ts", "event_id"],
    ).select(F.col("user_id").alias("o_user"), F.col("event_id").alias("o_eid"))
    new_state = latest_per_key(
        e, keys=["user_id"], order_by=["ts", "event_id"]
    ).select(F.col("user_id").alias("n_user"), F.col("event_id").alias("n_eid"))
    j = old_state.join(
        new_state, F.col("o_user") == F.col("n_user"), "full_outer"
    )
    return j.agg(
        F.sum(F.when(F.col("o_user").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserted"),
        F.sum(
            F.when(
                F.col("o_user").isNotNull()
                & F.col("n_user").isNotNull()
                & (F.col("o_eid") != F.col("n_eid")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_updated"),
        F.sum(
            F.when(
                F.col("o_user").isNotNull()
                & F.col("n_user").isNotNull()
                & (F.col("o_eid") == F.col("n_eid")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_unchanged"),
        F.sum(F.when(F.col("n_user").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_deleted"),
    )


@query(
    "fuzzy_name_match",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_brand, p_name,
             string_split(p_name, ' ')[1] AS first_word
      FROM part
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand
     AND a.first_word = b.first_word
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 12
    ORDER BY key_a, key_b
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: part-name pairs within edit distance 12,
    blocked by (brand, first word) — the record-linkage shape (catalog
    dedup, supplier reconciliation). Blocking turns the O(n²) distance
    matrix into an equi-join whose pair space is bounded per block;
    levenshtein runs as a JVM codegen residual on co-blocked pairs
    only. At corpus scale add a length band to the block key. Integer
    distances, so both engines agree exactly."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
    )
    a = p.alias("a")
    b = p.alias("b")
    joined = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.first_word") == F.col("b.first_word"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )
    matched = (
        joined.select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            # measured (r13): the bounded levenshtein(…, threshold=12)
            # variant was 1.8x SLOWER here — p_name is ~30 chars, so
            # the banded DP's early-abandon bookkeeping costs more than
            # the 12-wide band saves; the plain full-matrix form wins
            # at this string length (guide §1.1 — measure, don't
            # assume)
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("int")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 12)
        # pin before the global sort: the subtree below is NARROW
        # (broadcast self-join, no exchange), so the range
        # partitioner's sampling job would otherwise re-execute the
        # whole ~1M-pair join + levenshtein a second time just to
        # pick sort bounds (guide §5 localCheckpoint / §2.4)
        .localCheckpoint(eager=True)
    )
    return matched.orderBy("key_a", "key_b")


@query(
    "triangle_count",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey < 2000
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges
    FROM edges e1
    JOIN edges e2 ON e1.d = e2.s
    JOIN edges e3 ON e1.s = e3.s AND e2.d = e3.d
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (parts appearing in
    the same order are connected) — the clustering-coefficient /
    community-density primitive.

    Edges orient low-id -> high-id, so each triangle is counted
    exactly once by the two-hop + closing-edge join (the standard
    MapReduce-era formulation). Edge construction is an equi-join on
    the order key with per-order fan-out bounded by order size; the
    triangle joins are equi-joins on part ids — no cross products
    anywhere, and at 100 TB the heavy-hitter guard is capping
    per-order line counts (orders are naturally small). The orderkey
    slice keeps the oracle's 3-way join cheap while exercising the
    identical plan."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("d")
        )
        .distinct()
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.d") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e1.s") == F.col("e3.s")) & (F.col("e2.d") == F.col("e3.d")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    return tri.crossJoin(
        edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    )


def _pagerank_oracle_sql(
    iterations: int = 5, damp_n: int = 85, m: int = 10**12
) -> str:
    """Unrolled fixed-iteration PageRank oracle: because the operator's
    update rule is pure integer arithmetic (scaled-BIGINT ranks,
    round-half-up via ``(2a + b) // (2b)``), each power-method step is
    one plain SQL SELECT — five chained CTEs replay the iteration
    bit-for-bit, no recursion needed."""
    sql = [
        """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey < 2000
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nodes AS (SELECT s AS n FROM edges UNION SELECT d FROM edges),
    params AS (
      SELECT COUNT(*) AS nn,"""
        + f"""
             (2 * {m} + COUNT(*)) // (2 * COUNT(*)) AS init_e,
             (2 * {100 - damp_n} * {m} + 100 * COUNT(*))
               // (200 * COUNT(*)) AS base_e
      FROM nodes
    ),
    deg AS (SELECT s AS n, COUNT(*) AS deg FROM edges GROUP BY s),
    r0 AS (SELECT n, (SELECT init_e FROM params) AS rank_e FROM nodes)"""
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        sql.append(
            f""",
    c{i} AS (
      SELECT e.d AS n, SUM((2 * r.rank_e + dg.deg) // (2 * dg.deg)) AS cs
      FROM {prev} r JOIN deg dg ON dg.n = r.n JOIN edges e ON e.s = r.n
      GROUP BY e.d
    ),
    d{i} AS (
      SELECT (2 * COALESCE(SUM(r.rank_e), 0) + (SELECT nn FROM params))
               // (2 * (SELECT nn FROM params)) AS dshare
      FROM {prev} r LEFT JOIN deg dg ON dg.n = r.n WHERE dg.deg IS NULL
    ),
    r{i} AS (
      SELECT nodes.n,
             (SELECT base_e FROM params)
             + (2 * {damp_n} * (COALESCE(c.cs, 0)
                                + (SELECT dshare FROM d{i})) + 100) // 200
               AS rank_e
      FROM nodes LEFT JOIN c{i} c ON c.n = nodes.n
    )"""
        )
        prev = f"r{i}"
    sql.append(
        f"""
    SELECT n AS node, CAST(rank_e AS BIGINT) AS rank_e12
    FROM {prev}
    ORDER BY rank_e12 DESC, node ASC
    LIMIT 20
    """
    )
    return "".join(sql)


@query("pagerank_copurchase", oracle=_pagerank_oracle_sql())
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank over the directed co-purchase graph (low part id
    -> high part id within an order) — the iterative-algorithm
    representative beyond connected components. Power iteration with
    INTEGER-exact scaled-BIGINT accumulation (operators/graph.pagerank),
    so the result is partitioning- AND engine-deterministic: the oracle
    replays the identical fixed-point update as five unrolled CTE
    steps (``_pagerank_oracle_sql``) — the previously rows-only query
    is now fully oracle-backed. tests/test_training_ops.py additionally
    pins ranking properties and determinism on a fixture graph."""
    from local_stream_stack_spark.operators.graph import pagerank

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    return (
        pagerank(edges, iterations=5)
        .select("node", "rank_e12")
        .orderBy(F.desc("rank_e12"), F.asc("node"))
        .limit(20)
    )


@query(
    "decile_bounds_price",
    oracle="""
    SELECT o_orderpriority,
           CAST(u.decile AS INT) AS decile,
           CAST(ROUND(u.bound * 10000) AS BIGINT) AS bound_e4
    FROM (
      SELECT o_orderpriority, unnest([
        {'decile': 1, 'bound': quantile_cont(o_totalprice, 0.1)},
        {'decile': 2, 'bound': quantile_cont(o_totalprice, 0.2)},
        {'decile': 3, 'bound': quantile_cont(o_totalprice, 0.3)},
        {'decile': 4, 'bound': quantile_cont(o_totalprice, 0.4)},
        {'decile': 5, 'bound': quantile_cont(o_totalprice, 0.5)},
        {'decile': 6, 'bound': quantile_cont(o_totalprice, 0.6)},
        {'decile': 7, 'bound': quantile_cont(o_totalprice, 0.7)},
        {'decile': 8, 'bound': quantile_cont(o_totalprice, 0.8)},
        {'decile': 9, 'bound': quantile_cont(o_totalprice, 0.9)}
      ]) AS u
      FROM orders GROUP BY o_orderpriority
    )
    ORDER BY o_orderpriority, decile
    """,
)
def decile_bounds_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-priority price decile boundaries (d10..d90) — the
    feature-binning prerequisite (quantile bucketing for numeric
    features, length-balanced batch construction for documents).

    All nine quantiles share ONE three-pass exact-quantile pipeline
    (operators/quantiles.exact_quantiles_multi): the rank set is the
    union over the nine targets, so adding quantiles adds no scans.
    Output unpivots to (priority, decile, bound) rows for the oracle's
    GROUP BY form."""
    from local_stream_stack_spark.operators.quantiles import exact_quantiles

    o = _t(spark, sf_dir, "orders")
    qs = [i / 10.0 for i in range(1, 10)]
    names = [f"d{i}0" for i in range(1, 10)]
    wide = exact_quantiles(
        o, "o_totalprice", qs, ["o_orderpriority"], out_cols=names
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("decile"), F.col(f"d{i}0").alias("bound")
            )
            for i in range(1, 10)
        ]
    )
    return (
        wide.select(
            "o_orderpriority", F.explode(pairs).alias("p")
        )
        .select(
            "o_orderpriority",
            F.col("p.decile").cast("int").alias("decile"),
            F.round(F.col("p.bound") * F.lit(10000.0))
            .cast("bigint")
            .alias("bound_e4"),
        )
        .orderBy("o_orderpriority", "decile")
    )


@query(
    "stratified_sample_sources",
    oracle="""
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) AS h,
             CAST(100 + 8 * (CAST('0x' || substring(md5(source), 1, 4)
                                  AS INT) % 100) AS BIGINT) AS pm
      FROM documents
    ) t
    WHERE h * 1000 < 4294967296 * pm
    ORDER BY doc_id
    """,
)
def stratified_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-source) Bernoulli sampling — the
    mixture-rebalancing step of corpus curation: each source keeps an
    independent fraction in [0.1, 0.9), derived from the md5 of the
    SOURCE NAME (so the policy follows the corpus — no hardcoded
    source list to go stale), and each document's admission is an
    INTEGER threshold test on the md5 of its doc id — identical on
    every engine, partitioning, and rerun (no float comparison against
    data, no RNG state). The admission compare is PURE integer
    arithmetic — ``h * 1000 < 2^32 * (100 + 8*src_pct)`` — with no
    division or float-to-int cast anywhere, so there is no truncation
    vs rounding divergence between engines at any boundary value. A
    real pipeline swaps the hash-derived rate for a policy table; the
    admission mechanics stay the same.

    Scan-shaped: both hashes and the compare are per-row codegen — no
    join, no shuffle before the output sort. At 100 TB this composes
    with `source_char_budget` (quota after sampling) and
    `weighted_sample` (size-biased choice within the admitted set)."""
    d = _t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    src_pct = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 4), 16, 10).cast("int")
        % 100
    )
    pm = (F.lit(100) + F.lit(8) * src_pct).cast("bigint")
    return (
        d.select("doc_id", "source", h.alias("h"), pm.alias("pm"))
        .filter(
            F.col("h") * F.lit(1000)
            < F.lit(4294967296).cast("bigint") * F.col("pm")
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "price_decile_assign",
    oracle="""
    WITH bounds AS (
      SELECT o_orderpriority, unnest([
        quantile_cont(o_totalprice, 0.1), quantile_cont(o_totalprice, 0.2),
        quantile_cont(o_totalprice, 0.3), quantile_cont(o_totalprice, 0.4),
        quantile_cont(o_totalprice, 0.5), quantile_cont(o_totalprice, 0.6),
        quantile_cont(o_totalprice, 0.7), quantile_cont(o_totalprice, 0.8),
        quantile_cont(o_totalprice, 0.9)
      ]) AS b
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(1 + COUNT(CASE WHEN o.o_totalprice > b.b THEN 1 END)
                AS BIGINT) AS decile
    FROM orders o JOIN bounds b USING (o_orderpriority)
    GROUP BY o.o_orderkey, o.o_orderpriority
    ORDER BY o.o_orderkey
    """,
)
def price_decile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-bucket FEATURE BINNING: assign every order its
    within-priority price decile (1..10) by comparing against the nine
    exact decile boundaries — the numeric-feature bucketing /
    length-balanced batching primitive (`decile_bounds_price` computes
    the same bounds as a report; this query APPLIES them back to rows).

    The 3-pass exact-quantile pipeline produces a 5-row bounds table
    that broadcasts over one clean scan of orders: bucket = 1 + number
    of bounds strictly below the price, evaluated in codegen. Never a
    rank-the-whole-table window (NTILE over n rows per priority is the
    single-reducer sort this avoids). Ties sit in the LOWER bucket on
    both engines (strict > on identical exact bounds)."""
    from local_stream_stack_spark.operators.quantiles import exact_quantiles

    o = _t(spark, sf_dir, "orders")
    qs = [i / 10.0 for i in range(1, 10)]
    names = [f"d{i}0" for i in range(1, 10)]
    bounds = exact_quantiles(
        o, "o_totalprice", qs, ["o_orderpriority"], out_cols=names
    )
    decile = F.lit(1)
    for n in names:
        decile = decile + F.when(
            F.col("o_totalprice") > F.col(n), F.lit(1)
        ).otherwise(F.lit(0))
    return (
        o.select("o_orderkey", "o_orderpriority", "o_totalprice")
        .join(F.broadcast(bounds), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            decile.cast("bigint").alias("decile"),
        )
        # pin before the global sort: the segment below (orders scan +
        # broadcast bounds join) would re-run for the sort's
        # bound-sampling job (guide §5)
        .localCheckpoint(eager=True)
        .orderBy("o_orderkey")
    )


@query(
    "dq_expectations_orders",
    oracle="""
    SELECT 'orderdate_in_range' AS rule,
           COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01 00:00:00'
                               OR o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orderkey_not_null',
           COUNT(*) FILTER (WHERE o_orderkey IS NULL) FROM orders
    UNION ALL
    SELECT 'orderkey_unique',
           COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'orderstatus_accepted',
           COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
      FROM orders
    UNION ALL
    SELECT 'totalprice_positive',
           COUNT(*) FILTER (WHERE NOT (o_totalprice > 0)) FROM orders
    ORDER BY rule
    """,
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over the orders snapshot
    (operators/quality.expectations_report): four row rules share ONE
    conditional-count aggregate over one scan, uniqueness is one
    distinct-style aggregate — adding rules adds columns, not scans.
    The admit/abort decision a curation pipeline makes before
    publishing a snapshot; violation COUNTS are the contract (the
    violating rows are a follow-up filtered scan, never collected)."""
    from local_stream_stack_spark.operators.quality import (
        expectations_report,
    )

    o = _t(spark, sf_dir, "orders")
    return expectations_report(
        o,
        row_rules={
            "orderdate_in_range": (
                (F.col("o_orderdate") < F.expr("TIMESTAMP '1992-01-01 00:00:00'"))
                | (F.col("o_orderdate") >= F.expr("TIMESTAMP '1999-01-01 00:00:00'"))
            ),
            "orderkey_not_null": F.col("o_orderkey").isNull(),
            "orderstatus_accepted": ~F.col("o_orderstatus").isin("F", "O", "P"),
            "totalprice_positive": ~(F.col("o_totalprice") > 0),
        },
        unique_rules={"orderkey_unique": ["o_orderkey"]},
    )


@query(
    "dpp_partitioned_lang_join",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT lang FROM documents
      WHERE lang IN ('en', 'fr')
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN dim USING (lang)
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def dpp_partitioned_lang_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING: the fact side is a lang-partitioned
    parquet table; the join against a filtered dimension prunes the
    fact SCAN to the dimension's partitions at runtime — at 100 TB
    this is the difference between scanning 2 of 5 language partitions
    and scanning the corpus (static pruning can't do it: the partition
    set comes from the dim side's rows, not a literal). The plan
    carries `dynamicpruningexpression` on the fact scan
    (tests/test_plans.py pins it); the oracle computes the same join
    on the raw table. Partition values round-trip losslessly through
    the directory keys (same contract partitioned_roundtrip_docs
    pins). The partitioned copy is cached per (session, sf_dir) and
    removed at exit — repeated bench runs do not leak a copy each."""
    from local_stream_stack_spark.utils.scratch import (
        session_scratch_dir,
        session_suffix,
    )

    d = _t(spark, sf_dir, "documents")
    base, fresh = session_scratch_dir(
        spark, f"dpp-{session_suffix(spark, sf_dir, 'dpp')}"
    )
    if fresh:
        (
            d.select("doc_id", "n_chars", "lang")
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(base)
        )
    fact = spark.read.parquet(base)
    dim = (
        d.select("lang")
        .where(F.col("lang").isin("en", "fr"))
        .distinct()
    )
    return (
        fact.join(dim, "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


def _kmeans_oracle_sql(k: int = 4, iterations: int = 3) -> str:
    """Unrolled fixed-iteration Lloyd oracle: the operator's update
    rule is pure integer arithmetic (quantized shifted-BIGINT vectors,
    integer squared distances, round-half-up integer-mean centroids via
    ``(2s + n) // (2n)``), so each Lloyd round is three plain SQL CTEs
    (distance, argmin assignment, centroid update) — replayed
    bit-for-bit, no recursion (same discipline as
    ``_pagerank_oracle_sql``)."""
    sql = [
        f"""
    WITH ev AS (
      SELECT vec_id, i.i AS i,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) + 1000000 AS x
      FROM embeddings, generate_series(0, 63) i(i)
    ),
    seeds AS (
      SELECT vec_id, c FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c
        FROM embeddings) t
      WHERE c < {k}
    ),
    m0 AS (
      SELECT s.c, e.i, e.x AS m
      FROM seeds s JOIN ev e ON e.vec_id = s.vec_id
    )"""
    ]
    prev = "m0"
    for t in range(1, iterations + 2):
        last = t == iterations + 1
        sql.append(
            f""",
    d{t} AS (
      SELECT e.vec_id, m.c, SUM((e.x - m.m) * (e.x - m.m)) AS d
      FROM ev e JOIN {prev} m ON m.i = e.i
      GROUP BY e.vec_id, m.c
    ),
    a{t} AS (
      SELECT vec_id, c, d FROM (
        SELECT vec_id, c, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d, c) AS rn
        FROM d{t}) t
      WHERE rn = 1
    )"""
        )
        if last:
            break
        sql.append(
            f""",
    u{t} AS (
      SELECT a.c, e.i, SUM(e.x) AS s, COUNT(*) AS n
      FROM a{t} a JOIN ev e ON e.vec_id = a.vec_id
      GROUP BY a.c, e.i
    ),
    m{t} AS (
      SELECT p.c, p.i,
             CAST(COALESCE((2 * u.s + u.n) // (2 * u.n), p.m)
                  AS BIGINT) AS m
      FROM {prev} p LEFT JOIN u{t} u ON u.c = p.c AND u.i = p.i
    )"""
        )
        prev = f"m{t}"
    fin = iterations + 1
    sql.append(
        f"""
    SELECT CAST(s.c AS INT) AS cluster,
           CAST(s.n_members AS BIGINT) AS n_members,
           CAST(cs.centroid_l1 AS BIGINT) AS centroid_l1,
           CAST(s.inertia AS BIGINT) AS inertia
    FROM (SELECT c, COUNT(*) AS n_members, SUM(d) AS inertia
          FROM a{fin} GROUP BY c) s
    JOIN (SELECT c, SUM(m) AS centroid_l1 FROM {prev} GROUP BY c) cs
      ON cs.c = s.c
    ORDER BY cluster
    """
    )
    return "".join(sql)


@query("kmeans_embeddings", oracle=_kmeans_oracle_sql())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=4, 3 Lloyd rounds) over the embeddings
    corpus — the iterative-ML representative beyond pagerank/connected
    components, and the trainer shape for ``sim_ivf_topk``'s coarse
    quantizer. INTEGER-exact end to end
    (``operators/clustering.kmeans_lloyd_quantized``): quantized
    shifted-BIGINT vectors, exact integer squared-distance argmin
    (ties to lowest cluster id), round-half-up integer-mean centroids —
    partitioning- and engine-deterministic, so the unrolled-CTE oracle
    replays every round bit-for-bit.

    Per-iteration scale shape: broadcast k x dim centroid table ->
    scan-side zip_with distance (JVM codegen, no Python) ->
    struct-min argmin (partial-aggregated shuffle on id, no window) ->
    centroid update shuffle bounded by k x dim rows. Seeds via
    distributed top-k on the md5 permutation, never a global window."""
    from local_stream_stack_spark.operators.clustering import (
        kmeans_lloyd_quantized,
        quantize_vectors,
    )

    e = _t(spark, sf_dir, "embeddings")
    vecs = quantize_vectors(e, "vec_id", "embedding")
    return kmeans_lloyd_quantized(vecs, k=4, iterations=3)


@query(
    "skew_diagnostics",
    oracle="""
    WITH k AS (
      SELECT o_custkey AS key, COUNT(*) AS n
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM k),
    top AS (
      SELECT key, n FROM (
        SELECT key, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rn
        FROM k) t
      WHERE rn <= 5
    )
    SELECT CAST(t.key AS BIGINT) AS key,
           CAST(t.n AS BIGINT) AS n_rows,
           CAST(ROUND(CAST(t.n AS DOUBLE) / CAST(tot.total AS DOUBLE)
                      * 1000000) AS BIGINT) AS share_e6,
           CAST(tot.n_keys AS BIGINT) AS n_keys,
           CAST(ROUND(CAST(tot.total AS DOUBLE)
                      / CAST(tot.n_keys AS DOUBLE) * 10000) AS BIGINT)
             AS mean_rows_per_key_e4
    FROM top t CROSS JOIN tot
    ORDER BY n_rows DESC, key
    """,
)
def skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW diagnostics: the measurement that decides whether
    a key needs salting (``join_salted_skew``) or AQE skew-split — the
    top-5 heaviest keys with their row share, against the key-space
    mean. At 100 TB this is the report run BEFORE the big join: one
    partial-aggregated count per key, a distributed top-k on the
    counts (TakeOrderedAndProject, no global window), and a two-long
    global summary broadcast back. Shares emitted as scaled BIGINTs
    from exact integer counts."""
    o = _t(spark, sf_dir, "orders")
    k = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    tot = k.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_keys")
    )
    top = k.orderBy(F.desc("n"), F.asc("key")).limit(5)
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.col("key").cast("bigint"),
            F.col("n").cast("bigint").alias("n_rows"),
            F.round(
                F.col("n").cast("double")
                / F.col("total").cast("double")
                * 1000000
            )
            .cast("bigint")
            .alias("share_e6"),
            F.col("n_keys").cast("bigint"),
            F.round(
                F.col("total").cast("double")
                / F.col("n_keys").cast("double")
                * 10000
            )
            .cast("bigint")
            .alias("mean_rows_per_key_e4"),
        )
        .orderBy(F.desc("n_rows"), F.asc("key"))
    )


@query(
    "dedup_repeated_ngram_spans",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
      FROM documents
    ),
    g AS (
      SELECT doc_id, i, array_to_string(list_slice(l, i, i + 7), ' ') AS gram
      FROM (
        SELECT doc_id, l, unnest(generate_series(1, len(l) - 7)) AS i
        FROM t
      )
    ),
    d AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    p AS (
      SELECT DISTINCT doc_id, pp FROM (
        SELECT g.doc_id, unnest(generate_series(g.i, g.i + 7)) AS pp
        FROM g JOIN d USING (gram)
      )
    ),
    nt AS (SELECT doc_id, len(l) AS n_tokens FROM t),
    nd AS (SELECT doc_id, COUNT(*) AS n_dup FROM p GROUP BY doc_id)
    SELECT nt.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_positions,
           CAST(COALESCE(n_dup, 0) * 1000000 // n_tokens AS BIGINT)
             AS dup_frac_e6
    FROM nt LEFT JOIN nd USING (doc_id)
    ORDER BY doc_id
    """,
)
def dedup_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring span detection (the Lee et al. 2022
    'Deduplicating Training Data Makes Language Models Better' signal,
    public paper, re-expressed at token-8-gram granularity): for every
    document, the fraction of token positions covered by an 8-gram
    that also occurs in at least one OTHER document — the per-doc
    duplicated-span mass used to drop or trim documents whose content
    is mostly boilerplate shared across the corpus (exact dedup
    catches identical docs; MinHash catches near-identical docs; THIS
    catches partial copy spans inside otherwise-distinct docs).

    Plan shape at 100 TB: tokenize + 8-gram enumeration are scan-side
    (transform over sequence, JVM codegen); the cross-doc gram table
    takes ONE partial-aggregated shuffle keyed by gram; only grams
    proven duplicated re-explode into their 8 covered positions
    (bounded by duplicated-span mass, not corpus size); the
    position-distinct and per-doc count are one shuffle each on
    (doc, pos)/(doc). No all-pairs anywhere: doc-to-doc comparison is
    factored through the gram key, the same inverted-index shape as
    dedup_containment. Output is integer-scaled (dup_frac_e6 =
    fraction x 10^6, round-toward-zero div on both engines)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("l"),
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(l) < 8 THEN"
                " CAST(array() AS array<struct<i:int,gram:string>>)"
                " ELSE transform(sequence(1, size(l) - 7), i ->"
                " struct(i AS i, concat_ws(' ', slice(l, i, 8)) AS gram))"
                " END"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.i").alias("i"), F.col("s.gram").alias("gram"))
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dup_pos = (
        grams.join(dup, "gram")
        .select(
            "doc_id", F.explode(F.expr("sequence(i, i + 7)")).alias("pp")
        )
        .distinct()
    )
    nt = toks.select("doc_id", F.size("l").alias("n_tokens"))
    nd = dup_pos.groupBy("doc_id").agg(F.count("*").alias("n_dup"))
    return (
        nt.join(nd, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint"),
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias(
                "n_dup_positions"
            ),
            F.expr("(coalesce(n_dup, 0) * 1000000) div n_tokens")
            .cast("bigint")
            .alias("dup_frac_e6"),
        )
        .orderBy("doc_id")
    )


@query(
    "perplexity_bigram_interp",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0) AS l
      FROM documents
    ),
    tk AS (SELECT doc_id, unnest(l) AS tok FROM t),
    vocab AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
    tot AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM vocab),
    bg AS (
      SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(l) - 1),
                      i -> [l[i], l[i + 1]])) AS pr
        FROM t
      )
    ),
    bgv AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    lp_bi AS (
      SELECT b.w1, b.w2,
             CAST(ROUND(ln(0.7 * CAST(b.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE)
                           + 0.3 * (CAST(u2.c AS DOUBLE) + 1.0)
                             / (CAST(tot.total AS DOUBLE) + CAST(tot.v AS DOUBLE)))
                        * 1000000) AS BIGINT) AS logp_e6
      FROM bgv b
      JOIN vocab u1 ON b.w1 = u1.tok
      JOIN vocab u2 ON b.w2 = u2.tok
      CROSS JOIN tot
    ),
    dbt AS (
      SELECT doc_id, w1, w2, COUNT(*) AS n FROM bg GROUP BY doc_id, w1, w2
    )
    SELECT d.doc_id,
           CAST(SUM(d.n) AS BIGINT) AS n_bigrams,
           CAST(ROUND(-CAST(SUM(d.n * l.logp_e6) AS DOUBLE)
                      / CAST(SUM(d.n) AS DOUBLE) / 100) AS BIGINT)
             AS nll_per_bigram_e4
    FROM dbt d JOIN lp_bi l ON d.w1 = l.w1 AND d.w2 = l.w2
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def perplexity_bigram_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model quality score — the
    next-order refinement of ``perplexity_unigram``: score each doc by
    mean negative log-likelihood per bigram event under
    p(w2|w1) = 0.7 * c(w1,w2)/c(w1) + 0.3 * p_addone_unigram(w2),
    trained on the corpus itself (Jelinek-Mercer interpolation with a
    fixed lambda — the standard count-based LM quality filter; every
    corpus bigram is seen in training, so the bigram term never
    vanishes and the unigram term keeps probabilities smooth).

    Same portable-determinism discipline as perplexity_unigram: each
    bigram's ln p rounds ONCE to a scaled BIGINT (logp_e6), the
    per-doc aggregate is an exact integer sum, and only the final
    per-doc division is floating point. Plan at 100 TB: one token
    explode (unigram vocab shuffle), one scan-side bigram enumeration
    feeding the bigram-vocab shuffle (partial-aggregated, keyed by
    pair), the vocab-sized log-prob table joins back on the pair key,
    and the per-doc aggregate shuffles (doc, pair) count rows — never
    raw text, never all-pairs. Docs with < 2 tokens have no bigram
    events and drop out on both engines."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.expr(
            "filter(split(lower(trim(text)), '\\\\s+'),"
            " x -> length(x) > 0)"
        ).alias("l"),
    )
    tk = t.select("doc_id", F.explode("l").alias("tok"))
    vocab = tk.groupBy("tok").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").alias("total"), F.count("*").alias("v"))
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(l) < 2 THEN"
                " CAST(array() AS array<struct<w1:string,w2:string>>)"
                " ELSE transform(sequence(1, size(l) - 1), i ->"
                " struct(element_at(l, i) AS w1,"
                " element_at(l, i + 1) AS w2)) END"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bgv = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    u1 = vocab.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = vocab.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    lp_bi = (
        bgv.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    F.lit(0.7)
                    * F.col("c12").cast("double")
                    / F.col("c1").cast("double")
                    + F.lit(0.3)
                    * (F.col("c2").cast("double") + F.lit(1.0))
                    / (
                        F.col("total").cast("double")
                        + F.col("v").cast("double")
                    )
                )
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("logp_e6"),
        )
    )
    dbt = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("n"))
    return (
        dbt.join(lp_bi, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("n") * F.col("logp_e6")).cast("double")
                / F.sum("n").cast("double")
                / F.lit(100.0)
            )
            .cast("bigint")
            .alias("nll_per_bigram_e4"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_substring_spans",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i+1:i+8], ' ')) AS g
      FROM t, unnest(CASE WHEN len(toks) >= 8
                          THEN generate_series(0, len(toks) - 8)
                          ELSE [] END) AS u(i)
    ),
    ok AS (
      SELECT g FROM (
        SELECT g, COUNT(DISTINCT doc_id) AS dfc FROM g GROUP BY g
      ) WHERE dfc <= 8
    ),
    gk AS (SELECT g.* FROM g JOIN ok USING (g)),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos AS pb, b.pos - a.pos AS diag
      FROM gk a JOIN gk b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, diag,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pa) AS island,
             pa
      FROM p
    ),
    runs AS (
      SELECT doc_a, doc_b, COUNT(*) AS run
      FROM isl GROUP BY doc_a, doc_b, diag, island
    )
    SELECT doc_a, doc_b,
           CAST(MAX(run) + 7 AS INT) AS max_span_tokens,
           CAST(SUM(run) AS BIGINT) AS n_match_grams,
           CAST(COUNT(*) AS INT) AS n_spans
    FROM runs
    GROUP BY doc_a, doc_b
    HAVING MAX(run) + 7 >= 15
    ORDER BY doc_a, doc_b
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring span detection - the dedup
    signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed relationally instead of
    via a suffix array: positional 8-gram fingerprints meet in an
    inverted-index equi-join, and maximal shared token spans fall out
    of a gaps-and-islands pass over each (pair, diagonal) - two
    matches lie on one span iff pb - pa is constant and pa is
    consecutive. Reports every pair sharing a run of >= 15 tokens.

    Scale shape: the join is bounded by a doc-frequency cap on grams
    (df <= 8; mirrors dedup_containment's hot-gram bound - at 100 TB
    boilerplate grams would otherwise quadratically dominate the
    join), islands aggregate with partial aggregation, and nothing is
    all-pairs: only documents sharing a surviving fingerprint meet.
    Intra-document repetition (the other half of the Lee et al.
    signal) is dedup_repeated_ngram_spans."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.expr("filter(split(trim(text), ' +'), x -> x != '')").alias(
            "toks"
        ),
    )
    grams = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    """
          CASE WHEN size(toks) >= 8 THEN
            transform(sequence(0, size(toks) - 8),
                      i -> named_struct(
                        'pos', i,
                        'g', md5(concat_ws(' ', slice(toks, i + 1, 8)))))
          ELSE CAST(array() AS array<struct<pos:int,g:string>>) END
          """
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.g").alias("g"))
    )
    # dfc >= 2 is a pure pair-pruning bound, not a semantic change: a
    # gram in ONE document joins only with itself and doc_a < doc_b
    # drops every same-doc pair, so df=1 grams (the overwhelming
    # majority of a real corpus) contribute zero output rows. Filtering
    # them here shrinks the inverted-index self-join input to the
    # co-occurring sliver (guide §2.3: shuffle fewer bytes).
    ok = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("dfc"))
        .filter((F.col("dfc") >= 2) & (F.col("dfc") <= 8))
        .select("g")
    )
    gk = grams.join(ok, "g")
    a = gk.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "g"
    )
    b = gk.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "g"
    )
    p = a.join(b, "g").filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "pa", (F.col("pb") - F.col("pa")).alias("diag")
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = p.withColumn(
        "island", F.col("pa") - F.row_number().over(w)
    )
    runs = isl.groupBy("doc_a", "doc_b", "diag", "island").agg(
        F.count("*").alias("run")
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run") + 7).cast("int").alias("max_span_tokens"),
            F.sum("run").cast("bigint").alias("n_match_grams"),
            F.count("*").cast("int").alias("n_spans"),
        )
        .filter(F.col("max_span_tokens") >= 15)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "doc_novelty_scores",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(toks[i+1:i+8], ' ')) AS g
      FROM t, unnest(CASE WHEN len(toks) >= 8
                          THEN generate_series(0, len(toks) - 8)
                          ELSE [] END) AS u(i)
    ),
    first_seen AS (
      SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g
    ),
    per AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
               AS n_novel
      FROM g JOIN first_seen f USING (g)
      GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(per.n_grams, 0) AS INT) AS n_grams,
           CAST(COALESCE(per.n_novel, 0) AS INT) AS n_novel,
           CAST(ROUND(10000.0 * per.n_novel / per.n_grams) AS BIGINT)
             AS novelty_e4
    FROM t LEFT JOIN per USING (doc_id)
    ORDER BY doc_id
    """,
)
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty against everything earlier in the corpus:
    the fraction of a doc's distinct 8-grams whose FIRST corpus
    occurrence (min doc_id = ingestion order) is this doc - the
    redundancy/ordering signal curation pipelines use to schedule or
    drop late near-duplicates (novelty ~0 means the doc restates
    earlier material even if no single pair-wise match fires).

    Scale shape: distinct grams per doc explode scan-side, the
    first-occurrence table is one partial-agg MIN per gram, and the
    join back is the inverted-index equi-join - nothing pair-wise,
    nothing all-pairs; cost is linear in total grams. Docs shorter
    than 8 tokens carry zero grams and a NULL score (both engines'
    NULL arithmetic)."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.expr("filter(split(trim(text), ' +'), x -> x != '')").alias(
            "toks"
        ),
    )
    g = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    """
          CASE WHEN size(toks) >= 8 THEN
            transform(sequence(0, size(toks) - 8),
                      i -> md5(concat_ws(' ', slice(toks, i + 1, 8))))
          ELSE CAST(array() AS array<string>) END
          """
                )
            ).alias("g"),
        )
        .distinct()
        # the distinct-gram relation (tokenize + 8-gram explode +
        # dedup shuffle) feeds the first-occurrence MIN AND the join
        # back — pin it once instead of two explode+shuffle
        # re-executions (guide §5)
        .localCheckpoint(eager=True)
    )
    first_seen = g.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per = (
        g.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        t.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("int").alias(
                "n_grams"
            ),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("int").alias(
                "n_novel"
            ),
            F.expr(
                "CAST(ROUND(10000.0 * n_novel / n_grams) AS BIGINT)"
            ).alias("novelty_e4"),
        )
        .orderBy("doc_id")
    )


@query(
    "embedding_quantize_pct",
    oracle="""
    WITH g AS (
      SELECT unnest(generate_series(1,
               (SELECT max(len(embedding)) FROM embeddings))) AS i
    ),
    cells AS (
      SELECT e.vec_id, g.i, CAST(e.embedding[g.i] AS DOUBLE) AS v,
             len(e.embedding) AS dim
      FROM embeddings e CROSS JOIN g
      WHERE g.i <= len(e.embedding)
    ),
    ext AS (
      SELECT i,
             CAST(ROUND(quantile_cont(v, 0.01) * 1000000) AS BIGINT)
               AS p01_e6,
             CAST(ROUND(quantile_cont(v, 0.99) * 1000000) AS BIGINT)
               AS p99_e6
      FROM cells GROUP BY i
    ),
    q AS (
      SELECT c.vec_id, c.dim, c.v,
             CAST(x.p01_e6 AS DOUBLE) / 1000000.0 AS lo,
             CAST(x.p99_e6 AS DOUBLE) / 1000000.0 AS hi
      FROM cells c JOIN ext x ON c.i = x.i
    ),
    r AS (
      SELECT vec_id, dim, v,
             CASE WHEN v < lo THEN 1 WHEN v > hi THEN 1 ELSE 0 END
               AS clipped,
             CASE WHEN hi > lo
                  THEN lo + ROUND((LEAST(GREATEST(v, lo), hi) - lo)
                                  / (hi - lo) * 254, 0)
                       * (hi - lo) / 254
                  ELSE lo END AS recon
      FROM q
    )
    SELECT vec_id,
           CAST(ROUND(CAST(SUM(CAST(ROUND((v - recon) * (v - recon) * 1e12)
                                    AS BIGINT)) AS DOUBLE)
                      / CAST(ANY_VALUE(dim) AS DOUBLE)) AS BIGINT)
             AS mse_e12,
           CAST(SUM(clipped) AS INT) AS n_clipped
    FROM r
    GROUP BY vec_id
    ORDER BY vec_id
    """,
)
def embedding_quantize_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-calibrated int8 quantization: per-dimension
    [p01, p99] clip bounds from the exact 3-pass quantile operator
    instead of min/max - the calibration production quantizers use,
    because a single outlier in a dimension otherwise stretches the
    whole int8 range (compare mse_e12 against embedding_quantize_int8:
    tests pin that percentile calibration lowers corpus-median MSE).

    Determinism discipline: interpolated quantiles round ONCE to
    scaled-BIGINT bounds (x 10^6) and every engine reconstructs the
    SAME doubles from those integers before any cell math, so a
    last-ulp interpolation difference cannot leak into the e12 error
    rounding. Same scale shape as the min-max quantizer: the
    three-pass quantile state is O(dims x bins), the bounds table
    broadcasts back, cell math is codegen."""
    from local_stream_stack_spark.operators.quantiles import exact_quantiles

    e = _t(spark, sf_dir, "embeddings")
    cells = e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.posexplode("embedding").alias("i0", "vf"),
    ).select(
        "vec_id",
        "dim",
        (F.col("i0") + 1).alias("i"),
        F.col("vf").cast("double").alias("v"),
    )
    ext = exact_quantiles(
        cells, "v", [0.01, 0.99], ["i"], out_cols=["p01", "p99"]
    ).select(
        "i",
        F.expr("CAST(ROUND(p01 * 1000000) AS BIGINT)").alias("p01_e6"),
        F.expr("CAST(ROUND(p99 * 1000000) AS BIGINT)").alias("p99_e6"),
    )
    q = cells.join(F.broadcast(ext), "i").select(
        "vec_id",
        "dim",
        "v",
        F.expr("CAST(p01_e6 AS DOUBLE) / 1000000.0").alias("lo"),
        F.expr("CAST(p99_e6 AS DOUBLE) / 1000000.0").alias("hi"),
    )
    r = q.select(
        "vec_id",
        "dim",
        "v",
        F.expr(
            "CASE WHEN v < lo THEN 1 WHEN v > hi THEN 1 ELSE 0 END"
        ).alias("clipped"),
        F.expr(
            """CASE WHEN hi > lo
                 THEN lo + ROUND((LEAST(GREATEST(v, lo), hi) - lo)
                                 / (hi - lo) * 254, 0)
                      * (hi - lo) / 254
                 ELSE lo END"""
        ).alias("recon"),
    )
    return (
        r.groupBy("vec_id")
        .agg(
            F.expr(
                """CAST(ROUND(CAST(SUM(CAST(ROUND((v - recon) * (v - recon)
                                                  * 1e12) AS BIGINT))
                              AS DOUBLE)
                         / CAST(FIRST(dim) AS DOUBLE)) AS BIGINT)"""
            ).alias("mse_e12"),
            F.sum("clipped").cast("int").alias("n_clipped"),
        )
        .orderBy("vec_id")
    )


@query(
    "boilerplate_ngrams",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS toks
      FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM t),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[i+1:i+8], ' ') AS gram
      FROM t, unnest(CASE WHEN len(toks) >= 8
                          THEN generate_series(0, len(toks) - 8)
                          ELSE [] END) AS u(i)
    ),
    df AS (
      SELECT gram, COUNT(*) AS doc_freq FROM g GROUP BY gram
    )
    SELECT gram,
           CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(ROUND(10000.0 * doc_freq / n_docs) AS BIGINT)
             AS df_share_e4
    FROM df CROSS JOIN n
    WHERE doc_freq >= 2
    ORDER BY doc_freq DESC, gram
    LIMIT 20
    """,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate audit: the 20 highest-document-frequency
    8-grams (literal text, df >= 2) with their corpus share - the
    report that justifies and tunes the hot-gram df caps
    dedup_containment and dedup_substring_spans rely on (at 100 TB
    these rows are navigation chrome, license headers, and template
    text).

    One scan-side gram explode + distinct, one partial-agg count per
    gram, TakeOrderedAndProject top-20 with text tie-break; the doc
    count joins in as a broadcast scalar."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.expr("filter(split(trim(text), ' +'), x -> x != '')").alias(
            "toks"
        ),
    )
    n = t.agg(F.count("*").alias("n_docs"))
    g = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    """
          CASE WHEN size(toks) >= 8 THEN
            transform(sequence(0, size(toks) - 8),
                      i -> concat_ws(' ', slice(toks, i + 1, 8)))
          ELSE CAST(array() AS array<string>) END
          """
                )
            ).alias("gram"),
        )
        .distinct()
    )
    df = g.groupBy("gram").agg(F.count("*").alias("doc_freq"))
    return (
        df.filter(F.col("doc_freq") >= 2)
        .crossJoin(F.broadcast(n))
        .select(
            "gram",
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            F.expr(
                "CAST(ROUND(10000.0 * doc_freq / n_docs) AS BIGINT)"
            ).alias("df_share_e4"),
        )
        .orderBy(F.desc("doc_freq"), F.asc("gram"))
        .limit(20)
    )


@query(
    "copurchase_bfs_hops",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey < 2000
    ),
    de AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT src AS s, dst AS d FROM de
      UNION
      SELECT dst AS s, src AS d FROM de
    ),
    seed AS (SELECT MIN(s) AS node FROM edges),
    d0 AS (SELECT node FROM seed),
    d1 AS (
      SELECT DISTINCT e.d AS node FROM edges e JOIN d0 ON e.s = d0.node
      WHERE e.d NOT IN (SELECT node FROM d0)
    ),
    d2 AS (
      SELECT DISTINCT e.d AS node FROM edges e JOIN d1 ON e.s = d1.node
      WHERE e.d NOT IN (SELECT node FROM d0)
        AND e.d NOT IN (SELECT node FROM d1)
    ),
    d3 AS (
      SELECT DISTINCT e.d AS node FROM edges e JOIN d2 ON e.s = d2.node
      WHERE e.d NOT IN (SELECT node FROM d0)
        AND e.d NOT IN (SELECT node FROM d1)
        AND e.d NOT IN (SELECT node FROM d2)
    ),
    hops AS (
      SELECT node, 0 AS hop FROM d0
      UNION ALL SELECT node, 1 FROM d1
      UNION ALL SELECT node, 2 FROM d2
      UNION ALL SELECT node, 3 FROM d3
    )
    SELECT CAST(hop AS INT) AS hop,
           COUNT(*) AS n_parts,
           CAST(MIN(node) AS BIGINT) AS min_part,
           CAST(MAX(node) AS BIGINT) AS max_part
    FROM hops GROUP BY hop ORDER BY hop
    """,
)
def copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distances from the lowest part id over the
    undirected co-purchase graph (3 hops) - the reachability/radius
    probe alongside components (equivalence), PageRank (centrality),
    and triangles (density) in the graph family.

    Frontier expansion: one bounded shuffle join per hop plus an
    anti-join against the visited set, localCheckpoint between
    rounds to cut the growing lineage (the iterative-algorithm
    discipline from operators/clustering.py). The oracle unrolls the
    same three frontier steps as CTEs."""
    from local_stream_stack_spark.operators.graph import bfs_hops

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seed = sym.agg(F.min("src").alias("node")).filter(
        F.col("node").isNotNull()  # empty graph -> no seed, no hops
    )
    hops = bfs_hops(edges, seed, max_hops=3)
    return (
        hops.groupBy(F.col("hop").cast("int").alias("hop"))
        .agg(
            F.count("*").alias("n_parts"),
            F.min("node").cast("bigint").alias("min_part"),
            F.max("node").cast("bigint").alias("max_part"),
        )
        .orderBy("hop")
    )


@query(
    "schema_evolution_roundtrip",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing_source,
           COUNT(DISTINCT CASE WHEN doc_id % 2 = 1 THEN source END)
             AS n_sources_seen
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on disk: an old writer emits (doc_id, lang),
    a new writer adds the source column, both land in ONE dataset
    directory, and a mergeSchema read reconciles them - old files
    surface source as NULL. The returned per-lang summary counts the
    NULL-source rows (exactly the old writer's half) and the distinct
    sources the new files carry, so the oracle checks the merge
    semantics end to end.

    At scale this is the standard additive-column evolution path for
    parquet datasets (merge only widens; no rewrite of old files);
    the read pays one extra footer-schema union, pruning and
    pushdown unchanged."""

    d = _t(spark, sf_dir, "documents")
    base = ephemeral_dir(prefix="lss-schema-evo-")
    v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    v2 = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source"
    )
    v1.write.mode("append").parquet(base)
    v2.write.mode("append").parquet(base)
    back = spark.read.option("mergeSchema", "true").parquet(base)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("source").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_missing_source"),
            F.countDistinct("source").alias("n_sources_seen"),
        )
        .orderBy("lang")
    )


@query(
    "basket_lift_pairs",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
    item AS (
      SELECT l_partkey, COUNT(*) AS supp FROM li GROUP BY l_partkey
    ),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS supp_ab
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    )
    SELECT part_a, part_b,
           CAST(supp_ab AS BIGINT) AS supp_ab,
           CAST(ia.supp AS BIGINT) AS supp_a,
           CAST(ib.supp AS BIGINT) AS supp_b,
           CAST(ROUND(10000.0 * supp_ab / ia.supp) AS BIGINT)
             AS confidence_e4,
           CAST(ROUND(10000.0 * CAST(supp_ab AS DOUBLE) * n_orders
                      / (CAST(ia.supp AS DOUBLE) * ib.supp)) AS BIGINT)
             AS lift_e4
    FROM pair
    JOIN item ia ON part_a = ia.l_partkey
    JOIN item ib ON part_b = ib.l_partkey
    CROSS JOIN n
    ORDER BY lift_e4 DESC, part_a, part_b
    LIMIT 10
    """,
)
def basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association metrics: support / confidence / lift
    for co-purchased part pairs (min pair support 3), top-10 by lift -
    the recommender-bootstrap query.

    Pair generation is the order-local self-join (orders bound the
    blowup: pairs-per-order is quadratic in basket SIZE, not corpus
    size), item supports broadcast back, and the scalar order count
    broadcasts; ratios are single divisions of exact integers rounded
    to scaled BIGINTs, and the top-10 is TakeOrderedAndProject with
    full deterministic tie-break."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # the distinct basket relation (scan + dedup SHUFFLE) feeds
        # FOUR consumers (order count, item supports, both self-join
        # sides) — pin it once instead of four shuffle re-executions
        # (guide §5; 2 bigints per distinct basket line)
        .localCheckpoint(eager=True)
    )
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = li.groupBy("l_partkey").agg(F.count("*").alias("supp"))
    a = li.alias("a")
    b = li.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("supp_ab"))
        .filter(F.col("supp_ab") >= 3)
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("supp").alias("supp_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("supp").alias("supp_b")
    )
    return (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("supp_ab").cast("bigint").alias("supp_ab"),
            F.col("supp_a").cast("bigint").alias("supp_a"),
            F.col("supp_b").cast("bigint").alias("supp_b"),
            F.expr(
                "CAST(ROUND(10000.0 * supp_ab / supp_a) AS BIGINT)"
            ).alias("confidence_e4"),
            F.expr(
                "CAST(ROUND(10000.0 * CAST(supp_ab AS DOUBLE) * n_orders"
                " / (CAST(supp_a AS DOUBLE) * supp_b)) AS BIGINT)"
            ).alias("lift_e4"),
        )
        .orderBy(F.desc("lift_e4"), F.asc("part_a"), F.asc("part_b"))
        .limit(10)
    )


@query(
    "join_explosion_audit",
    oracle="""
    WITH k AS (
      SELECT l_orderkey AS key, COUNT(*) AS n
      FROM lineitem GROUP BY l_orderkey
    ),
    tot AS (
      SELECT SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0))
                 / 2) AS total_pairs,
             SUM(CAST(n AS DECIMAL(38,0))) AS total_rows,
             COUNT(*) AS n_keys
      FROM k
    ),
    top AS (
      SELECT key, n FROM k ORDER BY n DESC, key LIMIT 10
    )
    SELECT CAST(t.key AS BIGINT) AS key,
           CAST(t.n AS BIGINT) AS n_rows,
           CAST(t.n AS BIGINT) * CAST(t.n - 1 AS BIGINT) // 2
             AS predicted_pairs,
           CAST(CAST(t.n AS HUGEINT) * CAST(t.n - 1 AS HUGEINT)
                * 500000 // NULLIF(CAST(tot.total_pairs AS HUGEINT), 0)
                AS BIGINT) AS pair_share_e6,
           CAST(tot.total_pairs AS BIGINT) AS corpus_pairs,
           CAST(tot.n_keys AS BIGINT) AS n_keys
    FROM top t CROSS JOIN tot
    ORDER BY n_rows DESC, key
    """,
)
def join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join output-size audit: for a same-key pair join (the
    basket_lift_pairs / dedup pair-enumeration shape), the predicted
    per-key pair count n*(n-1)/2, the corpus total, and each hot
    key's share — the report that decides between running the join
    as-is, df-capping it, or salting, BEFORE paying for it. The
    quadratic blowup a key contributes is visible here at the cost
    of one count-per-key aggregate.

    One partial-agg count per key, a distributed top-k on the counts
    (TakeOrderedAndProject, no global window), and a broadcast
    two-long summary; shares via truncating integer division of
    exact counts (n*(n-1) is even, so *500000 == /2*1e6 without a
    fractional step; an all-singleton corpus has zero pairs, so the
    share is NULL via NULLIF, not an ANSI divide-by-zero)."""
    li = load_table(spark, sf_dir, "lineitem")
    configure_for_oracle(spark)
    k = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    tot = k.agg(
        F.expr(
            "SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0))"
            " / 2)"
        ).alias("total_pairs"),
        F.expr("SUM(CAST(n AS DECIMAL(38,0)))").alias("total_rows"),
        F.expr("COUNT(*)").alias("n_keys"),
    )
    top = k.orderBy(F.desc("n"), F.asc("key")).limit(10)
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.col("key").cast("bigint").alias("key"),
            F.col("n").cast("bigint").alias("n_rows"),
            F.expr(
                "CAST(n AS BIGINT) * CAST(n - 1 AS BIGINT) div 2"
            ).alias("predicted_pairs"),
            F.expr(
                "CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0))"
                " * 500000 div NULLIF(total_pairs, 0)"
            ).alias("pair_share_e6"),
            F.col("total_pairs").cast("bigint").alias("corpus_pairs"),
            F.col("n_keys").cast("bigint").alias("n_keys"),
        )
        .orderBy(F.desc("n_rows"), F.asc("key"))
    )


def _pca_power_oracle_sql(iters: int = 3, dim: int = 64) -> str:
    """Unrolled power-iteration oracle: HUGEINT everywhere Spark uses
    DECIMAL(38,0), sign-split truncating division for the per-round
    renormalization (Spark `div` truncates, DuckDB `//` floors — they
    agree only on non-negative operands, so magnitude and sign are
    handled separately on BOTH engines)."""
    sql = [f"""
    WITH ev AS MATERIALIZED (
      SELECT vec_id, i.i AS i,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, generate_series(0, {dim - 1}) i(i)
    ),
    v0 AS (
      SELECT i.i AS i, CAST(1000000 AS HUGEINT) AS v
      FROM generate_series(0, {dim - 1}) i(i)
    )"""]
    prev = "v0"
    for t in range(1, iters + 1):
        sql.append(f""",
    u{t} AS (
      SELECT e.vec_id, SUM(CAST(e.x AS HUGEINT) * v.v) AS u
      FROM ev e JOIN {prev} v ON v.i = e.i GROUP BY e.vec_id
    ),
    w{t} AS (
      SELECT e.i, SUM(CAST(e.x AS HUGEINT) * u.u) AS w
      FROM ev e JOIN u{t} u USING (vec_id) GROUP BY e.i
    ),
    m{t} AS (SELECT MAX(ABS(w)) AS mx FROM w{t}),
    v{t} AS MATERIALIZED (
      SELECT i,
             CASE WHEN w < 0 THEN -1 ELSE 1 END
             * (ABS(w) * 1000000 // (SELECT mx FROM m{t})) AS v
      FROM w{t}
    )""")
        prev = f"v{t}"
    sql.append(f""",
    proj AS (
      SELECT e.vec_id, SUM(CAST(e.x AS HUGEINT) * v.v) AS p
      FROM ev e JOIN {prev} v ON v.i = e.i GROUP BY e.vec_id
    ),
    c AS (
      SELECT e.i, SUM(CAST(e.x AS HUGEINT) * p.p) AS c
      FROM ev e JOIN proj p USING (vec_id) GROUP BY e.i
    )
    SELECT CAST(c.i AS INT) AS dim_idx,
           CAST(v.v AS BIGINT) AS pc1_e6,
           CAST(CASE WHEN c.c < 0 THEN -1 ELSE 1 END
                * (ABS(c.c) // 1000000000000) AS BIGINT) AS loading_e12
    FROM c JOIN {prev} v ON v.i = c.i
    ORDER BY dim_idx
    """)
    return "".join(sql)


@query("embedding_pca_power", oracle=_pca_power_oracle_sql())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by
    MATRIX-FREE power iteration — the iterative-linear-algebra family
    alongside the k-means/PQ/BPE trainers: v <- renorm(X^T (X v)),
    three rounds, where each round is two scan-shaped passes (a
    per-row dot against the carried direction, then one 64-key
    partial-agg shuffle for X^T u) and the ONLY driver state is the
    64-int direction, re-entered as a SQL literal (the trainer
    literal-carry pattern). Uncentered deliberately: the result is
    the top eigendirection of the raw Gram matrix X^T X — centering
    would add one broadcast mean-subtract pass, nothing structural.

    INTEGER-EXACT end to end: vectors floor-quantize to e6 BIGINTs,
    per-round renormalization divides magnitudes by max|w| and
    reapplies the sign (truncating division agrees across engines
    only on non-negative operands), accumulations are DECIMAL(38,0) /
    HUGEINT, and the driver-side Python renorm uses the same exact
    integer arithmetic the oracle unrolls CTE-for-CTE. Output: the
    carried direction (pc1_e6) plus a FINAL Spark-computed loading
    pass c = X^T (X v) div 1e12, so the registered result is data
    flow, not a driver literal. At 100 TB: 2 scans x 3 rounds, 64-row
    shuffles, 64-int driver state — the exact shape Lanczos/SVD
    warm-starts run at scale."""
    e = _t(spark, sf_dir, "embeddings")
    eq = e.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("xq"),
    )
    dim = 64
    v = [1_000_000] * dim
    empty_schema = "dim_idx int, pc1_e6 bigint, loading_e12 bigint"
    for _ in range(3):
        v_lit = "array(" + ",".join(f"{x}L" for x in v) + ")"
        u = eq.withColumn(
            "u",
            F.expr(
                f"aggregate(zip_with(xq, {v_lit}, (a, b) -> a * b),"
                " CAST(0 AS BIGINT), (acc, y) -> acc + y)"
            ),
        )
        w_rows = (
            u.select(F.posexplode("xq").alias("i", "x"), "u")
            .groupBy("i")
            .agg(
                F.sum(
                    F.expr(
                        "CAST(x AS DECIMAL(38,0))"
                        " * CAST(u AS DECIMAL(38,0))"
                    )
                ).alias("w")
            )
            .collect()
        )
        if not w_rows:
            return spark.createDataFrame([], empty_schema)
        w = {int(r["i"]): int(r["w"]) for r in w_rows}
        mx = max(abs(x) for x in w.values())
        if mx == 0:
            return spark.createDataFrame([], empty_schema)
        v = [
            (1 if w[i] >= 0 else -1) * ((abs(w[i]) * 1_000_000) // mx)
            for i in range(dim)
        ]
    v_lit = "array(" + ",".join(f"{x}L" for x in v) + ")"
    proj = eq.withColumn(
        "p",
        F.expr(
            f"aggregate(zip_with(xq, {v_lit}, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, y) -> acc + y)"
        ),
    )
    c = (
        proj.select(F.posexplode("xq").alias("i", "x"), "p")
        .groupBy("i")
        .agg(
            F.sum(
                F.expr(
                    "CAST(x AS DECIMAL(38,0)) * CAST(p AS DECIMAL(38,0))"
                )
            ).alias("c")
        )
    )
    return c.select(
        F.col("i").cast("int").alias("dim_idx"),
        F.expr(f"element_at({v_lit}, i + 1)").alias("pc1_e6"),
        F.expr(
            "CASE WHEN c < 0 THEN -1 ELSE 1 END"
            " * CAST(ABS(c) div 1000000000000 AS BIGINT)"
        ).alias("loading_e12"),
    ).orderBy("dim_idx")


def _pagerank_oracle_sql(iters: int = 3) -> str:
    """Unrolled integer PageRank oracle. Every division is on
    non-negative BIGINTs, where Spark's truncating `div` and DuckDB's
    flooring `//` agree."""
    sql = ["""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey < 2000
    ),
    de AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT src AS s, dst AS d FROM de
      UNION
      SELECT dst AS s, src AS d FROM de
    ),
    deg AS (SELECT s, COUNT(*) AS od FROM edges GROUP BY s),
    r0 AS (
      SELECT s AS node, CAST(1000000000000 AS BIGINT) AS r FROM deg
    )"""]
    prev = "r0"
    for t in range(1, iters + 1):
        sql.append(f""",
    r{t} AS MATERIALIZED (
      SELECT e.d AS node,
             CAST(150000000000
                  + (85 * SUM(r.r // g.od)) // 100 AS BIGINT) AS r
      FROM edges e
      JOIN {prev} r ON r.node = e.s
      JOIN deg g ON g.s = e.s
      GROUP BY e.d
    )""")
        prev = f"r{t}"
    sql.append(f"""
    SELECT CAST(r.node AS BIGINT) AS part_id,
           CAST(r.r AS BIGINT) AS rank_e12,
           CAST(deg.od AS INT) AS degree
    FROM {prev} r JOIN deg ON deg.s = r.node
    ORDER BY rank_e12 DESC, part_id
    LIMIT 20
    """)
    return "".join(sql)


@query("copurchase_pagerank", oracle=_pagerank_oracle_sql())
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank over the co-purchase graph (parts
    co-occurring in an order, symmetric edges — the same graph
    copurchase_bfs_hops walks): three damped rounds
    r <- 0.15 + 0.85 * sum(r_in / outdeg), top-20 hubs by final rank.
    The iterative-graph family's fixed-iteration member alongside the
    convergence-driven connected components.

    State is PER NODE and stays DISTRIBUTED — each round is one
    equi-join of the rank relation with the edge list plus a
    partial-agg groupBy on the destination (never a driver collect;
    rank state at 100 TB is billions of rows, exactly what must not
    leave the cluster). Ranks are e12 BIGINTs: the contribution
    division and the 85% damping are truncating divisions on
    non-negative integers, where Spark `div` and DuckDB `//` agree,
    so three rounds stay bit-identical to the unrolled oracle.
    Dangling mass never leaks because symmetric edges give every node
    out-degree >= 1. The l_orderkey < 2000 slice keeps the oracle's
    edge table small while exercising the identical plan."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    de = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    edges = de.select(
        F.col("src").alias("s"), F.col("dst").alias("d")
    ).unionByName(
        de.select(F.col("dst").alias("s"), F.col("src").alias("d"))
    ).distinct()
    deg = edges.groupBy("s").agg(F.count("*").alias("od"))
    r = deg.select(
        F.col("s").alias("node"),
        F.lit(1_000_000_000_000).cast("bigint").alias("r"),
    )
    for _ in range(3):
        contrib = (
            edges.join(r, edges["s"] == r["node"])
            .join(deg, "s")
            .select("d", F.expr("r div od").alias("c"))
        )
        r = contrib.groupBy("d").agg(
            F.expr(
                "CAST(150000000000 + (85 * SUM(c)) div 100 AS BIGINT)"
            ).alias("r")
        ).select(F.col("d").alias("node"), "r")
    return (
        r.join(deg, r["node"] == deg["s"])
        .select(
            F.col("node").cast("bigint").alias("part_id"),
            F.col("r").cast("bigint").alias("rank_e12"),
            F.col("od").cast("int").alias("degree"),
        )
        .orderBy(F.desc("rank_e12"), F.asc("part_id"))
        .limit(20)
    )


@query(
    "embedding_dim_variance_audit",
    oracle="""
    WITH cell AS (
      SELECT CAST(u['d'] AS INT) AS dim,
             CAST(ROUND(CAST(u['v'] AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM (SELECT unnest([{'d': i - 1, 'v': embedding[i]}
                           for i in generate_series(1, len(embedding))])
                     AS u
            FROM embeddings)
    ),
    m AS (
      SELECT dim, COUNT(*) AS n,
             SUM(CAST(q AS DECIMAL(38,0))) AS s,
             SUM(CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0)))
               AS sq
      FROM cell GROUP BY dim
    )
    SELECT dim,
           CAST(n AS BIGINT) AS n_vectors,
           CAST((CAST(n AS HUGEINT) * CAST(sq AS HUGEINT)
                 - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
                // NULLIF(CAST(n AS HUGEINT) * CAST(n AS HUGEINT), 0)
                AS BIGINT) AS var_e12
    FROM m
    ORDER BY dim
    """,
)
def embedding_dim_variance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension variance of the embedding space — the audit run
    before truncation (matryoshka), PCA, or quantization to see
    which dimensions carry signal (dead dimensions have ~0 variance
    and can be dropped for free).

    Values widen float32 -> DOUBLE BEFORE scaling (engines must
    promote identically), quantize ONCE to e6 BIGINTs, the
    population variance derives as (n*sq - s^2) div n^2 in exact
    integer arithmetic (var of e6-ints = var_e12), and the explode
    is scan-side with one partial-agg groupBy on the 64 dims."""
    emb = _t(spark, sf_dir, "embeddings")
    cell = emb.select(
        F.posexplode("embedding").alias("dim", "v")
    ).select(
        "dim",
        F.expr("CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").alias("q"),
    )
    m = cell.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.expr("SUM(CAST(q AS DECIMAL(38,0)))").alias("s"),
        F.expr(
            "SUM(CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0)))"
        ).alias("sq"),
    )
    return m.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n_vectors"),
        F.expr(
            "CAST((n * sq - s * s) div NULLIF(CAST(n AS DECIMAL(38,0))"
            " * n, 0) AS BIGINT)"
        ).alias("var_e12"),
    ).orderBy("dim")


@query(
    "stratified_sample_exact",
    oracle="""
    WITH r AS (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rk
      FROM documents
    )
    SELECT lang, CAST(rk AS INT) AS rk, doc_id,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM r WHERE rk <= 20
    ORDER BY lang, rk
    """,
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 20 documents per
    language, chosen by md5(doc_id) rank — the reproducible
    eval-slice / human-review sampler every curation pipeline needs
    (rerunning on any cluster, any partitioning, any engine picks the
    SAME docs; no RNG state, no sampleBy approximation).

    The per-stratum rank window gets Spark's WindowGroupLimit
    pushdown (rk <= 20 filters inside the shuffle), so executors drop
    non-sample rows early — at 100 TB the shuffle carries ~k rows per
    (language, partition), not the corpus. md5 of the decimal doc_id
    rendering is bit-identical in any engine."""
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select(
            "lang",
            F.row_number().over(w).alias("rk"),
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )
        .filter(F.col("rk") <= 20)
        .select("lang", F.col("rk").cast("int").alias("rk"), "doc_id", "n_chars")
        .orderBy("lang", "rk")
    )


def _jl_planes_sql(k: int = 16, dim: int = 64) -> str:
    """Literal 2-level array of the k x dim md5-derived integer
    hyperplanes (the literal-codebook pattern: one parsed literal
    instead of thousands of py4j column calls)."""
    from local_stream_stack_spark.operators.similarity import (
        integer_lsh_planes,
    )

    planes = integer_lsh_planes(1, k, dim)
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(w)}L" for w in row) + ")"
            for row in planes
        )
        + ")"
    )


@query(
    "jl_distortion_audit",
    oracle="""
    WITH planes AS (
      SELECT j.j, i.i,
             CAST('0x' || substring(md5(concat(0,'|',j.j,'|',i.i)), 1, 4)
                  AS INT) % 7 - 3 AS w
      FROM generate_series(0, 15) j(j), generate_series(0, 63) i(i)
    ),
    qv AS (
      SELECT vec_id, i.i AS i,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, generate_series(0, 63) i(i)
    ),
    proj AS (
      SELECT q.vec_id, p.j, SUM(q.x * p.w) AS y
      FROM qv q JOIN planes p ON q.i = p.i
      GROUP BY q.vec_id, p.j
    ),
    dx AS (
      SELECT a.vec_id AS ida, SUM((a.x - b.x) * (a.x - b.x)) AS dx2
      FROM qv a JOIN qv b ON b.vec_id = a.vec_id + 17 AND b.i = a.i
      GROUP BY a.vec_id
    ),
    dy AS (
      SELECT a.vec_id AS ida, SUM((a.y - b.y) * (a.y - b.y)) AS dy2
      FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 17 AND b.j = a.j
      GROUP BY a.vec_id
    ),
    d AS (
      SELECT CAST(ROUND(CAST(dy2 AS DOUBLE) / 64.0
                        / CAST(dx2 AS DOUBLE) * 1000000) AS BIGINT)
               AS distortion_e6
      FROM dx JOIN dy USING (ida)
      WHERE dx2 > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(distortion_e6) // COUNT(*) AS BIGINT)
             AS mean_distortion_e6,
           CAST(MIN(distortion_e6) AS BIGINT) AS min_distortion_e6,
           CAST(MAX(distortion_e6) AS BIGINT) AS max_distortion_e6,
           CAST(SUM(CASE WHEN distortion_e6 BETWEEN 500000 AND 2000000
                    THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
             AS within_2x_share_e6
    FROM d
    """,
)
def jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sanity audit for random-projection
    dimensionality reduction (64 -> 16 dims): per stride-paired
    vectors, the ratio of projected to original squared distance,
    normalized by k * E[w^2] = 16 * 4 — the check run before trusting
    a projected index (a distortion histogram far from 1 means the
    projection, not the data, decides the neighbors).

    Deterministic end to end: md5-derived INTEGER hyperplanes (the
    LSH plane generator, shared with the sign-LSH tier), e6-quantized
    vectors, exact BIGINT projections and squared distances, ONE
    double division per pair rounded once to e6, then integer
    aggregates. Plan: the 16x64 plane matrix enters as one parsed
    literal; projection+distances are codegen array folds per row
    (no shuffle), the stride pairing is one equi join, and the output
    is a single summary row."""
    k, dim = 16, 64
    plit = _jl_planes_sql(k, dim)
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, v ->"
            " CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("x"),
    )
    proj = e.select(
        "vec_id",
        "x",
        F.expr(
            f"transform({plit}, p -> aggregate(zip_with(x, p,"
            " (a, b) -> a * b), 0L, (a, b) -> a + b))"
        ).alias("y"),
    )
    a = proj.select(
        (F.col("vec_id") + 17).alias("__k"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = proj.select(
        F.col("vec_id").alias("__k"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    sq = "(a, b) -> (a - b) * (a - b)"
    d = (
        a.join(b, "__k")
        .select(
            F.expr(
                f"aggregate(zip_with(xa, xb, {sq}), 0L, (a, b) -> a + b)"
            ).alias("dx2"),
            F.expr(
                f"aggregate(zip_with(ya, yb, {sq}), 0L, (a, b) -> a + b)"
            ).alias("dy2"),
        )
        .filter(F.col("dx2") > 0)
        .select(
            F.expr(
                "CAST(ROUND(CAST(dy2 AS DOUBLE) / 64.0"
                " / CAST(dx2 AS DOUBLE) * 1000000) AS BIGINT)"
            ).alias("distortion_e6")
        )
    )
    return d.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.expr(
            "CAST(SUM(distortion_e6) div COUNT(*) AS BIGINT)"
        ).alias("mean_distortion_e6"),
        F.min("distortion_e6").cast("bigint").alias("min_distortion_e6"),
        F.max("distortion_e6").cast("bigint").alias("max_distortion_e6"),
        F.expr(
            "CAST(SUM(CASE WHEN distortion_e6 BETWEEN 500000 AND 2000000"
            " THEN 1 ELSE 0 END) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("within_2x_share_e6"),
    )


@query(
    "group_split_leakage_audit",
    oracle="""
    WITH assigned AS (
      SELECT event_id, user_id,
             CASE WHEN CAST('0x' ||
                    substring(md5(CAST(user_id AS VARCHAR)), 1, 4)
                    AS INT) % 10 < 8
                  THEN 'train' ELSE 'test' END AS split
      FROM events
    ),
    user_splits AS (
      SELECT user_id, COUNT(DISTINCT split) AS n_splits
      FROM assigned GROUP BY user_id
    ),
    leak AS (
      SELECT COUNT(*) AS n_leaked FROM user_splits WHERE n_splits > 1
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM assigned)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) * 1000000 // n_total AS BIGINT) AS share_e6,
           CAST(n_leaked AS BIGINT) AS n_leaked_users
    FROM assigned CROSS JOIN leak CROSS JOIN tot
    GROUP BY split, n_leaked, n_total
    ORDER BY split
    """,
)
def group_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-wise train/test split + leakage audit: every event is
    assigned by the md5 hash of its USER (never the row), so all of a
    user's events land in one split — the GroupKFold discipline that
    keeps per-user correlations out of the eval set. The audit
    reports per-split sizes/shares AND the leaked-user count (users
    seen in both splits), which must be zero by construction — a
    nonzero value means someone re-keyed the hash onto a row column.

    Deterministic: md5 of the decimal user_id (bit-identical in any
    engine), 80/20 by hash bucket. One scan + one distinct-user
    aggregate; the leak check is a two-level groupBy on user_id —
    shuffle keys are the user, so it co-partitions with any
    downstream per-user feature job."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    assigned = ev.withColumn(
        "split",
        F.expr(
            "CASE WHEN CAST(conv(substring(md5(CAST(user_id AS STRING)),"
            " 1, 4), 16, 10) AS INT) % 10 < 8"
            " THEN 'train' ELSE 'test' END"
        ),
    )
    leak = (
        assigned.groupBy("user_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .agg(F.count("*").alias("n_leaked"))
    )
    tot = assigned.agg(F.count("*").alias("n_total"))
    return (
        assigned.crossJoin(F.broadcast(leak))
        .crossJoin(F.broadcast(tot))
        .groupBy("split", "n_leaked", "n_total")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.expr(
                "CAST(COUNT(*) * 1000000 div n_total AS BIGINT)"
            ).alias("share_e6"),
        )
        .select(
            "split",
            "n_events",
            "n_users",
            "share_e6",
            F.col("n_leaked").cast("bigint").alias("n_leaked_users"),
        )
        .orderBy("split")
    )


@query(
    "embedding_centroid_separation",
    oracle="""
    WITH qv AS (
      SELECT vec_id, label, i.i AS i,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, generate_series(0, 63) i(i)
    ),
    lab AS (
      SELECT label, i, SUM(x) AS s, COUNT(DISTINCT vec_id) AS n
      FROM qv GROUP BY label, i
    ),
    gcen AS (SELECT i, SUM(x) AS g FROM qv GROUP BY i),
    dots AS (
      SELECT l.label, MAX(l.n) AS n_vecs,
             SUM(CAST(l.s AS HUGEINT) * g.g) AS dot_lg,
             SUM(CAST(l.s AS HUGEINT) * l.s) AS dot_ll,
             SUM(CAST(g.g AS HUGEINT) * g.g) AS dot_gg
      FROM lab l JOIN gcen g USING (i)
      GROUP BY l.label
    )
    SELECT label,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(ROUND(CAST(dot_lg AS DOUBLE)
                / (sqrt(CAST(dot_ll AS DOUBLE))
                   * sqrt(CAST(dot_gg AS DOUBLE))) * 1000000)
                AS BIGINT) AS cos_to_global_e6
    FROM dots
    ORDER BY label
    """,
)
def embedding_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-separation audit: cosine of each label's exact integer
    centroid to the GLOBAL centroid — labels whose centroid sits on
    top of the global mean carry no clusterable signal (IVF cells
    built on them degenerate to random partitions; this is the check
    run before trusting label-partitioned ANN).

    Centroids are exact integer SUMS per (label, dim) — cosine is
    scale-invariant, so the sum points exactly where the mean does
    with no order-dependent float accumulation (the sim_ivf_topk
    discipline); the global centroid is the same sums re-aggregated.
    All dot products are exact DECIMAL/BIGINT folds over the
    labels x 64 table; ONE double division per label, rounded once
    to e6. Shuffles carry labels x dims rows, never vectors."""
    e = _t(spark, sf_dir, "embeddings")
    qv = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding, v ->"
                " CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"
            )
        ).alias("i", "x"),
    )
    lab = qv.groupBy("label", "i").agg(
        F.sum("x").alias("s"),
        F.countDistinct("vec_id").alias("n"),
    )
    glob = qv.groupBy("i").agg(F.sum("x").alias("g"))
    dots = (
        lab.join(F.broadcast(glob), "i")
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            # DECIMAL(38,0) products: centroid-sum dot products exceed
            # BIGINT once labels hold ~1e3 e6-quantized vectors
            F.expr("SUM(CAST(s AS DECIMAL(38,0)) * g)").alias("dot_lg"),
            F.expr("SUM(CAST(s AS DECIMAL(38,0)) * s)").alias("dot_ll"),
            F.expr("SUM(CAST(g AS DECIMAL(38,0)) * g)").alias("dot_gg"),
        )
    )
    return dots.select(
        "label",
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.expr(
            "CAST(ROUND(CAST(dot_lg AS DOUBLE)"
            " / (sqrt(CAST(dot_ll AS DOUBLE))"
            " * sqrt(CAST(dot_gg AS DOUBLE))) * 1000000) AS BIGINT)"
        ).alias("cos_to_global_e6"),
    ).orderBy("label")


def _kcore_oracle_sql(k: int = 3, rounds: int = 8) -> str:
    sql = [f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey < 2000
    ),
    de AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT src AS s, dst AS d FROM de
      UNION
      SELECT dst AS s, src AS d FROM de
    ),
    a0 AS MATERIALIZED (SELECT DISTINCT s AS node FROM edges)"""]
    for t in range(1, rounds + 1):
        sql.append(f""",
    a{t} AS MATERIALIZED (
      SELECT e.s AS node
      FROM edges e
      JOIN a{t-1} x ON x.node = e.s
      JOIN a{t-1} y ON y.node = e.d
      GROUP BY e.s
      HAVING COUNT(*) >= {k}
    )""")
    selects = [
        f"SELECT CAST({t} AS INT) AS round,"
        f" CAST(COUNT(*) AS BIGINT) AS n_alive FROM a{t}"
        for t in range(rounds + 1)
    ]
    sql.append("\n    " + "\n    UNION ALL ".join(selects))
    sql.append("\n    ORDER BY round")
    return "".join(sql)


@query("copurchase_kcore", oracle=_kcore_oracle_sql())
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the co-purchase graph by
    iterative peeling: each round drops every node whose degree among
    SURVIVORS is < k; the survivor-count profile per round is the
    output (it converges to the 3-core size — the dense backbone a
    recommender mines, which plain degree filtering overstates
    because removing one weak node can cascade). Same graph and same
    iterative-operator discipline as copurchase_pagerank/BFS: the
    alive set is per-node DISTRIBUTED state re-materialized each
    round (localCheckpoint keeps the plan bounded), each round is two
    equi-joins + one partial-agg groupBy, and nothing but the 9-row
    profile ever leaves the executors. Fixed 8 rounds on both engines
    keep the unrolled oracle bit-identical whether or not the peel
    has converged."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    de = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    edges = de.select(
        F.col("src").alias("s"), F.col("dst").alias("d")
    ).union(
        de.select(F.col("dst").alias("s"), F.col("src").alias("d"))
    ).distinct().localCheckpoint(eager=True)
    alive = edges.select(F.col("s").alias("node")).distinct()
    profile = [
        alive.agg(F.count("*").cast("bigint").alias("n_alive")).select(
            F.lit(0).cast("int").alias("round"), "n_alive"
        )
    ]
    for t in range(1, 9):
        alive = (
            edges.join(
                alive.select(F.col("node").alias("s")), "s"
            )
            .join(alive.select(F.col("node").alias("d")), "d")
            .groupBy("s")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= 3)
            .select(F.col("s").alias("node"))
            .localCheckpoint(eager=True)
        )
        profile.append(
            alive.agg(
                F.count("*").cast("bigint").alias("n_alive")
            ).select(F.lit(t).cast("int").alias("round"), "n_alive")
        )
    out = profile[0]
    for p in profile[1:]:
        out = out.unionByName(p)
    return out.orderBy("round")


@query(
    "cross_entropy_source_pairs",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    tk AS (SELECT source, tok FROM toks WHERE length(tok) > 0),
    cs AS (
      SELECT source AS train_source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM tk GROUP BY source, tok
    ),
    tots AS (
      SELECT train_source,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM cs GROUP BY train_source
    ),
    ev AS (
      SELECT source AS eval_source, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM tk GROUP BY source, tok
    ),
    pairs AS (
      SELECT t.train_source, e.eval_source, e.tok, e.n,
             COALESCE(c.c, 0) AS c, t.total, t.v
      FROM ev e
      CROSS JOIN tots t
      LEFT JOIN cs c
        ON c.train_source = t.train_source AND c.tok = e.tok
    ),
    scored AS (
      SELECT train_source, eval_source, n,
             CAST(ROUND(ln((c + 1.0) / (total + v)) * 1000000) AS BIGINT)
               AS logp_e6
      FROM pairs
    )
    SELECT train_source, eval_source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(ROUND(-CAST(SUM(n * logp_e6) AS DOUBLE)
                      / CAST(SUM(n) AS DOUBLE) / 100) AS BIGINT)
             AS ce_per_token_e4
    FROM scored
    GROUP BY train_source, eval_source
    ORDER BY train_source, eval_source
    """,
)
def cross_entropy_source_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-to-source cross-entropy matrix: an add-one unigram LM
    trained on each source, evaluated on every source (diagonal =
    within-source entropy; a LOW off-diagonal cell means two feeds
    speak the same distribution — mixture-weight and contamination
    evidence the single-corpus `perplexity_unigram` cannot give).
    Same determinism recipe as the perplexity family: per-(model,
    token) ln p rounds ONCE to e6, per-cell sums are exact integers,
    one final double division rounds back to e4. Plan: one token
    explode feeds per-source vocab counts (shuffle on (source,
    token)); the eval-token table cross-joins only the |sources|-row
    totals and left-joins model counts on (source, token) — the
    matrix grain is |sources|², never row-scale."""
    d = _t(spark, sf_dir, "documents")
    tk = d.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).filter(F.length("tok") > 0)
    cs = tk.groupBy(
        F.col("source").alias("train_source"), F.col("tok")
    ).agg(F.count("*").cast("bigint").alias("c"))
    tots = cs.groupBy("train_source").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("v"),
    )
    ev = tk.groupBy(
        F.col("source").alias("eval_source"), F.col("tok")
    ).agg(F.count("*").cast("bigint").alias("n"))
    pairs = (
        ev.crossJoin(F.broadcast(tots))
        .join(
            cs,
            ["train_source", "tok"],
            "left",
        )
        .select(
            "train_source",
            "eval_source",
            "n",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "total",
            "v",
        )
    )
    scored = pairs.select(
        "train_source",
        "eval_source",
        "n",
        F.round(
            F.log(
                (F.col("c") + F.lit(1.0)) / (F.col("total") + F.col("v"))
            )
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("logp_e6"),
    )
    return (
        scored.groupBy("train_source", "eval_source")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.round(
                -F.sum(F.col("n") * F.col("logp_e6")).cast("double")
                / F.sum("n").cast("double")
                / F.lit(100.0)
            )
            .cast("bigint")
            .alias("ce_per_token_e4"),
        )
        .orderBy("train_source", "eval_source")
    )


@query(
    "hits_hubs_authorities",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey < 2000
    ),
    h0 AS (
      SELECT c, CAST(1000000 AS BIGINT) AS h FROM (SELECT DISTINCT c FROM e) t
    ),
    a1r AS (
      SELECT e.p, CAST(SUM(h.h) AS BIGINT) AS a
      FROM e JOIN h0 h ON h.c = e.c GROUP BY e.p
    ),
    a1m AS (SELECT CAST(MAX(a) AS BIGINT) AS ma FROM a1r),
    a1 AS (
      SELECT p, CAST((a * 1000000) // ma AS BIGINT) AS a
      FROM a1r CROSS JOIN a1m
    ),
    h1r AS (
      SELECT e.c, CAST(SUM(a.a) AS BIGINT) AS h
      FROM e JOIN a1 a ON a.p = e.p GROUP BY e.c
    ),
    h1m AS (SELECT CAST(MAX(h) AS BIGINT) AS mh FROM h1r),
    h1 AS (
      SELECT c, CAST((h * 1000000) // mh AS BIGINT) AS h
      FROM h1r CROSS JOIN h1m
    ),
    a2r AS (
      SELECT e.p, CAST(SUM(h.h) AS BIGINT) AS a
      FROM e JOIN h1 h ON h.c = e.c GROUP BY e.p
    ),
    a2m AS (SELECT CAST(MAX(a) AS BIGINT) AS ma FROM a2r),
    a2 AS (
      SELECT p, CAST((a * 1000000) // ma AS BIGINT) AS a
      FROM a2r CROSS JOIN a2m
    ),
    indeg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY p)
    SELECT CAST(a.p AS BIGINT) AS part_id,
           CAST(a.a AS BIGINT) AS auth_e6,
           CAST(i.d AS BIGINT) AS in_degree
    FROM a2 a JOIN indeg i ON i.p = a.p
    ORDER BY auth_e6 DESC, part_id
    LIMIT 20
    """,
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs & authorities) over the directed customer→part
    purchase graph — the bipartite companion of `copurchase_pagerank`
    (PageRank ranks within the symmetric co-purchase projection; HITS
    ranks the two sides of the raw purchase relation against each
    other: customers with broad carts are hubs, parts bought by
    strong hubs are authorities). Two unrolled mutual-reinforcement
    rounds a←Σh, h←Σa, each followed by integer max-normalization
    ((x·1e6) div max — truncating division on non-negative BIGINTs,
    where Spark `div` and DuckDB `//` agree), so every score is
    bit-identical to the unrolled oracle with no driver-side state.
    Scale: per-round cost is one equi-join of the score relation with
    the edge list + one partial-agg groupBy — score state stays
    distributed; the max is a 1-row broadcast, top-20 via
    TakeOrderedAndProject. The o_orderkey < 2000 slice bounds the
    oracle's edge table while exercising the identical plan."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    h = e.select("c").distinct().withColumn(
        "h", F.lit(1_000_000).cast("bigint")
    )
    a = None
    for _ in range(2):
        ar = (
            e.join(h, "c")
            .groupBy("p")
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
        am = ar.agg(F.max("a").cast("bigint").alias("ma"))
        a = ar.crossJoin(F.broadcast(am)).select(
            "p", F.expr("CAST((a * 1000000) div ma AS BIGINT)").alias("a")
        )
        hr = (
            e.join(a, "p")
            .groupBy("c")
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
        hm = hr.agg(F.max("h").cast("bigint").alias("mh"))
        h = hr.crossJoin(F.broadcast(hm)).select(
            "c", F.expr("CAST((h * 1000000) div mh AS BIGINT)").alias("h")
        )
    indeg = e.groupBy("p").agg(F.count("*").cast("bigint").alias("d"))
    return (
        a.join(indeg, "p")
        .select(
            F.col("p").cast("bigint").alias("part_id"),
            F.col("a").cast("bigint").alias("auth_e6"),
            F.col("d").cast("bigint").alias("in_degree"),
        )
        .orderBy(F.desc("auth_e6"), F.asc("part_id"))
        .limit(20)
    )


@query(
    "adamic_adar_link_prediction",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey < 2000
    ),
    de AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT src AS s, dst AS d FROM de
      UNION
      SELECT dst AS s, src AS d FROM de
    ),
    deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS od FROM edges GROUP BY s),
    cand AS (
      SELECT e1.s AS u, e2.s AS v, e1.d AS w
      FROM edges e1 JOIN edges e2
        ON e1.d = e2.d AND e1.s < e2.s
    ),
    newpairs AS (
      SELECT c.u, c.v, c.w
      FROM cand c
      LEFT JOIN de x ON x.src = c.u AND x.dst = c.v
      WHERE x.src IS NULL
    ),
    terms AS (
      SELECT n.u, n.v,
             CAST(FLOOR(1e9 / LN(CAST(g.od AS DOUBLE)) + 0.5) AS BIGINT)
               AS t_e9
      FROM newpairs n JOIN deg g ON g.s = n.w
    )
    SELECT CAST(u AS BIGINT) AS part_a,
           CAST(v AS BIGINT) AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(SUM(t_e9) AS BIGINT) AS aa_e9
    FROM terms
    GROUP BY u, v
    ORDER BY aa_e9 DESC, part_a, part_b
    LIMIT 20
    """,
)
def adamic_adar_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Adamic-Adar link prediction over the co-purchase graph: score
    every NON-adjacent part pair by Σ 1/ln(deg(w)) over their common
    neighbors w — the classic 'products likely to be co-bought next'
    recommender signal, and the link-prediction member of the graph
    family (components/PageRank/k-core describe the graph as it is;
    Adamic-Adar predicts its next edge). Candidates come from the
    wedge join (two edge hops through the shared neighbor — the
    banded shape, never all-pairs); existing edges drop via a
    left-anti probe of the canonical src<dst edge list. Every common
    neighbor has degree ≥ 2 (it touches both endpoints), so ln is
    bounded away from 0; each 1/ln term rounds once to an e9 BIGINT
    and pair scores are order-independent integer sums. Top-20 via
    TakeOrderedAndProject. The l_orderkey < 2000 slice bounds the
    wedge fan-out for the oracle while exercising the identical
    plan."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    de = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    edges = de.select(
        F.col("src").alias("s"), F.col("dst").alias("d")
    ).unionByName(
        de.select(F.col("dst").alias("s"), F.col("src").alias("d"))
    ).distinct()
    deg = edges.groupBy("s").agg(F.count("*").cast("bigint").alias("od"))
    e1 = edges.select(F.col("s").alias("u"), F.col("d").alias("w"))
    e2 = edges.select(F.col("s").alias("v"), F.col("d").alias("w"))
    cand = e1.join(e2, "w").filter(F.col("u") < F.col("v"))
    newpairs = cand.join(
        de,
        (cand["u"] == de["src"]) & (cand["v"] == de["dst"]),
        "left_anti",
    )
    terms = newpairs.join(
        deg, newpairs["w"] == deg["s"]
    ).select(
        "u",
        "v",
        F.expr(
            "CAST(FLOOR(1e9 / LN(CAST(od AS DOUBLE)) + 0.5) AS BIGINT)"
        ).alias("t_e9"),
    )
    return (
        terms.groupBy("u", "v")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum("t_e9").cast("bigint").alias("aa_e9"),
        )
        .select(
            F.col("u").cast("bigint").alias("part_a"),
            F.col("v").cast("bigint").alias("part_b"),
            "n_common",
            "aa_e9",
        )
        .orderBy(F.desc("aa_e9"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@query(
    "customer_jaccard_similarity",
    oracle="""
    WITH cp AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey < 2000
    ),
    deg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nd FROM cp GROUP BY c),
    inter AS (
      SELECT a.c AS ca, b.c AS cb, CAST(COUNT(*) AS BIGINT) AS ni
      FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
      GROUP BY a.c, b.c
    )
    SELECT CAST(i.ca AS BIGINT) AS cust_a,
           CAST(i.cb AS BIGINT) AS cust_b,
           i.ni AS n_common,
           CAST(da.nd + db.nd - i.ni AS BIGINT) AS n_union,
           CAST((i.ni * 1000000) // (da.nd + db.nd - i.ni) AS BIGINT)
             AS jaccard_e6
    FROM inter i
    JOIN deg da ON da.c = i.ca
    JOIN deg db ON db.c = i.cb
    ORDER BY jaccard_e6 DESC, cust_a, cust_b
    LIMIT 20
    """,
)
def customer_jaccard_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """User-user collaborative-filtering similarity: top-20 customer
    pairs by Jaccard overlap of their purchased part sets — the
    OTHER projection of the purchase bipartite graph (the co-purchase
    family projects part-part; recommenders need customer-customer
    too, 'users like you bought'). Candidate pairs come from the
    part-side inverted index (two hops through a shared part — the
    banded shape, never all customer pairs); intersections are exact
    counts and Jaccard = (|∩|·1e6) div |∪| is a truncating division
    on non-negative BIGINTs, so ranking is integer-stable across
    engines. Top-20 via TakeOrderedAndProject. The o_orderkey < 2000
    slice bounds the inverted-index fan-out for the oracle while
    exercising the identical plan; at scale the hot-part fan-out is
    the documented LSH-band cap concern, same mitigation."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    deg = cp.groupBy("c").agg(F.count("*").cast("bigint").alias("nd"))
    a = cp.select(F.col("c").alias("ca"), "p")
    b = cp.select(F.col("c").alias("cb"), "p")
    inter = (
        a.join(b, "p")
        .filter(F.col("ca") < F.col("cb"))
        .groupBy("ca", "cb")
        .agg(F.count("*").cast("bigint").alias("ni"))
    )
    da = deg.select(F.col("c").alias("ca"), F.col("nd").alias("nda"))
    db = deg.select(F.col("c").alias("cb"), F.col("nd").alias("ndb"))
    return (
        inter.join(da, "ca")
        .join(db, "cb")
        .select(
            F.col("ca").cast("bigint").alias("cust_a"),
            F.col("cb").cast("bigint").alias("cust_b"),
            F.col("ni").alias("n_common"),
            (F.col("nda") + F.col("ndb") - F.col("ni"))
            .cast("bigint")
            .alias("n_union"),
            F.expr(
                "CAST((ni * 1000000) div (nda + ndb - ni) AS BIGINT)"
            ).alias("jaccard_e6"),
        )
        .orderBy(F.desc("jaccard_e6"), F.asc("cust_a"), F.asc("cust_b"))
        .limit(20)
    )


@query(
    "clustering_coefficient_nodes",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey < 2000
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.s AS x, e1.d AS y, e2.d AS z
      FROM edges e1
      JOIN edges e2 ON e1.d = e2.s
      JOIN edges e3 ON e1.s = e3.s AND e2.d = e3.d
    ),
    tri_nodes AS (
      SELECT x AS v FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    tcnt AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM tri_nodes GROUP BY v
    ),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (
        SELECT s AS v FROM edges UNION ALL SELECT d FROM edges
      ) t GROUP BY v
    )
    SELECT d.v AS part, d.degree,
           COALESCE(t.n_tri, 0) AS n_tri,
           CAST((2 * COALESCE(t.n_tri, 0) * 1000000)
                // (d.degree * (d.degree - 1)) AS BIGINT) AS cc_e6
    FROM deg d LEFT JOIN tcnt t ON t.v = d.v
    WHERE d.degree > 1
    ORDER BY cc_e6 DESC, part
    LIMIT 20
    """,
)
def clustering_coefficient_nodes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-node local clustering coefficient on the co-purchase graph
    — the node-level refinement of `triangle_count` (the global count
    says how clustered the graph is; the per-node coefficient
    2T_v/(deg_v(deg_v−1)) finds WHICH parts sit in dense communities,
    the feature a graph-aware sampler weights by). Triangles come
    from the same oriented two-hop + closing-edge join and explode to
    their three member nodes (each triangle counted once per node);
    degrees come from the undirected incidence union; the coefficient
    is pure integer arithmetic (truncating e6 division — both engines
    floor non-negative division identically). Scale: identical join
    profile to `triangle_count` — equi-joins only, bounded per-order
    fan-out; the top-k is TakeOrderedAndProject."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("d")
        )
        .distinct()
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.d") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e1.s") == F.col("e3.s"))
            & (F.col("e2.d") == F.col("e3.d")),
        )
        .select(
            F.col("e1.s").alias("x"),
            F.col("e1.d").alias("y"),
            F.col("e2.d").alias("z"),
        )
    )
    tri_nodes = (
        tri.select(F.col("x").alias("v"))
        .unionAll(tri.select(F.col("y").alias("v")))
        .unionAll(tri.select(F.col("z").alias("v")))
    )
    tcnt = tri_nodes.groupBy("v").agg(
        F.count("*").cast("bigint").alias("n_tri")
    )
    deg = (
        edges.select(F.col("s").alias("v"))
        .unionAll(edges.select(F.col("d").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    return (
        deg.join(tcnt, "v", "left")
        .filter(F.col("degree") > 1)
        .select(
            F.col("v").alias("part"),
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0))
            .cast("bigint")
            .alias("n_tri"),
            F.expr(
                "CAST((2 * COALESCE(n_tri, 0) * 1000000)"
                " div (degree * (degree - 1)) AS BIGINT)"
            ).alias("cc_e6"),
        )
        .orderBy(F.desc("cc_e6"), F.asc("part"))
        .limit(20)
    )


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous label-propagation round as chained CTEs:
    neighbor-label counts -> per-node max count -> min label among
    the argmax set (the deterministic tie-break), keep-old-label for
    isolated nodes (none exist on this slice, but the FULL OUTER
    keeps the rule total)."""
    return f"""
    cnt_{out} AS (
      SELECT d.s AS v, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
      FROM dir_edges d JOIN {prev} l ON l.v = d.d
      GROUP BY d.s, l.lbl
    ),
    mx_{out} AS (
      SELECT v, MAX(c) AS cmax FROM cnt_{out} GROUP BY v
    ),
    {out} AS (
      SELECT c.v, MIN(c.lbl) AS lbl
      FROM cnt_{out} c JOIN mx_{out} m
        ON m.v = c.v AND c.c = m.cmax
      GROUP BY c.v
    )"""


@query(
    "label_propagation_communities",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey < 2000
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    dir_edges AS (
      SELECT s, d FROM edges UNION ALL SELECT d AS s, s AS d FROM edges
    ),
    l0 AS (SELECT DISTINCT s AS v, s AS lbl FROM dir_edges),
    {_lpa_round_sql('l0', 'l1')},
    {_lpa_round_sql('l1', 'l2')},
    {_lpa_round_sql('l2', 'l3')}
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS size
    FROM l3
    GROUP BY lbl
    ORDER BY size DESC, community
    LIMIT 20
    """,
)
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synchronous label propagation (3 unrolled rounds) on the
    co-purchase graph — the community-detection member of the graph
    family (PageRank ranks centrality, k-core finds density shells;
    LPA assigns COMMUNITIES, the partition a curriculum sampler or
    dedup-sharding step uses). Fully deterministic variant: every
    node adopts the minimum label among its neighbors' most frequent
    labels each round (argmax by count, min-label tie-break — plain
    groupBy/join arithmetic, no window, no randomness), so the
    3-round state is bit-reproducible and the oracle replays it as
    three chained CTE rounds. Spark side localCheckpoints each round
    to keep the unrolled lineage flat (the PageRank lineage-control
    precedent, `operators/graph.py`). Scale: each round is one
    |E|-sized equi-join + two hash aggregates — per-round cost is
    edge-linear, and the bounded slice keeps the oracle cheap while
    exercising the identical plan."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("d")
        )
        .distinct()
    )
    dir_edges = edges.unionAll(
        edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).localCheckpoint(eager=True)
    labels = (
        dir_edges.select(F.col("s").alias("v"))
        .distinct()
        .withColumn("lbl", F.col("v"))
    )
    for _ in range(3):
        cnt = (
            dir_edges.join(
                labels.select(F.col("v").alias("d"), "lbl"), "d"
            )
            .groupBy(F.col("s").alias("v"), "lbl")
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        mx = cnt.groupBy("v").agg(F.max("c").alias("cmax")).select(
            F.col("v").alias("mv"), "cmax"
        )
        labels = (
            cnt.join(
                mx,
                (F.col("v") == F.col("mv")) & (F.col("c") == F.col("cmax")),
            )
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").cast("bigint").alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(20)
    )


def _ktruss_oracle_sql(support: int = 2, rounds: int = 5) -> str:
    sql = ["""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey < 2000
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj0 AS MATERIALIZED (
      SELECT u AS s, v AS d FROM e0 UNION SELECT v AS s, u AS d FROM e0
    )"""]
    for t in range(1, rounds + 1):
        sql.append(f""",
    e{t} AS MATERIALIZED (
      SELECT e.u, e.v
      FROM e{t-1} e
      JOIN adj{t-1} a ON a.s = e.u
      JOIN adj{t-1} b ON b.s = e.v AND b.d = a.d
      GROUP BY e.u, e.v
      HAVING COUNT(*) >= {support}
    ),
    adj{t} AS MATERIALIZED (
      SELECT u AS s, v AS d FROM e{t} UNION SELECT v AS s, u AS d FROM e{t}
    )""")
    selects = [
        f"SELECT CAST({t} AS INT) AS round,"
        f" CAST(COUNT(*) AS BIGINT) AS n_edges FROM e{t}"
        for t in range(rounds + 1)
    ]
    sql.append("\n    " + "\n    UNION ALL ".join(selects))
    sql.append("\n    ORDER BY round")
    return "".join(sql)


@query("copurchase_ktruss", oracle=_ktruss_oracle_sql())
def copurchase_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss decomposition of the co-purchase graph by iterative
    triangle-support peeling: each round drops every edge in fewer
    than 2 surviving triangles (the EDGE-grain sibling of the
    node-grain `copurchase_kcore` — a 4-truss is strictly denser than
    a 3-core, since every remaining edge must close 2+ triangles, the
    cohesion standard community-mining uses when degree alone
    overstates connectivity). Each round is the canonical two-hop
    wedge join (edge (u,v) ⋈ adj(u) ⋈ adj(v) on the shared endpoint —
    never an all-pairs product), re-materialized with localCheckpoint
    so the plan stays bounded; only the per-round edge counts leave
    the executors. Fixed 5 rounds on both engines keep the unrolled
    oracle bit-identical whether or not the peel has converged."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    e = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    profile = [
        e.agg(F.count("*").cast("bigint").alias("n_edges")).select(
            F.lit(0).cast("int").alias("round"), "n_edges"
        )
    ]
    for t in range(1, 6):
        adj = e.select(
            F.col("u").alias("s"), F.col("v").alias("d")
        ).union(e.select(F.col("v").alias("s"), F.col("u").alias("d")))
        e = (
            e.join(
                adj.select(F.col("s").alias("u"), F.col("d").alias("w")),
                "u",
            )
            .join(
                adj.select(
                    F.col("s").alias("v"), F.col("d").alias("w")
                ),
                ["v", "w"],
            )
            .groupBy("u", "v")
            .agg(F.count("*").alias("supp"))
            .filter(F.col("supp") >= 2)
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        profile.append(
            e.agg(F.count("*").cast("bigint").alias("n_edges")).select(
                F.lit(t).cast("int").alias("round"), "n_edges"
            )
        )
    out = profile[0]
    for p in profile[1:]:
        out = out.unionByName(p)
    return out.orderBy("round")
