"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal column plumbing (north-star operators; the reference has no
analog — contract from /root/repo/BASELINE.json).

Oracle notes:
- md5 is identical in Spark and DuckDB -> exact-dedup oracles are exact.
- char-class regex counts use ASCII classes both regex engines agree on.
- vector math: Spark computes sequential double accumulation via
  aggregate/zip_with; the oracle mirrors it with list_reduce /
  list_cosine_similarity and a 6-dp round to absorb last-ulp libm
  differences.
- MinHash/SimHash/LSH internals hash with xxhash64 (no DuckDB
  equivalent) -> rows-only driver check + deterministic pytest
  fixtures in tests/test_dedup.py.

localCheckpoint pins (the sort-sampling family, r13/r14): queries
whose presentation ``orderBy`` sits on a narrow expensive subtree pin
the rows first so the range partitioner's bound-sampling job does not
re-execute the subtree. THE TRADE (r14, measured at the two largest
pin sites): ``localCheckpoint`` stores the pinned partitions in
executor block storage and TRUNCATES LINEAGE — on a multi-executor
cluster an executor loss after the pin FAILS the job instead of
recomputing (acceptable for bounded interactive queries; a long
pipeline should prefer a real checkpoint dir). The alternative —
``repartition()`` below the sort, which keeps fault tolerance by
making the sampling job reuse shuffle map output — was A/B-ed and
lost at both of the biggest sites (fuzzy_name_match pin 4.6 s vs
repartition 5.3 s vs unpinned 7.5 s; multimodal_video_frames 1.66 vs
2.31 vs 2.92 s): the keyless repartition pays a sortBeforeRepartition
local sort plus a full shuffle write+read of the same rows the pin
stores once. Pinned bytes are bounded by each query's OUTPUT, not its
input: the largest pins are fuzzy_name_match (~1M short-string pairs,
~100 MB) and the decoded-stats relations (one small row per
doc/frame) — all orders of magnitude under executor storage at any
supported scale factor, and MEMORY_AND_DISK spills rather than OOMs
if that ever changes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from local_stream_stack_spark.catalog import oracle_table as _t
from local_stream_stack_spark.operators.dedup import (
    exact_dedup,
    hot_gram_cap,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from local_stream_stack_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    sum_image_stats,
)
from local_stream_stack_spark.operators.similarity import (
    cosine,
    cosine_allpairs_threshold_blocked,
    cosine_topk_bruteforce,
    lsh_bucket_topk,
    norm2,
)
from local_stream_stack_spark.operators.text import (
    chunk_text,
    fingerprint,
    lang_id_scores,
    with_repetition_stats,
    with_text_stats,
)
from local_stream_stack_spark.queries.registry import query
from local_stream_stack_spark.session import configure_for_oracle


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, content_hash, n_copies
    FROM (
      SELECT doc_id, md5(text) AS content_hash,
             COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) t
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: canonical (min-id) doc per
    md5(text), with its copy count. One shuffle on the hash."""
    d = _t(spark, sf_dir, "documents")
    return (
        exact_dedup(d, content_cols=["text"], id_col="doc_id")
        .select("doc_id", "content_hash", "n_copies")
        .orderBy("doc_id")
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH docs AS (
      SELECT doc_id, lang, text FROM documents WHERE n_chars <= 200
    ),
    gram_sets AS (
      SELECT DISTINCT doc_id, lang,
             unnest([substr(text, CAST(i AS INT), 3)
                     for i in generate_series(1, length(text) - 2)]) AS g
      FROM docs
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM gram_sets GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM gram_sets a
      JOIN gram_sets b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, common,
           ca.n AS n_a, cb.n AS n_b,
           CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) AS jaccard
    FROM pairs
    JOIN counts ca ON id_a = ca.doc_id
    JOIN counts cb ON id_b = cb.doc_id
    WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.12
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (same-language block,
    short docs). Inverted-index join on shared grams — the exact
    verification stage; at corpus scale run it only on LSH candidates
    (dedup_minhash_lsh)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") <= 200)
    return (
        ngram_jaccard_pairs(
            d, id_col="doc_id", text_col="text", n=3,
            block_cols=["lang"], min_jaccard=0.12,
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_components",
    oracle="""
    WITH RECURSIVE docs AS (
      SELECT doc_id, lang, text FROM documents WHERE n_chars <= 200
    ),
    gram_all AS (
      SELECT DISTINCT doc_id, lang,
             unnest([substr(text, CAST(i AS INT), 3)
                     for i in generate_series(1, length(text) - 2)]) AS g
      FROM docs
    ),
    cap AS (SELECT LEAST(64, GREATEST(8, COUNT(*) // 100)) AS c FROM docs),
    hot AS (
      SELECT lang, g FROM gram_all GROUP BY lang, g
      HAVING COUNT(*) > (SELECT c FROM cap)
    ),
    gram_sets AS (
      SELECT ga.doc_id, ga.lang, ga.g
      FROM gram_all ga ANTI JOIN hot USING (lang, g)
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM gram_sets GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM gram_sets a
      JOIN gram_sets b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT id_a, id_b
      FROM pairs
      JOIN counts ca ON id_a = ca.doc_id
      JOIN counts cb ON id_b = cb.doc_id
      WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.12
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM jp
      UNION
      SELECT id_b AS s, id_a AS d FROM jp
    ),
    reach AS (
      SELECT s AS n, s AS m FROM edges
      UNION
      SELECT r.n, e.d AS m FROM reach r JOIN edges e ON r.m = e.s
    )
    SELECT n AS doc_id, MIN(m) AS component
    FROM reach GROUP BY n ORDER BY doc_id
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the n-gram Jaccard pair list promoted to
    transitively-connected components (A~B, B~C => one cluster even if
    A!~C), each labeled by its minimum doc_id — the canonical document
    a dedup pass would keep. Iterative min-label propagation, one
    shuffle per round, rounds = component diameter
    (operators/graph.py). Oracle: DuckDB recursive-CTE transitive
    closure over the same pair list."""
    from local_stream_stack_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") <= 200)
    # Corpus-relative hot-gram cap (round-7 fix, measured at 100x):
    # char-3-grams are shared by construction across any same-language
    # corpus, so without a df cap the gram self-join is quadratic in
    # corpus size — the 100x scaling run hung here while the 10x run
    # had read a deceptive alpha 0.956. A gram in > max(8, 1% of the
    # slice) docs carries no dedup signal and is dropped pre-join
    # (dedup_containment's round-5 cap, now shared via
    # ngram_jaccard_pairs max_df); jaccard is over surviving grams on
    # BOTH engines. One count() job for the cap — parameter-sized.
    n_slice = d.count()
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=3,
        block_cols=["lang"], min_jaccard=0.12,
        # hot_gram_cap = LEAST(64, GREATEST(8, n/100)): the absolute
        # ceiling bounds every gram's contribution to C(64,2) so
        # total pairs stay linear in corpus grams (pinned in
        # tests/test_dedup.py). Unchanged (cap=8) at driver scales.
        max_df=hot_gram_cap(n_slice),
    )
    return (
        connected_components(pairs, src="id_a", dst="id_b")
        .select(F.col("node").alias("doc_id"), "component")
        .orderBy("doc_id")
    )


def _minhash_bandkey_cte_sql(
    n_hashes: int = 32,
    shingle_k: int = 3,
    rows_per_band: int = 4,
    source: str = "documents",
) -> str:
    """CTE chain (perms .. bandkey) replaying the PORTABLE minhash
    pipeline over ``source`` (any relation with doc_id, text): the
    permutation literals come from the same seeded ``_perm_params``
    the operator embeds, the base hash is md5-derived, and the band
    key is the '|'-joined band values. Shared by the batch LSH oracle
    and the streaming near-dup ingest oracle."""
    from local_stream_stack_spark.operators.dedup import _perm_params

    P = (1 << 31) - 1
    perms = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(_perm_params(n_hashes, seed=42))
    )
    joins = " || ' ' || ".join(
        f"w[i+{j}]" if j else "w[i]" for j in range(shingle_k)
    )
    return f"""
    perms(i, a, b) AS (VALUES {perms}),
    words AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> length(t) > 0) AS w
      FROM {source}
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([{joins}
               for i in generate_series(1, len(w) - {shingle_k - 1})])) AS s
      FROM words
    ),
    hs AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) % {P} AS h
      FROM sh
    ),
    sig AS (
      SELECT doc_id, p.i, MIN((p.a * hs.h + p.b) % {P}) AS m
      FROM hs, perms p GROUP BY doc_id, p.i
    ),
    bandkey AS (
      SELECT doc_id, i // {rows_per_band} AS band,
             string_agg(CAST(m AS VARCHAR), '|' ORDER BY i) AS bh
      FROM sig GROUP BY doc_id, i // {rows_per_band}
    )"""


def _minhash_oracle_sql(
    n_hashes: int = 32, shingle_k: int = 3, rows_per_band: int = 4
) -> str:
    """Oracle for the PORTABLE minhash pipeline (see
    ``_minhash_bandkey_cte_sql``), plus the candidate join and the
    exact signature-agreement fraction."""
    return f"""
    WITH {_minhash_bandkey_cte_sql(n_hashes, shingle_k, rows_per_band)},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandkey a JOIN bandkey b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE)
             / {n_hashes} AS sig_agreement
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
    GROUP BY c.id_a, c.id_b
    ORDER BY id_a, id_b
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms over 3-word shingles) + LSH(8 bands x 4 rows)
    candidate pairs with their exact signature-agreement fraction.
    Word shingling cuts the shingle count ~6x vs char-5 at equal
    dedup quality on prose.

    Runs the PORTABLE pipeline (md5-derived base hash + '|'-joined
    band keys, operators/dedup.minhash_signatures_portable), so the
    previously rows-only query is fully ORACLE-BACKED: the SQL replays
    shingling, the (a*x+b) mod p permutation family (same seeded
    literals), per-band bucketing, and the signature-agreement join
    bit-for-bit. The xxhash64 variants stay as the raw-speed
    production path, pinned on synthetic near-dups in
    tests/test_dedup.py. sig_agreement = eq/32 is exactly
    representable in binary, so the doubles hash identically."""
    from local_stream_stack_spark.operators.dedup import (
        minhash_signatures_portable,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures_portable(
        d, id_col="doc_id", text_col="text", n_hashes=32, shingle_k=3, shingle="word"
    )
    cands = minhash_lsh_candidates(
        sigs,
        id_col="doc_id",
        bands=8,
        rows_per_band=4,
        carry_sig=True,
        portable_keys=True,
    )
    return (
        cands
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda v: v,
                    )
                ).cast("double")
                / 32.0
            ).alias("sig_agreement"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    tk AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
    h AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS hv
      FROM tk
    ),
    bits AS (
      SELECT doc_id, b.b AS b,
             SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, generate_series(0, 59) b(b)
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b
                         ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints per document (near-dup = small Hamming
    distance, compared via bit_count(a XOR b) in a banded join).

    Runs the PORTABLE variant (60-bit md5-derived token hashes,
    operators/dedup.simhash_portable), so the previously rows-only
    query is fully ORACLE-BACKED: the SQL replays tokenize -> token
    hash -> per-bit majority vote -> signature assembly bit-for-bit.
    The xxhash64 variant (simhash64) stays as the raw-speed production
    path with identical construction, pinned on fixtures in
    tests/test_dedup.py."""
    from local_stream_stack_spark.operators.dedup import simhash_portable

    d = _t(spark, sf_dir, "documents")
    return simhash_portable(d, id_col="doc_id", text_col="text").orderBy(
        "doc_id"
    )


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (a, b) -> a + b)), 6) AS l2_norm
    FROM embeddings
    ORDER BY vec_id
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector plumbing: dimension + L2 norm via built-in higher-order
    array functions (sequential double accumulation, no UDF)."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(norm2(F.col("embedding")), 6).alias("l2_norm"),
    ).orderBy("vec_id")


@query(
    "sim_bruteforce_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, corpus_id,
             ROUND(list_reduce(list_transform(generate_series(1, len(qv)),
                     i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)),
                   (a, b) -> a + b)
               / (sqrt(list_reduce(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b))
                * sqrt(list_reduce(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b))),
               6) AS cosine_sim
      FROM c, q
      WHERE corpus_id <> query_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, corpus_id) AS rk
      FROM scored
    )
    SELECT query_id, corpus_id, cosine_sim, rk
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, rk
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 5 query vectors: the
    correctness baseline for similarity search. Query side broadcast;
    corpus streamed once. At scale, replace with sim_lsh_topk."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    scored = cosine_topk_bruteforce(
        queries=q,
        corpus=e,
        query_id="vec_id",
        corpus_id="vec_id",
        query_vec="embedding",
        corpus_vec="embedding",
        k=11,  # allow for the self-match dropped below
        round_dp=6,
    ).filter(F.col("query_id") != F.col("corpus_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return (
        scored.drop("rk")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "corpus_id", "cosine_sim", "rk")
        .orderBy("query_id", "rk")
    )


def _int_lsh_sig_cte(n_tables: int, n_planes: int, dim: int = 64) -> str:
    """Shared oracle CTE text: md5-derived integer-plane LSH signatures
    over floor-quantized embeddings — replays
    ``operators/similarity._int_lsh_buckets_udf`` bit-for-bit in SQL
    (same scheme as the semantic_dedup_lsh_components oracle)."""
    return f"""
    planes AS (
      SELECT t.t, j.j, i.i,
             CAST('0x' || substring(md5(concat(t.t,'|',j.j,'|',i.i)), 1, 4)
                  AS INT) % 7 - 3 AS w
      FROM generate_series(0,{n_tables - 1}) t(t),
           generate_series(0,{n_planes - 1}) j(j),
           generate_series(0,{dim - 1}) i(i)
    ),
    qv AS (
      SELECT vec_id, i.i AS i,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, generate_series(0,{dim - 1}) i(i)
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
    )"""


@query(
    "sim_lsh_topk",
    oracle="WITH "
    + _int_lsh_sig_cte(8, 4)
    + """,
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
      FROM sig q JOIN sig c ON q.t = c.t AND q.bucket = c.bucket
      WHERE q.vec_id < 5
    ),
    scored AS (
      SELECT cd.query_id, cd.corpus_id,
             ROUND(list_reduce(list_transform(generate_series(1, len(a.embedding)),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(a.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))
                * sqrt(list_reduce(list_transform(b.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))),
               6) AS cosine_sim
      FROM cand cd
      JOIN embeddings a ON a.vec_id = cd.query_id
      JOIN embeddings b ON b.vec_id = cd.corpus_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, corpus_id) AS rk
      FROM scored
    )
    SELECT query_id, corpus_id, cosine_sim, rk
    FROM ranked
    WHERE rk <= 10 AND corpus_id <> query_id
    ORDER BY query_id, rk
    """,
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane LSH (8 tables x 4
    bits): the 100 TB path — equi-join on (table, bucket) instead of
    a cross product. Size n_planes ~ log2(corpus/target_bucket) so
    buckets stay O(100) rows at any scale; recall floor pinned in
    tests/test_similarity.py.

    Runs in ``integer_exact`` mode (md5-derived integer planes over
    floor-quantized vectors — operators/similarity), so the previously
    rows-only query is fully ORACLE-BACKED: the SQL replays signature
    assignment, the bucket join, exact cosine re-scoring, and the
    per-query rank window bit-for-bit."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return (
        lsh_bucket_topk(
            queries=q,
            corpus=e,
            query_id="vec_id",
            corpus_id="vec_id",
            query_vec="embedding",
            corpus_vec="embedding",
            dim=64,
            k=10,
            n_tables=8,
            n_planes=4,
            integer_exact=True,
        )
        .filter(F.col("query_id") != F.col("corpus_id"))
        .orderBy("query_id", "rk")
    )


@query(
    "sim_lsh_multiprobe_topk",
    oracle="WITH "
    + _int_lsh_sig_cte(4, 4)
    + """,
    probes AS (
      SELECT vec_id, t,
             unnest(list_prepend(bucket,
               list_transform(generate_series(0, 3),
                 j -> xor(bucket, CAST(1 AS BIGINT) << j)))) AS probe
      FROM sig
      WHERE vec_id < 5
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
      FROM probes q JOIN sig c ON q.t = c.t AND c.bucket = q.probe
    ),
    scored AS (
      SELECT cd.query_id, cd.corpus_id,
             ROUND(list_reduce(list_transform(generate_series(1, len(a.embedding)),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(a.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))
                * sqrt(list_reduce(list_transform(b.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))),
               6) AS cosine_sim
      FROM cand cd
      JOIN embeddings a ON a.vec_id = cd.query_id
      JOIN embeddings b ON b.vec_id = cd.corpus_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, corpus_id) AS rk
      FROM scored
    )
    SELECT query_id, corpus_id, cosine_sim, rk
    FROM ranked
    WHERE rk <= 10 AND corpus_id <> query_id
    ORDER BY query_id, rk
    """,
)
def sim_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPROBE LSH top-10 (Lv et al.): HALF the hash tables of
    `sim_lsh_topk` (4x4 vs 8x4), with each query additionally probing
    the 4 buckets one sign-bit flip away — near-misses where a single
    hyperplane disagreed sit exactly there. The standard
    recall-vs-memory trade for ANN serving: index memory is per-table
    (halved), probe fan-out is query-side only (x5 probe rows on the
    small side of the join), and the corpus index is untouched — the
    direction that matters when corpus >> queries at 100 TB. Same
    integer-exact bucket scheme as the rest of the ANN tier, so the
    oracle replays signatures, bit-flip probes (XOR), the candidate
    join, exact cosine re-scoring, and the rank window."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return (
        lsh_bucket_topk(
            queries=q,
            corpus=e,
            query_id="vec_id",
            corpus_id="vec_id",
            query_vec="embedding",
            corpus_vec="embedding",
            dim=64,
            k=10,
            n_tables=4,
            n_planes=4,
            integer_exact=True,
            probe_flip_bits=4,
        )
        .filter(F.col("query_id") != F.col("corpus_id"))
        .orderBy("query_id", "rk")
    )


_COSINE_TWIN_CAP = 1000


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings
               ORDER BY vec_id LIMIT {_COSINE_TWIN_CAP})
    SELECT id_a, id_b, label_a, label_b, cosine_sim
    FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.label AS label_a, b.label AS label_b,
             ROUND(list_reduce(list_transform(generate_series(1, len(a.embedding)),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(a.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))
                * sqrt(list_reduce(list_transform(b.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))),
               6) AS cosine_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) t
    WHERE cosine_sim >= 0.40
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact, threshold 0.40 — this
    synthetic corpus has no true near-dups; max pairwise cosine is
    ~0.51). Distributed block-pair all-pairs: nothing is collected to
    the driver; each of the B(B+1)/2 block pairs scores its two blocks
    as a numpy dimension-at-a-time fold, bit-identical to the DuckDB
    list_reduce oracle. An exact threshold join is O(n^2) work by
    nature — the blocking bounds per-task memory and spreads the FLOPs;
    for approximate near-dup at corpus scale use sim_lsh_topk
    (bucketed candidates) and keep this as the verify stage.

    DELIBERATE BOUND (same rule as semantic_dedup_components, VERDICT
    r5 #4; flagged empirically by the round-6 scaling curve): the
    REGISTERED form runs on the first ``_COSINE_TWIN_CAP`` vec_ids —
    deterministic TakeOrdered slice, identical LIMIT in the oracle,
    truncation logged — so no registered query is O(n^2) over the
    full corpus. The uncapped operator stays the candidate-verify
    stage."""
    from local_stream_stack_spark.utils import get_logger

    get_logger("queries.llm").info(
        "dedup_embedding_cosine: exact all-pairs verification twin"
        " capped to the first %d vec_ids (scale path: sim_lsh_topk"
        " candidates + this operator as verify stage)",
        _COSINE_TWIN_CAP,
    )
    e = (
        _t(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(_COSINE_TWIN_CAP)
    )
    return cosine_allpairs_threshold_blocked(
        e, id_col="vec_id", vec_col="embedding", threshold=0.40,
        extra_cols=["label"], approx_rows=_COSINE_TWIN_CAP,
    ).orderBy("id_a", "id_b")


@query(
    "sim_ivf_topk",
    oracle="""
    WITH ev AS (
      SELECT vec_id, label, i.i AS i,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, generate_series(0, 63) i(i)
    ),
    cent AS (SELECT label, i, SUM(x) AS s FROM ev GROUP BY label, i),
    centn AS (SELECT label, SUM(s * s) AS ss FROM cent GROUP BY label),
    qn AS (SELECT vec_id, SUM(x * x) AS qq
           FROM ev WHERE vec_id < 5 GROUP BY vec_id),
    cn AS (SELECT vec_id, SUM(x * x) AS cc FROM ev GROUP BY vec_id),
    qdot AS (
      SELECT q.vec_id, c.label, SUM(q.x * c.s) AS dot
      FROM ev q JOIN cent c ON q.i = c.i
      WHERE q.vec_id < 5
      GROUP BY q.vec_id, c.label
    ),
    csim AS (
      SELECT d.vec_id AS query_id, d.label,
             CAST(ROUND(CAST(d.dot AS DOUBLE)
                        / (sqrt(CAST(q.qq AS DOUBLE))
                           * sqrt(CAST(n.ss AS DOUBLE))) * 1000000)
                  AS BIGINT) AS cent_sim_e6
      FROM qdot d
      JOIN qn q ON q.vec_id = d.vec_id
      JOIN centn n ON n.label = d.label
    ),
    probes AS (
      SELECT query_id, label FROM (
        SELECT query_id, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cent_sim_e6 DESC, label) AS pr
        FROM csim) t
      WHERE pr <= 3
    ),
    pairdot AS (
      SELECT p.query_id, e.vec_id AS corpus_id, SUM(q.x * e.x) AS dot
      FROM probes p
      JOIN ev e ON e.label = p.label
      JOIN ev q ON q.vec_id = p.query_id AND q.i = e.i
      GROUP BY p.query_id, e.vec_id
    ),
    scored AS (
      SELECT pd.query_id, pd.corpus_id,
             CAST(ROUND(CAST(pd.dot AS DOUBLE)
                        / (sqrt(CAST(qn.qq AS DOUBLE))
                           * sqrt(CAST(cn.cc AS DOUBLE))) * 1000000)
                  AS BIGINT) AS cosine_sim_e6
      FROM pairdot pd
      JOIN qn ON qn.vec_id = pd.query_id
      JOIN cn ON cn.vec_id = pd.corpus_id
      WHERE pd.corpus_id <> pd.query_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cosine_sim_e6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim_e6 DESC, corpus_id)
               AS rk
      FROM scored
    )
    SELECT query_id, corpus_id, cosine_sim_e6, rk
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, rk
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-10: coarse cells = per-label
    centroids; each query probes its nprobe=3 nearest centroids and
    searches only those cells. The centroid table is tiny and
    broadcast; the cell scan is an equi-join on label — the
    inverted-file shape that avoids the cross product at corpus scale.

    Runs INTEGER-EXACT (previously rows-only): vectors are floor-
    quantized to BIGINT at 1e-6 resolution, the centroid is the exact
    integer SUM per dimension (cosine is scale-invariant, so the sum
    points exactly where the mean does — no order-dependent float
    accumulation), and every dot/norm is an exact integer whose final
    sim is emitted as a scaled BIGINT (``*_e6``). The oracle replays
    quantization, centroid build, probe selection, and cell re-scoring
    bit-for-bit. Recall vs exact top-k pinned in
    tests/test_similarity.py."""
    from pyspark.sql.window import Window

    def doti(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    def sim_e6(dot, n1, n2):
        return F.round(
            dot.cast("double") / (F.sqrt(n1) * F.sqrt(n2)) * F.lit(1000000.0)
        ).cast("bigint")

    e = _t(spark, sf_dir, "embeddings")
    ev = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * F.lit(1000000.0)).cast(
                "bigint"
            ),
        ).alias("x"),
    )
    # per-label exact integer centroid: posexplode -> SUM per (label,
    # pos) -> reassemble; partial aggregation bounds the shuffle at
    # labels x dim rows regardless of corpus size
    cent = (
        ev.select("label", F.posexplode("x").alias("pos", "xv"))
        .groupBy("label", "pos")
        .agg(F.sum("xv").alias("s"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda st: st.s,
            ).alias("cvec")
        )
        .withColumn("ss", doti(F.col("cvec"), F.col("cvec")))
    )
    q = ev.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("x").alias("__qx"),
        doti(F.col("x"), F.col("x")).alias("__qq"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cent_sim_e6"), F.asc("label")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "cent_sim_e6",
            sim_e6(doti(F.col("__qx"), F.col("cvec")), F.col("__qq"), F.col("ss")),
        )
        .withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= 3)
        .select("query_id", "__qx", "__qq", "label")
    )
    c = ev.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("label"),
        F.col("x").alias("__cx"),
        doti(F.col("x"), F.col("x")).alias("__cc"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim_e6"), F.asc("corpus_id")
    )
    return (
        c.join(F.broadcast(probes), on="label")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select(
            "query_id",
            "corpus_id",
            sim_e6(
                doti(F.col("__qx"), F.col("__cx")), F.col("__qq"), F.col("__cc")
            ).alias("cosine_sim_e6"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .orderBy("query_id", "rk")
    )


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256_hex,
           substr(base64(encode(text)), 1, 24) AS b64_head,
           map_meta['modality'][1] AS modality
    FROM (
      SELECT doc_id, text, MAP {'modality': 'image'} AS map_meta
      FROM documents
    ) t
    ORDER BY doc_id
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing, oracle-checkable half: opaque
    binary payload + typed metadata map, with byte-length, sha-256 and
    a base64 head over the binary column. The payload here is utf-8
    text bytes (no codecs in the container); a real image/audio column
    is byte-identical plumbing."""
    d = _t(spark, sf_dir, "documents")
    mm = attach_binary_payload(d, text_col="text", id_col="doc_id")
    return mm.select(
        F.col("id").alias("doc_id"),
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("sha256_hex"),
        F.substring(F.base64("payload"), 1, 24).alias("b64_head"),
        F.col("meta")["modality"].alias("modality"),
    ).orderBy("doc_id")


_MM_HEAD_SQL = """
         COALESCE(list_sum(list_transform(
           generate_series(1, LEAST(length(text), 16)),
           i -> unicode(substring(text, CAST(i AS INT), 1)))), 0)"""


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH v AS (
      SELECT doc_id AS id, text,
             100 + ({_MM_HEAD_SQL} + octet_length(encode(text))) % 10000
               AS d
      FROM documents WHERE doc_id % 10 = 0
    ),
    f AS (
      SELECT id,
             unnest([{{'idx': i,
                       'h': md5(text || '|' || CAST(i AS VARCHAR))}}
               for i in generate_series(0,
                 CAST(CEIL(CAST(d AS DOUBLE) / 1000) AS BIGINT) - 1)])
               AS fr
      FROM v
    )
    SELECT id, CAST(fr.idx AS INT) AS frame_idx,
           CAST(fr.idx * 1000 AS INT) AS frame_ms,
           fr.h AS frame_md5
    FROM f ORDER BY id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding multimodal op: video frame sampling via
    mapInPandas (one input row -> duration/interval frame rows, with
    per-frame payload bytes derived executor-side). The codec is a
    deterministic stub (no codecs in this container), but the stub is
    a SQL-replayable pure function of the payload — so the previously
    rows-only query is ORACLE-BACKED: the SQL replays the fake
    duration, the executor-side row expansion (one row per
    ceil(duration/1000)), and each frame's md5 fingerprint, verifying
    the mapInPandas plumbing (schema, Arrow batches, expansion
    cardinality) end-to-end with exact values. Expansion arithmetic is
    additionally pinned in tests/test_multimodal.py."""
    from local_stream_stack_spark.operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    mm = attach_binary_payload(d, text_col="text", id_col="doc_id", modality="video")
    frames = sample_frames(mm, every_ms=1000)
    return frames.select(
        "id",
        "frame_idx",
        "frame_ms",
        F.lower(F.hex("frame")).alias("frame_md5"),
    # pin before the global sort: narrow scan->sample subtree below,
    # so the sort's bound-sampling job would re-run the whole frame
    # expansion a second time (guide §5)
    ).localCheckpoint(eager=True).orderBy("id", "frame_idx")


@query(
    "multimodal_features",
    oracle=f"""
    SELECT doc_id AS id,
           'image' AS modality,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS checksum,
           CAST(16 + {_MM_HEAD_SQL} % 64 AS INT) AS width,
           CAST(16 + octet_length(encode(text)) % 64 AS INT) AS height,
           CAST(0 AS INT) AS duration_ms
    FROM documents ORDER BY id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature-extract plumbing: Arrow-batched
    mapInPandas over (id, payload, meta) with a typed feature schema.
    The decode itself is a deterministic stub (no codecs in this
    container; see operators/multimodal.py), but its fake features are
    SQL-replayable pure functions of the payload — so the previously
    rows-only query is ORACLE-BACKED: byte length, md5 checksum, and
    the codepoint-derived fake dimensions are checked exactly,
    verifying the UDF boundary (schema, batch shape, per-row decode
    dispatch) end-to-end. Batch shape and schema additionally pinned
    in tests/test_multimodal.py."""
    d = _t(spark, sf_dir, "documents")
    mm = attach_binary_payload(d, text_col="text", id_col="doc_id")
    # pin before the global sort: narrow scan->extract subtree below,
    # so the sort's bound-sampling job would re-run the whole feature
    # extraction a second time (guide §5)
    return extract_features(mm).localCheckpoint(eager=True).orderBy("id")


def decoded_stats_query(
    spark: SparkSession,
    sf_dir: str,
    codec: str,
    schema: str,
    per_doc: Callable[[ModuleType, int], Iterator[dict]],
    *,
    fan_out: bool,
    order: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """The shared skeleton of the real-codec ``multimodal_*`` queries:
    one Arrow-batched mapInPandas pass over ``documents.doc_id`` that
    calls ``per_doc(module, doc_id)`` in the Python worker and emits
    one output row per dict it yields (one per doc, or one per frame
    for multimodal_video_frames), then pins the rows and sorts them by
    ``order``. ``module`` is ``operators.<codec>``, imported once per
    partition.

    ``schema`` is the DDL output schema as plain ``name type`` pairs.
    Its first column is ``doc_id``, filled in here; every other column
    is read from the yielded dict by name, so a decoder that stops
    returning a field fails the task instead of emitting a null.

    ``fan_out`` repartitions the ids to the session parallelism before
    the decode. The testdata ``documents`` table is ONE small parquet
    file (one input split), so without it the whole codec runs on a
    single core (see multimodal_jpeg_decode). The png, wav and
    video_frames queries keep the single-split scan; whether they
    should fan out too is a question for its own A/B.

    The pin sits before the global sort: the decode is above the last
    exchange, so the range partitioner's bound-sampling job would
    re-run the whole decode a second time just to pick sort bounds
    (guide §5)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    if fan_out:
        d = d.repartition(spark.sparkContext.defaultParallelism)
    cols = [field.split()[0] for field in schema.split(",")]
    assert cols[0] == "doc_id", schema

    def run(batches):
        import importlib

        import pandas as pd

        mod = importlib.import_module(
            f"local_stream_stack_spark.operators.{codec}"
        )
        for pdf in batches:
            rows = [
                [did, *(feats[c] for c in cols[1:])]
                for did in map(int, pdf["doc_id"])
                for feats in per_doc(mod, did)
            ]
            yield pd.DataFrame(rows, columns=cols)

    return (
        d.mapInPandas(run, schema=schema)
        .localCheckpoint(eager=True)
        .orderBy(*order)
    )


# the 16-colour palette of the GIF and RLE8-BMP fixtures
_PALETTE16 = bytes(
    v
    for i in range(16)
    for v in ((i * 13) % 256, (i * 29) % 256, (i * 7 + 3) % 256)
)


@query(
    "multimodal_png_decode",
    oracle="""
    SELECT d.doc_id,
           CAST(16 + d.doc_id % 9 AS INT) AS width,
           CAST(12 + d.doc_id % 7 AS INT) AS height,
           CAST(SUM((d.doc_id * 31 + x.x * 7 + y.y * 13) % 251) AS BIGINT)
             AS px_sum,
           CAST(MIN((d.doc_id * 31 + x.x * 7 + y.y * 13) % 251) AS INT)
             AS px_min,
           CAST(MAX((d.doc_id * 31 + x.x * 7 + y.y * 13) % 251) AS INT)
             AS px_max
    FROM documents d,
         generate_series(0, 23) x(x),
         generate_series(0, 17) y(y)
    WHERE x.x < 16 + d.doc_id % 9
      AND y.y < 12 + d.doc_id % 7
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes image decode end to end (VERDICT r5 #6): per doc a
    grayscale image with closed-form pixels
    ``(doc_id*31 + x*7 + y*13) % 251`` and doc-dependent dimensions is
    ENCODED to actual PNG bytes (stdlib zlib writer cycling all five
    scanline filters) and then DECODED by the real stdlib PNG decoder
    (``operators/png.py``: chunk parse, inflate, per-filter
    reconstruction) inside one Arrow-batched mapInPandas pass — the
    codec stub is no longer on this path. The oracle recomputes the
    decoded pixel stats purely arithmetically (no PNG knowledge), so
    ANY defect in filter reconstruction, stride math, or chunk
    reassembly breaks px_sum/px_min/px_max equality. At 100 TB the
    shape is the standard media scan: executor-side decode, no
    shuffle until the aggregate; real corpora swap the fixture
    generator for ``read_binary_dir`` payloads unchanged."""
    def per_doc(png, did):
        w, h = 16 + did % 9, 12 + did % 7
        px = bytes(
            (did * 31 + x * 7 + y * 13) % 251
            for y in range(h)
            for x in range(w)
        )
        feats = png.decode_image(png.encode_png(w, h, px, channels=1))
        assert feats["channels"] == 1
        yield feats

    return decoded_stats_query(
        spark,
        sf_dir,
        "png",
        "doc_id bigint, width int, height int, px_sum bigint,"
        " px_min int, px_max int",
        per_doc,
        fan_out=False,
    )


@query(
    "multimodal_jpeg_decode",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             16 * (1 + doc_id % 3) AS w,
             16 * (1 + doc_id % 2) AS h
      FROM documents
    ),
    yb AS (
      SELECT doc_id,
             (doc_id * 31 + bx.i * 7 + by.i * 13) % 251 AS yv
      FROM p, generate_series(0, 5) bx(i), generate_series(0, 3) by(i)
      WHERE bx.i < w // 8 AND by.i < h // 8
    ),
    ys AS (
      SELECT doc_id,
             SUM(64 * yv) AS y_sum,
             MIN(yv) AS y_min,
             MAX(yv) AS y_max
      FROM yb GROUP BY doc_id
    ),
    cbb AS (
      SELECT doc_id,
             (doc_id * 17 + mx.i * 5 + my.i * 3) % 230 + 10 AS cbv,
             (doc_id * 23 + mx.i * 11 + my.i * 19) % 240 AS crv
      FROM p, generate_series(0, 2) mx(i), generate_series(0, 1) my(i)
      WHERE mx.i < w // 16 AND my.i < h // 16
    ),
    cs AS (
      SELECT doc_id,
             SUM(256 * cbv) AS cb_sum,
             SUM(256 * crv) AS cr_sum
      FROM cbb GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(p.w AS INT) AS width,
           CAST(p.h AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(ys.y_sum AS BIGINT) AS y_sum,
           CAST(ys.y_min AS INT) AS y_min,
           CAST(ys.y_max AS INT) AS y_max,
           CAST(cs.cb_sum AS BIGINT) AS cb_sum,
           CAST(cs.cr_sum AS BIGINT) AS cr_sum
    FROM p JOIN ys USING (doc_id) JOIN cs USING (doc_id)
    ORDER BY doc_id
    """,
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes JPEG decode end to end (VERDICT r7 missing #1 — the
    last stdlib-closable modality): per doc a 4:2:0 YCbCr image whose
    8x8 luma blocks and 16x16 chroma blocks are CONSTANT with
    closed-form values is ENCODED to actual baseline JFIF bytes
    (canonical Annex-K Huffman, DPCM DC, byte stuffing) and DECODED by
    the real decoder (``operators/jpeg.py``: marker parse, canonical
    Huffman reconstruction, dequantize, dezigzag, IDCT, chroma
    upsample) inside one Arrow-batched mapInPandas pass.

    JPEG is lossy in general, but these streams are EXACT by
    construction — all-ones quant tables and constant blocks make
    every AC coefficient zero and the DC path integral — so the
    oracle recomputes the DECODED component stats purely
    arithmetically (no JPEG knowledge): any defect in Huffman coding,
    DC prediction, zigzag, quantization, MCU interleave, or the
    subsampling round-trip breaks y/cb/cr sum equality. The general
    (AC, random-image) paths are pinned in tests/test_jpeg.py against
    an independent float-DCT reference. At 100 TB the shape is the
    standard media scan: executor-side decode, no shuffle until the
    aggregate; real corpora swap the fixture generator for
    ``read_binary_dir`` payloads unchanged.

    Cost split (measured, 300 docs single-thread): fixture plane
    generation 0.10 s, encode 0.23 s, decode 0.35 s — the codec
    dominates, not the fixture.  The id column is repartitioned to
    the session parallelism before mapInPandas because the testdata
    table is ONE small parquet file (one input split): without the
    fan-out the whole codec runs on a single core (17.5 s at sf0.1 in
    round 8; VERDICT r8 nit #1).  The shuffled payload is 5000 bigint
    ids — negligible.  On a real binary corpus the scan already
    arrives in many splits and this repartition is a no-op to remove."""
    def per_doc(jpeg, did):
        w = 16 * (1 + did % 3)
        h = 16 * (1 + did % 2)
        yp = bytes(
            (did * 31 + (x // 8) * 7 + (y // 8) * 13) % 251
            for y in range(h)
            for x in range(w)
        )
        cb = bytes(
            (did * 17 + (x // 16) * 5 + (y // 16) * 3) % 230 + 10
            for y in range(h)
            for x in range(w)
        )
        cr = bytes(
            (did * 23 + (x // 16) * 11 + (y // 16) * 19) % 240
            for y in range(h)
            for x in range(w)
        )
        yield jpeg.decode_image_jpeg(
            jpeg.encode_jpeg(w, h, [yp, cb, cr], subsampling="420")
        )

    return decoded_stats_query(
        spark,
        sf_dir,
        "jpeg",
        "doc_id bigint, width int, height int, channels int,"
        " y_sum bigint, y_min int, y_max int, cb_sum bigint,"
        " cr_sum bigint",
        per_doc,
        fan_out=True,
    )


@query(
    "multimodal_gif_decode",
    oracle="""
    WITH f1 AS (
      SELECT d.doc_id,
             (d.doc_id * 11 + x.x * 3 + y.y * 5) % 16 AS idx
      FROM documents d,
           generate_series(0, 12) x(x),
           generate_series(0, 8) y(y)
      WHERE x.x < 8 + d.doc_id % 5 AND y.y < 6 + d.doc_id % 3
    ),
    f2 AS (
      SELECT d.doc_id,
             (d.doc_id * 7 + x.x + 2 * y.y) % 16 AS idx
      FROM documents d,
           generate_series(0, 6) x(x),
           generate_series(0, 5) y(y)
      WHERE x.x < 4 + d.doc_id % 3 AND y.y < 4 + d.doc_id % 2
    ),
    px AS (
      SELECT doc_id,
             (idx * 13) % 256 AS r,
             (idx * 29) % 256 AS g,
             (idx * 7 + 3) % 256 AS b
      FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
    )
    SELECT doc_id,
           CAST(2 AS INT) AS n_frames,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(MIN(r) AS INT) AS r_min,
           CAST(MAX(r) AS INT) AS r_max
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes GIF decode end to end (VERDICT r8 task #5 — the last
    stdlib-feasible modality): per doc a TWO-frame GIF89a (doc-varying
    frame dims and offsets, 16-color global palette, real greedy-LZW
    streams in 255-byte sub-blocks) is encoded and decoded by the real
    codec (``operators/gif.py``: marker parse, sub-block reassembly,
    LZW with CLEAR resets / width growth / KwKwK, palette mapping)
    inside one Arrow-batched mapInPandas pass. GIF is lossless, so the
    oracle recomputes the decoded RGB channel stats purely
    arithmetically from the closed-form index and palette formulas (no
    GIF knowledge): any defect in bit unpacking, dictionary growth,
    sub-block handling, or palette lookup breaks the sums. The LZW
    stream itself is additionally pinned in ``tests/test_gif.py``
    against an independent reference decoder and a real-world golden
    GIF. Same fan-out note as JPEG: the id column is repartitioned
    because the testdata table is one small file; a real binary corpus
    already scans in many splits."""
    def per_doc(gif, did):
        w1, h1 = 8 + did % 5, 6 + did % 3
        w2, h2 = 4 + did % 3, 4 + did % 2
        f1 = bytes(
            (did * 11 + x * 3 + y * 5) % 16
            for y in range(h1)
            for x in range(w1)
        )
        f2 = bytes(
            (did * 7 + x + 2 * y) % 16
            for y in range(h2)
            for x in range(w2)
        )
        yield gif.decode_image_gif(
            gif.encode_gif(
                64, 48,
                [(0, 0, w1, h1, f1), (2, 1, w2, h2, f2)],
                _PALETTE16,
            )
        )

    return decoded_stats_query(
        spark,
        sf_dir,
        "gif",
        "doc_id bigint, n_frames int, n_px bigint, r_sum bigint,"
        " g_sum bigint, b_sum bigint, r_min int, r_max int",
        per_doc,
        fan_out=True,
    )


@query(
    "multimodal_wav_decode",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             CAST(1 + doc_id % 2 AS BIGINT) AS channels,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 8000 ELSE 16000 END
                  AS BIGINT) AS sample_rate,
             CAST(CASE WHEN doc_id % 5 = 0 THEN 251 ELSE 4093 END
                  AS BIGINT) AS m,
             CAST(CASE WHEN doc_id % 5 = 0 THEN 125 ELSE 2046 END
                  AS BIGINT) AS h,
             CAST(120 + doc_id % 83 AS BIGINT) AS n_frames
      FROM documents
    ),
    s AS (
      SELECT p.doc_id, p.channels, p.sample_rate, p.n_frames,
             (p.doc_id * 37 + i.i * 17 + c.c * 29) % p.m - p.h AS amp
      FROM p,
           generate_series(0, 201) i(i),
           generate_series(0, 1) c(c)
      WHERE i.i < p.n_frames AND c.c < p.channels
    )
    SELECT doc_id,
           CAST(sample_rate AS INT) AS sample_rate,
           CAST(channels AS INT) AS channels,
           CAST(n_frames AS INT) AS n_frames,
           CAST(n_frames * 1000 // sample_rate AS INT) AS duration_ms,
           CAST(SUM(amp) AS BIGINT) AS amp_sum,
           CAST(MIN(amp) AS INT) AS amp_min,
           CAST(MAX(amp) AS INT) AS amp_max
    FROM s
    GROUP BY doc_id, sample_rate, channels, n_frames
    ORDER BY doc_id
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes audio decode end to end (VERDICT r6 #6 — the audio
    face of what multimodal_png_decode does for images): per doc a
    PCM waveform with closed-form samples
    ``(doc_id*37 + frame*17 + channel*29) % m - h`` and doc-dependent
    rate/channels/bit-depth is ENCODED to actual RIFF/WAVE bytes
    (stdlib struct writer) and DECODED by the real WAV parser
    (``operators/wav.py``: chunk walk, PCM validation, 8-bit unsigned
    rebase, 16-bit LE unpack) inside one Arrow-batched mapInPandas
    pass. Docs alternate mono/stereo, 8 kHz/16 kHz, and 8/16-bit so
    both sample widths and the interleave stride are all under the
    oracle, which recomputes the decoded amplitude stats purely
    arithmetically (no WAV knowledge) — a wrong endianness, stride,
    or rebase breaks amp_sum/amp_min/amp_max equality. duration_ms is
    integer floor division on both engines. At 100 TB the shape is
    the standard media scan: executor-side decode, no shuffle until
    the aggregate; real corpora swap the fixture generator for
    ``read_binary_dir`` payloads unchanged."""
    def per_doc(wav, did):
        channels = 1 + did % 2
        rate = 8000 if did % 3 == 0 else 16000
        bit_depth = 8 if did % 5 == 0 else 16
        m, h = (251, 125) if bit_depth == 8 else (4093, 2046)
        n = 120 + did % 83
        samples = [
            (did * 37 + i * 17 + c * 29) % m - h
            for i in range(n)
            for c in range(channels)
        ]
        feats = wav.decode_audio(
            wav.encode_wav(rate, channels, samples, bit_depth)
        )
        assert feats["bit_depth"] == bit_depth
        yield feats

    return decoded_stats_query(
        spark,
        sf_dir,
        "wav",
        "doc_id bigint, sample_rate int, channels int,"
        " n_frames int, duration_ms int, amp_sum bigint,"
        " amp_min int, amp_max int",
        per_doc,
        fan_out=False,
    )


@query(
    "multimodal_video_frames",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             CAST(9 + doc_id % 6 AS BIGINT) AS w,
             CAST(5 + doc_id % 4 AS BIGINT) AS h,
             CAST(2 + doc_id % 3 AS BIGINT) AS nf
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h, p.nf, f.f AS frame_idx,
             (p.doc_id * 7 + f.f * 31 + y.y * 13 + x.x * 5 + c.c * 3)
               % 256 AS v,
             (y.y * p.w + x.x + 1) * (c.c + 1) AS wt
      FROM p,
           generate_series(0, 3) f(f),
           generate_series(0, 7) y(y),
           generate_series(0, 13) x(x),
           generate_series(0, 2) c(c)
      WHERE f.f < p.nf AND y.y < p.h AND x.x < p.w
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max,
           CAST(SUM(wt * v) AS BIGINT) AS px_weighted
    FROM px
    GROUP BY doc_id, frame_idx, w, h
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes video decode end to end — the video face of what
    multimodal_png_decode/multimodal_wav_decode do for images/audio,
    closing the last marked modality stub for the one video format
    that needs no codec library: per doc an uncompressed 24-bit AVI
    with closed-form RGB pixels
    ``(doc_id*7 + frame*31 + y*13 + x*5 + c*3) % 256`` and
    doc-dependent dims/frame-count is ENCODED to actual RIFF/AVI
    bytes (bottom-up padded BGR DIB frames) and DECODED by the real
    parser (``operators/avi.py``: nested LIST walk, BITMAPINFOHEADER
    validation, stride/row-order/channel-order reconstruction) in one
    row-expanding Arrow-batched mapInPandas pass. The oracle
    recomputes per-frame stats purely arithmetically; px_weighted is
    a position-and-channel-weighted checksum that any row flip,
    stride slip, or BGR/RGB swap perturbs. At 100 TB this is the
    standard media scan: executor-side decode, output cardinality
    decided executor-side (one row per frame), no shuffle until the
    aggregate."""
    def per_doc(avi, did):
        import numpy as np

        w, h, nf = 9 + did % 6, 5 + did % 4, 2 + did % 3
        # vectorized synthetic-pixel generation (guide §4.2):
        # same (did*7 + f*31 + 13y + 5x + 3c) % 256 bytes the
        # per-pixel generator produced, via one broadcast per
        # frame instead of w*h*3 Python iterations
        grid = (
            13 * np.arange(h, dtype=np.int64).reshape(h, 1, 1)
            + 5 * np.arange(w, dtype=np.int64).reshape(1, w, 1)
            + 3 * np.arange(3, dtype=np.int64).reshape(1, 1, 3)
        )
        frames = [
            ((did * 7 + f * 31 + grid) % 256)
            .astype(np.uint8)
            .tobytes()
            for f in range(nf)
        ]
        v = avi.decode_video(avi.encode_avi(w, h, frames, fps=10))
        assert v["n_frames"] == nf
        for idx, st in enumerate(v["frames"]):
            yield {
                **st,
                "frame_idx": idx,
                "width": v["width"],
                "height": v["height"],
            }

    return decoded_stats_query(
        spark,
        sf_dir,
        "avi",
        "doc_id bigint, frame_idx int, width int, height int,"
        " px_sum bigint, px_min int, px_max int, px_weighted bigint",
        per_doc,
        fan_out=False,
        order=("doc_id", "frame_idx"),
    )


@query(
    "pii_scrub_stats",
    oracle=r"""
    WITH mixed AS (
      SELECT doc_id, source,
             text || CASE WHEN doc_id % 3 <> 2 THEN
               ' contact u' || doc_id || '@ex' || (doc_id % 7)
               || '.org or +1-555-' || (100 + doc_id % 900) || '-'
               || (1000 + doc_id % 9000)
               || ' at 10.' || (doc_id % 256) || '.'
               || ((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256)
             ELSE '' END AS t
      FROM documents
    ),
    s1 AS (
      SELECT source, t,
             len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
             regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS r1
      FROM mixed
    ),
    s2 AS (
      SELECT source, t, ne,
             len(regexp_extract_all(r1,
               '\+\d{1,2}-\d{3}-\d{3}-\d{4}')) AS np,
             regexp_replace(r1,
               '\+\d{1,2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS r2
      FROM s1
    ),
    cnt AS (
      SELECT source, t, ne, np,
             len(regexp_extract_all(r2,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni,
             regexp_replace(r2,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
               '<IPV4>', 'g') AS red
      FROM s2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ne) AS BIGINT) AS n_emails,
           CAST(SUM(np) AS BIGINT) AS n_phones,
           CAST(SUM(ni) AS BIGINT) AS n_ipv4,
           CAST(SUM(length(t) - length(red) + ne * 7 + np * 7 + ni * 6)
                AS BIGINT) AS pii_chars_removed
    FROM cnt
    GROUP BY source
    ORDER BY source
    """,
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact over the corpus — the curation scrub every
    training-data pipeline runs before anything ships, proven end to
    end under the oracle: because the synthetic corpus contains no
    real PII, each doc (except every third, exercising the zero-match
    path) gets a DETERMINISTIC contact line injected from doc_id
    (email, E.164-style phone, dotted IPv4) — the same
    fixture-injection pattern the codec queries use for payload bytes
    — then the REAL regex scrubber (``operators/text.py scrub_pii``,
    lookaround-free patterns that mean the same thing under Java
    regex and RE2) counts and redacts, and per-source totals are
    compared exactly. Scan-shaped: regexp count/replace are JVM-side
    built-ins, one partial-agg groupBy(source) — at 100 TB a map-only
    pass plus a 20-row aggregate."""
    from local_stream_stack_spark.operators.text import scrub_pii

    d = _t(spark, sf_dir, "documents")
    inj = F.when(
        F.col("doc_id") % 3 != 2,
        F.concat(
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@ex"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".org or +1-555-"),
            (F.lit(100) + F.col("doc_id") % 900).cast("string"),
            F.lit("-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            F.lit(" at 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit("."), ((F.col("doc_id") * 13) % 256).cast("string"),
        ),
    ).otherwise(F.lit(""))
    mixed = d.select(
        "source", F.concat(F.col("text"), inj).alias("t")
    )
    scrubbed = scrub_pii(mixed, "t")
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_email").cast("bigint").alias("n_emails"),
            F.sum("n_phone").cast("bigint").alias("n_phones"),
            F.sum("n_ipv4").cast("bigint").alias("n_ipv4"),
            F.sum("pii_chars_removed")
            .cast("bigint")
            .alias("pii_chars_removed"),
        )
        .orderBy("source")
    )


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           LENGTH(text) AS n_chars_calc,
           CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                ELSE len(regexp_extract_all(text, '[^ ]+')) END AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT)
             AS n_wordlike,
           CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
             / GREATEST(LENGTH(text), 1) AS alpha_ratio,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
             / GREATEST(LENGTH(text), 1) AS digit_ratio,
           ROUND(GREATEST(0.0, LEAST(1.0,
             CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / GREATEST(LENGTH(text), 1)
             - CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / GREATEST(LENGTH(text), 1)
             - CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) * 0.5)), 6) AS quality_score
    FROM documents
    ORDER BY doc_id
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality statistics: token counts, char-class ratios, and a
    composite quality score — the cheap corpus-cleaning pre-filter."""
    d = _t(spark, sf_dir, "documents")
    return (
        with_text_stats(d, "text")
        .select(
            "doc_id",
            "n_chars_calc",
            "n_tokens",
            "n_wordlike",
            "alpha_ratio",
            "digit_ratio",
            "quality_score",
        )
        # pin before the global sort: narrow scan->regex subtree below,
        # so the sort's bound-sampling job would re-run every
        # regexp_count a second time (guide §5)
        .localCheckpoint(eager=True)
        .orderBy("doc_id")
    )


@query(
    "lang_id",
    oracle="""
    SELECT doc_id, lang,
           CASE
             WHEN GREATEST(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
             WHEN s_en = GREATEST(s_en, s_es, s_fr, s_de) THEN 'en'
             WHEN s_es = GREATEST(s_en, s_es, s_fr, s_de) THEN 'es'
             WHEN s_fr = GREATEST(s_en, s_es, s_fr, s_de) THEN 'fr'
             ELSE 'de'
           END AS predicted_lang
    FROM (
      SELECT doc_id, lang,
        len(regexp_extract_all(lower(text), '(^| )(the|and|of|is|to)( |$)')) AS s_en,
        len(regexp_extract_all(lower(text), '(^| )(el|la|los|es|una)( |$)')) AS s_es,
        len(regexp_extract_all(lower(text), '(^| )(le|les|est|une|dans)( |$)')) AS s_fr,
        len(regexp_extract_all(lower(text), '(^| )(der|die|und|ist|nicht)( |$)')) AS s_de
      FROM documents
    ) t
    ORDER BY doc_id
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID with deterministic tie-breaking."""
    d = _t(spark, sf_dir, "documents")
    return (
        lang_id_scores(d, "text")
        .select("doc_id", "lang", "predicted_lang")
        # pin before the global sort: narrow scan->regex subtree below,
        # so the sort's bound-sampling job would re-run all four
        # language-marker regex counts a second time (guide §5)
        .localCheckpoint(eager=True)
        .orderBy("doc_id")
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS md5_raw,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS md5_norm,
           LENGTH(text) AS n_chars_calc,
           strlen(text) AS n_bytes
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (raw + normalized md5) and the
    byte-vs-char length pair used by multimodal binary plumbing."""
    d = _t(spark, sf_dir, "documents")
    return (
        fingerprint(d, "text")
        .select(
            "doc_id",
            "md5_raw",
            "md5_norm",
            F.length("text").alias("n_chars_calc"),
            F.octet_length("text").cast("bigint").alias("n_bytes"),
        )
        .orderBy("doc_id")
    )


_LANG_SCORE_SQL = """
      SELECT doc_id, text,
        CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
             ELSE len(regexp_extract_all(text, '[^ ]+')) END AS n_tokens,
        ROUND(GREATEST(0.0, LEAST(1.0,
          CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / GREATEST(LENGTH(text), 1)
          - CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / GREATEST(LENGTH(text), 1)
          - CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS DOUBLE)
            / GREATEST(LENGTH(text), 1) * 0.5)), 6) AS quality_score,
        CASE
          WHEN GREATEST(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
          WHEN s_en = GREATEST(s_en, s_es, s_fr, s_de) THEN 'en'
          WHEN s_es = GREATEST(s_en, s_es, s_fr, s_de) THEN 'es'
          WHEN s_fr = GREATEST(s_en, s_es, s_fr, s_de) THEN 'fr'
          ELSE 'de'
        END AS predicted_lang
      FROM (
        SELECT doc_id, text,
          len(regexp_extract_all(lower(text), '(^| )(the|and|of|is|to)( |$)')) AS s_en,
          len(regexp_extract_all(lower(text), '(^| )(el|la|los|es|una)( |$)')) AS s_es,
          len(regexp_extract_all(lower(text), '(^| )(le|les|est|une|dans)( |$)')) AS s_fr,
          len(regexp_extract_all(lower(text), '(^| )(der|die|und|ist|nicht)( |$)')) AS s_de
        FROM documents
      ) raw
"""


@query(
    "curation_pipeline",
    oracle=f"""
    WITH scored AS ({_LANG_SCORE_SQL}),
    filtered AS (
      SELECT doc_id, n_tokens, quality_score, predicted_lang,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_hash
      FROM scored
      WHERE quality_score >= 0.80 AND n_tokens >= 10 AND predicted_lang = 'en'
    )
    SELECT doc_id, predicted_lang, n_tokens, quality_score, n_copies
    FROM (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY norm_hash ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY norm_hash) AS n_copies
      FROM filtered
    ) d
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation: quality filter -> language
    filter -> exact dedup on whitespace-normalized content, composed
    from the individual operators. One narrow scan + one shuffle (the
    dedup window on the content hash); filters run before the shuffle
    so at 100 TB the exchanged volume is the filtered survivor set,
    not the corpus."""
    d = _t(spark, sf_dir, "documents")
    scored = lang_id_scores(with_text_stats(d, "text"), "text")
    filtered = scored.filter(
        (F.col("quality_score") >= 0.80)
        & (F.col("n_tokens") >= 10)
        & (F.col("predicted_lang") == "en")
    ).withColumn(
        "norm_hash",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("norm_hash").orderBy("doc_id")
    return (
        filtered.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_copies", F.count("*").over(Window.partitionBy("norm_hash"))
        )
        .filter(F.col("__rn") == 1)
        .select(
            "doc_id", "predicted_lang", "n_tokens", "quality_score", "n_copies"
        )
        .orderBy("doc_id")
    )


@query(
    "curation_pipeline_yaml",
    oracle=f"""
    WITH scored AS ({_LANG_SCORE_SQL}),
    gated AS (
      SELECT doc_id, text, n_tokens, predicted_lang
      FROM scored
      WHERE quality_score >= 0.80 AND n_tokens >= 10
        AND predicted_lang IN ('en', 'und')
    ),
    exact_keyed AS (
      SELECT *,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS k
      FROM gated
    ),
    exact AS (
      SELECT doc_id, text, n_tokens, predicted_lang,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY k) AS exact_copies
      FROM exact_keyed
    ),
    near_keyed AS (
      SELECT doc_id, n_tokens, predicted_lang, exact_copies,
             md5(array_to_string(
                 list_sort(list_distinct(
                     regexp_extract_all(text, '[^ ]+'))),
                 ' ')) AS fp
      FROM exact WHERE rn = 1
    ),
    near AS (
      SELECT doc_id, n_tokens, predicted_lang, exact_copies,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY fp) AS family_copies
      FROM near_keyed
    ),
    sampled AS (
      SELECT * FROM near
      WHERE rn = 1
        AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                 AS INT) % 100
            < CASE WHEN predicted_lang = 'en' THEN 60 ELSE 100 END
    )
    SELECT predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(exact_copies) AS BIGINT) AS exact_family_rows,
           CAST(SUM(family_copies) AS BIGINT) AS neardup_family_rows,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM sampled
    GROUP BY predicted_lang
    ORDER BY predicted_lang
    """,
)
def curation_pipeline_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation flow driven ENTIRELY from a YAML fixture
    (``pipelines/curation_e2e.yaml``) through the declarative
    ``Pipeline`` machinery (VERDICT r8 task #7): text stats ->
    language ID -> quality gate -> exact dedup (normalized-content
    hash, keep-first) -> near-dup collapse (token-sort fingerprint)
    -> deterministic hash downsample -> per-language dataset card.
    Every stage resolves by NAME through ``operators/registry.py`` to
    the same engine operators the programmatic queries use — the
    reference's config -> processors -> sink surface
    (`streaming_pipeline.py:145-219`) carrying the LLM-curation tier
    end to end.

    Scale shape: both gates run before the first exchange, each dedup
    stage is one partitioned-window shuffle on its key (never
    global), the sample is a stateless per-row filter, and the card
    is a partial-aggregated groupBy — the composed plan has exactly
    three shuffles at any corpus size."""
    import os

    import yaml

    from local_stream_stack_spark.pipeline import Pipeline

    configure_for_oracle(spark)
    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pipelines",
        "curation_e2e.yaml",
    )
    with open(fixture) as f:
        cfg = yaml.safe_load(f.read().replace("${SF_DIR}", sf_dir))
    return Pipeline(spark, cfg).dataframe().orderBy("predicted_lang")


@query(
    "corpus_stats_by_lang",
    oracle=f"""
    WITH scored AS ({_LANG_SCORE_SQL})
    SELECT predicted_lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 2) AS avg_tokens,
           MIN(quality_score) AS min_quality,
           MAX(quality_score) AS max_quality
    FROM scored
    GROUP BY predicted_lang
    ORDER BY predicted_lang
    """,
)
def corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (the coverage report a curation
    run emits). Aggregates are integer sums and min/max only — order-
    independent, so the result is bit-stable under any partitioning;
    avg is derived from the integer sum, not a float accumulation."""
    d = _t(spark, sf_dir, "documents")
    scored = lang_id_scores(with_text_stats(d, "text"), "text")
    return (
        scored.groupBy("predicted_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count("*"), 2
            ).alias("avg_tokens"),
            F.min("quality_score").alias("min_quality"),
            F.max("quality_score").alias("max_quality"),
        )
        .orderBy("predicted_lang")
    )


@query(
    "curation_downsample",
    oracle="""
    WITH bucketed AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100
               AS bucket
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_kept,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM bucketed
    WHERE bucket < CASE WHEN lang = 'en' THEN 40 ELSE 100 END
    GROUP BY lang
    ORDER BY lang
    """,
)
def curation_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based downsampling — dataset balancing for
    over-represented languages (keep 40% of 'en', all of the rest).
    The keep-decision is md5(doc_id) bucketed mod 100: reproducible
    across engines, runs, and partitionings — unlike seeded sample(),
    which is engine-specific. At 100 TB this is a stateless per-row
    filter (no shuffle); rates come from a broadcastable config."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    rate = F.when(F.col("lang") == "en", F.lit(40)).otherwise(F.lit(100))
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


@query(
    "train_test_split",
    oracle="""
    WITH bucketed AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100
               AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM bucketed
    GROUP BY 1
    ORDER BY split
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by content-id
    hash bucket — stable across engines and re-runs, so a document
    never migrates between splits when the corpus grows (the property
    random splits lack). Stateless per-row expression; no shuffle
    until the reporting aggregate."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@query(
    "decontaminate_splits",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             md5(substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 100))
               AS norm_hash,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 < 80
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents
    )
    SELECT e.doc_id, e.norm_hash, COUNT(*) AS n_train_matches
    FROM b e
    JOIN b t ON t.split = 'train' AND t.norm_hash = e.norm_hash
    WHERE e.split = 'eval'
    GROUP BY e.doc_id, e.norm_hash
    ORDER BY e.doc_id
    """,
)
def decontaminate_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: eval-split documents whose
    whitespace-normalized content hash also appears in the train
    split (prefix fingerprint: first 100 normalized chars — catches
    shared-opening contamination, the cheap first pass before minhash
    candidates handle true near-dups). One shuffle on the content
    hash; payloads never move, only (hash, id)."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    b = d.select(
        "doc_id",
        F.md5(
            F.substring(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                1,
                100,
            )
        ).alias("norm_hash"),
        F.when(bucket < 80, F.lit("train")).otherwise(F.lit("eval")).alias("split"),
    )
    ev = b.filter(F.col("split") == "eval").select("doc_id", "norm_hash")
    tr = b.filter(F.col("split") == "train").select(
        F.col("norm_hash").alias("t_hash")
    )
    return (
        ev.join(tr, F.col("norm_hash") == F.col("t_hash"))
        .groupBy("doc_id", "norm_hash")
        .agg(F.count("*").alias("n_train_matches"))
        .orderBy("doc_id")
    )


@query(
    "chunk_documents",
    oracle="""
    WITH exploded AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(text), 1), 150))
               AS chunk_start,
             text
      FROM documents
      WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST((chunk_start - 1) // 150 AS INT) AS chunk_idx,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           substr(text, CAST(chunk_start AS INT), 200) AS chunk_text,
           CAST(length(substr(text, CAST(chunk_start AS INT), 200)) AS BIGINT)
             AS chunk_len
    FROM exploded
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (200-char windows, 150 stride, 50
    overlap) — the context-window prep step of a training pipeline.
    Row-expanding pure-codegen projection, no shuffle
    (operators/text.chunk_text)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return chunk_text(
        d, id_col="doc_id", text_col="text", chunk_size=200, stride=150
    ).orderBy("doc_id", "chunk_idx")


@query(
    "repetition_ratio",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             [array_to_string(words[CAST(i AS INT):CAST(i AS INT)+2], ' ')
              for i in generate_series(1, len(words) - 2)] AS grams
      FROM (SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS words
            FROM documents)
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_ngrams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_ngrams,
           CASE WHEN len(grams) > 0
                THEN ROUND(1.0 - len(list_distinct(grams))
                           / CAST(len(grams) AS DOUBLE), 6)
                ELSE 0.0 END AS repetition_ratio
    FROM g
    ORDER BY doc_id
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram repetition ratio per document — the boilerplate/spam
    quality signal (template or looped text scores high). Array HOFs
    only: transform over a sequence + array_distinct, JVM codegen,
    scan-shaped (operators/text.with_repetition_stats)."""
    d = _t(spark, sf_dir, "documents")
    return (
        with_repetition_stats(d, text_col="text", n=3)
        .select("doc_id", "n_ngrams", "n_distinct_ngrams", "repetition_ratio")
        # pin before the global sort: narrow scan->HOF subtree below,
        # so the sort's bound-sampling job would re-run the whole
        # tokenize+gram pass a second time (guide §5)
        .localCheckpoint(eager=True)
        .orderBy("doc_id")
    )


@query(
    "top_tokens_per_lang",
    oracle="""
    WITH toks AS (
      SELECT lang,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    c AS (
      SELECT lang, tok, COUNT(*) AS n
      FROM toks WHERE length(tok) > 0
      GROUP BY lang, tok
    )
    SELECT lang, tok, n, rk FROM (
      SELECT lang, tok, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
      FROM c
    ) t
    WHERE rk <= 5
    ORDER BY lang, rk
    """,
)
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 token frequencies (vocabulary skew report).
    Explode -> partial-aggregated count -> per-group rank limit; at
    scale the rank prunes via WindowGroupLimit so only ~k rows per
    language survive the final shuffle. Ties break by token for
    engine-independent rank."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .orderBy("lang", "rk")
    )


@query(
    "sample_per_group",
    oracle="""
    SELECT lang, doc_id, n_chars, rk
    FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM documents
    ) t
    WHERE rk <= 10
    ORDER BY lang, rk
    """,
)
def sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sample of k=10 docs per language: rank by
    md5(doc_id) — a fixed pseudo-random order both engines agree on —
    and keep the first k per group. Unlike seeded sample(), the pick
    is engine- and partitioning-independent, and unlike global sorts
    the rank prunes to ~k rows per group executor-side
    (WindowGroupLimit). The per-group reservoir-sampling shape for
    balanced eval-set construction."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("lang", "doc_id", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .orderBy("lang", "rk")
    )


@query(
    "clean_text_scrub",
    oracle="""
    WITH dirty AS (
      SELECT doc_id,
             text || ' <a href="x">link</a> see https://example.com/doc/'
                  || CAST(doc_id AS VARCHAR)
                  || ' or mail doc' || CAST(doc_id AS VARCHAR)
                  || '@example.com now' AS t
      FROM documents WHERE doc_id < 300
    ),
    stages AS (
      SELECT doc_id, t,
             regexp_replace(t, '<[^>]*>', ' ', 'g') AS s1
      FROM dirty
    ),
    s2 AS (SELECT doc_id, t, regexp_replace(s1, 'https?://[^ ]+', ' ', 'g') AS v FROM stages),
    s3 AS (SELECT doc_id, t,
                  regexp_replace(v, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', ' ', 'g') AS v
           FROM s2)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '<[^>]*>')) AS INT) AS n_html,
           CAST(len(regexp_extract_all(t, 'https?://[^ ]+')) AS INT) AS n_urls,
           CAST(len(regexp_extract_all(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           trim(regexp_replace(v, ' +', ' ', 'g')) AS clean
    FROM s3
    ORDER BY doc_id
    """,
)
def clean_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/URL/email scrub with removal counts — the cleaning stage of
    a curation pipeline (operators/text.clean_text). The harness
    corpus is clean prose, so a deterministic dirty suffix (tag + URL
    + email derived from doc_id) is appended on BOTH engines first;
    the scrubbed output and per-kind counts must then match exactly.
    Scan-shaped codegen regex; no shuffle."""
    from local_stream_stack_spark.operators.text import clean_text

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    dirty = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(' <a href="x">link</a> see https://example.com/doc/'),
            F.col("doc_id").cast("string"),
            F.lit(" or mail doc"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ).alias("text"),
    )
    return (
        clean_text(dirty, text_col="text", out_col="clean")
        .select("doc_id", "n_html", "n_urls", "n_emails", "clean")
        .orderBy("doc_id")
    )


@query(
    "doc_length_histogram",
    oracle="""
    SELECT CAST(FLOOR(log2(greatest(n_chars, 1))) AS BIGINT) AS log2_bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document length histogram — the shape report that
    drives chunking and packing decisions (how much of the corpus is
    tiny fragments vs book-length). Single partial+final aggregate on
    a derived bucket; scan-shaped."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.floor(F.log2(F.greatest(F.col("n_chars"), F.lit(1))))
            .cast("bigint")
            .alias("log2_bucket"),
            "n_chars",
        )
        .groupBy("log2_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("log2_bucket")
    )


@query(
    "pack_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - n_tokens AS start_off
      FROM toks
    )
    SELECT CAST(start_off // 2048 AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM placed
    GROUP BY 1
    ORDER BY 1
    """,
)
def pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-budget (2048-token)
    training sequences by contiguous fill — each doc's pack is the
    budget-bucket of its running-token start offset in doc_id order.
    Deterministic and engine-independent (unlike greedy first-fit,
    which is inherently sequential); a pack can overflow by at most
    one document, the standard streaming-packing tradeoff. The global
    running-token offset comes from the distributed-rank operator
    (with_global_rank: doc_id-binned token sums + within-bin
    PARTITIONED cumsums), never from a global-ORDER-BY window — an
    unpartitioned WindowExec ships the whole corpus to ONE task,
    which is exactly the collapse packing must avoid at 100 TB."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    placed = with_global_rank(
        toks,
        "doc_id",
        cumsum={"n_tokens": "__cum"},
        acc_type="BIGINT",
        out_rank="__rn",
    ).withColumn("start_off", F.col("__cum") - F.col("n_tokens"))
    return (
        placed.select(
            F.expr("CAST(start_off DIV 2048 AS BIGINT)").alias("pack_id"),
            "doc_id",
            "n_tokens",
        )
        .groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


def _bpe_oracle_sql(n_merges: int = 8, vocab_cap: int = 1500) -> str:
    """Unrolled-CTE DuckDB replay of distributed BPE training
    (operators/bpe.py): word counts -> per-step adjacent-pair counts
    (list_transform over generate_series — a scalar list, so no
    unsupported lateral join) -> argmax with the (total DESC, p1, p2)
    tie order -> merge application via the identical space-doubling
    replace chain. Same unrolled-oracle pattern as _pq_oracle_sql."""
    sql = [
        f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    ),
    wc AS MATERIALIZED (
      SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word
      ORDER BY cnt DESC, word LIMIT {vocab_cap}
    ),
    w0 AS MATERIALIZED (
      SELECT ' ' || array_to_string(regexp_extract_all(word, '.'), ' ')
               || ' ' AS sym,
             cnt
      FROM wc
    )"""
    ]
    for k in range(n_merges):
        sql.append(
            f""",
    p{k} AS (
      SELECT pr[1] AS p1, pr[2] AS p2, SUM(cnt) AS total FROM (
        SELECT unnest(list_transform(
                 generate_series(1, len(string_split(trim(sym), ' ')) - 1),
                 i -> [string_split(trim(sym), ' ')[i],
                       string_split(trim(sym), ' ')[i + 1]])) AS pr,
               cnt
        FROM w{k}
      ) GROUP BY pr[1], pr[2]
    ),
    b{k} AS MATERIALIZED (
      SELECT p1, p2, total FROM p{k} ORDER BY total DESC, p1, p2 LIMIT 1
    ),
    w{k + 1} AS MATERIALIZED (
      SELECT replace(replace(replace(sym, ' ', '  '),
               ' ' || (SELECT p1 FROM b{k}) || '  '
                   || (SELECT p2 FROM b{k}) || ' ',
               ' ' || (SELECT p1 || p2 FROM b{k}) || ' '),
             '  ', ' ') AS sym,
             cnt
      FROM w{k}
    )"""
        )
    unions = "\n      UNION ALL\n".join(
        f"      SELECT {k} AS step, p1, p2, CAST(total AS BIGINT)"
        f" AS pair_count FROM b{k}"
        for k in range(n_merges)
    )
    sql.append(f"\n    SELECT * FROM (\n{unions}\n    ) ORDER BY step")
    return "".join(sql)


@query("bpe_train_merges", oracle=_bpe_oracle_sql())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (operators/bpe.py): learn
    the first 8 merges of a subword vocabulary from the corpus —
    tokenize+count once (the only corpus-scale pass: map-side
    combined, one shuffle), then iterate on the bounded word-count
    table: per step one pair-vocabulary-bounded shuffle and a one-row
    TakeOrdered collect (the driver-side carry contract, as in
    operators/clustering.py). The merge itself is a scan-side literal
    replace chain via the space-doubling trick — which makes the
    whole training replayable as plain string arithmetic by the
    unrolled DuckDB oracle, no regex lookarounds (RE2 has none).

    BOUND (logged, never silent): training runs on the top-1500 words
    by (count, word) — the standard rare-tail cut; pair counts over
    the dropped tail are negligible by construction. Greedy-merge
    equivalence to the reference token-fold algorithm is pinned in
    tests/test_bpe.py; the learned merges also power the
    ``apply_bpe_expr`` encode path (JVM codegen, zero Python)."""
    from local_stream_stack_spark.operators.bpe import (
        merges_df,
        train_bpe,
        word_counts,
    )
    from local_stream_stack_spark.utils import get_logger

    get_logger("queries.llm").info(
        "bpe_train_merges: training on the top-1500 word-count table"
        " (corpus-relative cap; rare tail dropped by construction)"
    )
    d = _t(spark, sf_dir, "documents")
    words = word_counts(d, "text", vocab_cap=1500)
    merges = train_bpe(words, n_merges=8)
    return merges_df(spark, merges).orderBy("step")


def _bpe_vocab_oracle_sql(
    n_merges: int = 8, vocab_cap: int = 1500, top: int = 25
) -> str:
    """Learned-subword-vocabulary oracle: rerun the unrolled training
    CTEs, then split the final symbol strings and aggregate weighted
    token counts — the encode side of the same string arithmetic."""
    core = _bpe_oracle_sql(n_merges, vocab_cap)
    # keep everything up to the final SELECT, swap the projection
    cut = core.rindex("\n    SELECT * FROM (")
    return (
        core[:cut]
        + f""",
    enc AS (
      SELECT unnest(string_split(trim(sym), ' ')) AS tok, cnt
      FROM w{n_merges}
    )
    SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n_occurrences
    FROM enc GROUP BY tok
    ORDER BY n_occurrences DESC, tok LIMIT {top}"""
    )


@query("bpe_vocab_counts", oracle=_bpe_vocab_oracle_sql())
def bpe_vocab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE side of BPE training: apply the 8 learned merges to the
    word-count table via the scan-side literal replace chain
    (``apply_bpe_expr`` — JVM codegen, zero Python) and aggregate the
    weighted subword-token counts: the learned vocabulary with usage,
    top-25 by (count, token). At 100 TB encode is a pure scan over
    the corpus (or, as here, over the bounded word-count table when
    only frequencies are needed) — one partial-aggregated shuffle
    bounded by vocabulary size. Same top-1500-word training bound as
    ``bpe_train_merges`` (logged there); oracle reruns the unrolled
    training CTEs and replays the identical split+aggregate."""
    from local_stream_stack_spark.operators.bpe import (
        apply_bpe_expr,
        train_bpe,
        word_counts,
    )

    d = _t(spark, sf_dir, "documents")
    words = word_counts(d, "text", vocab_cap=1500).localCheckpoint(
        eager=True
    )
    merges = train_bpe(words, n_merges=8, materialize_input=False)
    return (
        words.select(
            F.col("cnt"),
            F.explode(F.expr(apply_bpe_expr("word", merges))).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.sum("cnt").cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(25)
    )


def _pq_oracle_sql(
    m_sub: int = 8,
    k: int = 16,
    iterations: int = 2,
    dim: int = 64,
    sample: int = 4096,
) -> str:
    """Unrolled product-quantization oracle: normalized quantization,
    per-subspace Lloyd (the subspace id is just one more GROUP BY key,
    so all ``m_sub`` codebooks train in the same CTE chain), full-
    corpus encoding, the query ADC lookup table, and the compressed-
    domain scan — every stage integer arithmetic after the one
    portable left-fold norm, replayed bit-for-bit."""
    dsub = dim // m_sub
    sql = [
        f"""
    WITH nrm AS (
      SELECT vec_id,
             sqrt(list_reduce(list_transform(embedding,
                    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
                  (a, b) -> a + b)) AS nn
      FROM embeddings
    ),
    ev AS (
      SELECT e.vec_id, (i.i // {dsub}) AS g, (i.i % {dsub}) AS j,
             CAST(FLOOR(CAST(e.embedding[i.i + 1] AS DOUBLE) / n.nn
                        * 1000000) AS BIGINT) + 1000000 AS x
      FROM embeddings e JOIN nrm n ON n.vec_id = e.vec_id,
           generate_series(0, {dim - 1}) i(i)
    ),
    smp AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings) t
      WHERE rn <= {sample}
    ),
    seeds AS (
      SELECT vec_id, rn - 1 AS c FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM smp) t
      WHERE rn <= {k}
    ),
    m0 AS (
      SELECT e.g, s.c, e.j, e.x AS m
      FROM seeds s JOIN ev e ON e.vec_id = s.vec_id
    )"""
    ]
    prev = "m0"
    for t in range(1, iterations + 1):
        sql.append(
            f""",
    d{t} AS (
      SELECT e.vec_id, e.g, m.c, SUM((e.x - m.m) * (e.x - m.m)) AS d
      FROM ev e
      JOIN {prev} m ON m.g = e.g AND m.j = e.j
      JOIN smp s ON s.vec_id = e.vec_id
      GROUP BY e.vec_id, e.g, m.c
    ),
    a{t} AS (
      SELECT vec_id, g, c FROM (
        SELECT vec_id, g, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, g
                                  ORDER BY d, c) AS rn
        FROM d{t}) t
      WHERE rn = 1
    ),
    u{t} AS (
      SELECT a.g, a.c, e.j, SUM(e.x) AS s, COUNT(*) AS n
      FROM a{t} a JOIN ev e ON e.vec_id = a.vec_id AND e.g = a.g
      GROUP BY a.g, a.c, e.j
    ),
    m{t} AS (
      SELECT p.g, p.c, p.j,
             CAST(COALESCE((2 * u.s + u.n) // (2 * u.n), p.m)
                  AS BIGINT) AS m
      FROM {prev} p
      LEFT JOIN u{t} u ON u.g = p.g AND u.c = p.c AND u.j = p.j
    )"""
        )
        prev = f"m{t}"
    sql.append(
        f""",
    dE AS (
      SELECT e.vec_id, e.g, m.c, SUM((e.x - m.m) * (e.x - m.m)) AS d
      FROM ev e JOIN {prev} m ON m.g = e.g AND m.j = e.j
      GROUP BY e.vec_id, e.g, m.c
    ),
    codes AS (
      SELECT vec_id, g, c FROM (
        SELECT vec_id, g, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, g
                                  ORDER BY d, c) AS rn
        FROM dE) t
      WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS query_id, q.g, m.c,
             SUM((q.x - m.m) * (q.x - m.m)) AS d
      FROM ev q JOIN {prev} m ON m.g = q.g AND m.j = q.j
      WHERE q.vec_id < 5
      GROUP BY q.vec_id, q.g, m.c
    ),
    adc AS (
      SELECT l.query_id, cd.vec_id AS corpus_id,
             CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM codes cd JOIN lut l ON l.g = cd.g AND l.c = cd.c
      GROUP BY l.query_id, cd.vec_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, corpus_id) AS rk
      FROM adc WHERE corpus_id <> query_id
    )
    SELECT query_id, corpus_id, adc_dist, rk
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, rk
    """
    )
    return "".join(sql)


def _ivfpq_oracle_sql(
    k_coarse: int = 8,
    coarse_iters: int = 2,
    m_sub: int = 8,
    k_pq: int = 16,
    dim: int = 64,
    sample: int = 4096,
    nprobe: int = 4,
) -> str:
    """Unrolled IVF-PQ oracle: coarse Lloyd over full-dim vectors,
    cell assignment, SHIFTED integer residuals (+2e6 keeps the
    round-half-up centroid-update idiom on non-negative ints), one
    grouped Lloyd round on residual subvectors, full-corpus encode,
    per-(query, probed-cell) ADC lookup tables, and the probed
    compressed-domain scan. MATERIALIZED CTEs: the chain references
    ev/cm*/resid many times and DuckDB inlines CTEs by default."""
    dsub = dim // m_sub
    sql = [
        f"""
    WITH nrm AS (
      SELECT vec_id,
             sqrt(list_reduce(list_transform(embedding,
                    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
                  (a, b) -> a + b)) AS nn
      FROM embeddings
    ),
    ev AS MATERIALIZED (
      SELECT e.vec_id, i.i AS j,
             CAST(FLOOR(CAST(e.embedding[i.i + 1] AS DOUBLE) / n.nn
                        * 1000000) AS BIGINT) + 1000000 AS x
      FROM embeddings e JOIN nrm n ON n.vec_id = e.vec_id,
           generate_series(0, {dim - 1}) i(i)
    ),
    cs AS (
      SELECT vec_id, rn - 1 AS c FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings) t
      WHERE rn <= {k_coarse}
    ),
    cm0 AS MATERIALIZED (
      SELECT s.c, e.j, e.x AS m FROM cs s JOIN ev e ON e.vec_id = s.vec_id
    )"""
    ]
    prev = "cm0"
    for t in range(1, coarse_iters + 1):
        sql.append(
            f""",
    cd{t} AS (
      SELECT e.vec_id, m.c, SUM((e.x - m.m) * (e.x - m.m)) AS d
      FROM ev e JOIN {prev} m ON m.j = e.j
      GROUP BY e.vec_id, m.c
    ),
    ca{t} AS (
      SELECT vec_id, c FROM (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM cd{t}) t
      WHERE rn = 1
    ),
    cu{t} AS (
      SELECT a.c, e.j, SUM(e.x) AS s, COUNT(*) AS n
      FROM ca{t} a JOIN ev e ON e.vec_id = a.vec_id
      GROUP BY a.c, e.j
    ),
    cm{t} AS MATERIALIZED (
      SELECT p.c, p.j,
             CAST(COALESCE((2 * u.s + u.n) // (2 * u.n), p.m)
                  AS BIGINT) AS m
      FROM {prev} p
      LEFT JOIN cu{t} u ON u.c = p.c AND u.j = p.j
    )"""
        )
        prev = f"cm{t}"
    sql.append(
        f""",
    cdE AS (
      SELECT e.vec_id, m.c, SUM((e.x - m.m) * (e.x - m.m)) AS d
      FROM ev e JOIN {prev} m ON m.j = e.j
      GROUP BY e.vec_id, m.c
    ),
    cells AS MATERIALIZED (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM cdE) t
      WHERE rn = 1
    ),
    resid AS MATERIALIZED (
      SELECT e.vec_id, cl.cell, (e.j // {dsub}) AS g, (e.j % {dsub}) AS jj,
             e.x - m.m + 2000000 AS r
      FROM ev e
      JOIN cells cl ON cl.vec_id = e.vec_id
      JOIN {prev} m ON m.c = cl.cell AND m.j = e.j
    ),
    smp AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings) t
      WHERE rn <= {sample}
    ),
    pseeds AS (
      SELECT vec_id, rn - 1 AS c FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM smp) t
      WHERE rn <= {k_pq}
    ),
    pm0 AS MATERIALIZED (
      SELECT r.g, s.c, r.jj, r.r AS m
      FROM pseeds s JOIN resid r ON r.vec_id = s.vec_id
    ),
    pd1 AS (
      SELECT r.vec_id, r.g, m.c, SUM((r.r - m.m) * (r.r - m.m)) AS d
      FROM resid r
      JOIN pm0 m ON m.g = r.g AND m.jj = r.jj
      JOIN smp s ON s.vec_id = r.vec_id
      GROUP BY r.vec_id, r.g, m.c
    ),
    pa1 AS (
      SELECT vec_id, g, c FROM (
        SELECT vec_id, g, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, g
                                  ORDER BY d, c) AS rn
        FROM pd1) t
      WHERE rn = 1
    ),
    pu1 AS (
      SELECT a.g, a.c, r.jj, SUM(r.r) AS s, COUNT(*) AS n
      FROM pa1 a JOIN resid r ON r.vec_id = a.vec_id AND r.g = a.g
      GROUP BY a.g, a.c, r.jj
    ),
    pm1 AS MATERIALIZED (
      SELECT p.g, p.c, p.jj,
             CAST(COALESCE((2 * u.s + u.n) // (2 * u.n), p.m)
                  AS BIGINT) AS m
      FROM pm0 p
      LEFT JOIN pu1 u ON u.g = p.g AND u.c = p.c AND u.jj = p.jj
    ),
    pdE AS (
      SELECT r.vec_id, r.g, m.c, SUM((r.r - m.m) * (r.r - m.m)) AS d
      FROM resid r JOIN pm1 m ON m.g = r.g AND m.jj = r.jj
      GROUP BY r.vec_id, r.g, m.c
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, g, c FROM (
        SELECT vec_id, g, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, g
                                  ORDER BY d, c) AS rn
        FROM pdE) t
      WHERE rn = 1
    ),
    qd AS (
      SELECT q.vec_id AS query_id, m.c AS cell,
             SUM((q.x - m.m) * (q.x - m.m)) AS d
      FROM ev q JOIN {prev} m ON m.j = q.j
      WHERE q.vec_id < 5
      GROUP BY q.vec_id, m.c
    ),
    probes AS MATERIALIZED (
      SELECT query_id, cell FROM (
        SELECT query_id, cell,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d, cell) AS rn
        FROM qd) t
      WHERE rn <= {nprobe}
    ),
    qresid AS MATERIALIZED (
      SELECT p.query_id, p.cell, (q.j // {dsub}) AS g, (q.j % {dsub}) AS jj,
             q.x - m.m + 2000000 AS r
      FROM probes p
      JOIN ev q ON q.vec_id = p.query_id
      JOIN {prev} m ON m.c = p.cell AND m.j = q.j
    ),
    lut AS MATERIALIZED (
      SELECT qr.query_id, qr.cell, qr.g, m.c,
             SUM((qr.r - m.m) * (qr.r - m.m)) AS d
      FROM qresid qr JOIN pm1 m ON m.g = qr.g AND m.jj = qr.jj
      GROUP BY qr.query_id, qr.cell, qr.g, m.c
    ),
    adc AS (
      SELECT l.query_id, cd.vec_id AS corpus_id,
             CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM codes cd
      JOIN cells cl ON cl.vec_id = cd.vec_id
      JOIN lut l ON l.cell = cl.cell AND l.g = cd.g AND l.c = cd.c
      GROUP BY l.query_id, cd.vec_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, corpus_id) AS rk
      FROM adc WHERE corpus_id <> query_id
    )
    SELECT query_id, corpus_id, adc_dist, rk
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, rk
    """
    )
    return "".join(sql)


@query("sim_ivfpq_topk", oracle=_ivfpq_oracle_sql())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN — the tier the per-family queries promise
    to compose into at corpus scale, now registered: a coarse IVF
    quantizer (8 cells, fused integer Lloyd) partitions the corpus;
    every vector is PQ-encoded on its SHIFTED RESIDUAL to its cell
    centroid (8 subspaces x 16 codes, one grouped Lloyd round on a
    deterministic <=4096 sample); queries probe their 4 nearest cells
    and score candidates in the compressed domain via per-(query,
    cell) ADC lookup tables — distances accumulate over codes, never
    raw vectors. This is the FAISS IVFADC layout (public algorithm),
    expressed as: driver-carried centroids (bounded collects),
    scan-side literal argmin for cell assignment AND encode (zero
    extra shuffle), broadcast LUT join, one (cell, g, c)-keyed
    candidate join bounded by probed-cell mass — at 100 TB the scan
    touches nprobe/k_coarse of the corpus and only code columns.

    Integer-exact end to end: residuals shift by +2e6 so the
    round-half-up update idiom stays on non-negative ints; the
    unrolled oracle replays coarse training, residual encode, probe
    selection, and the ADC scan bit-for-bit."""
    from local_stream_stack_spark.operators.clustering import (
        _argmin_struct,
        _argmin_struct_grouped,
        _books_array_sql,
        _sqdist,
        books_to_df,
        kmeans_lloyd_centroids,
        kmeans_lloyd_grouped_books,
        quantize_vectors_normalized,
    )
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "embeddings")
    nv = quantize_vectors_normalized(e, "vec_id", "embedding").localCheckpoint(
        eager=True
    )
    cents = kmeans_lloyd_centroids(
        nv, k=8, iterations=2, materialize_input=False
    )
    out_schema = (
        "query_id bigint, corpus_id bigint, adc_dist bigint, rk int"
    )
    if not cents:
        return spark.createDataFrame([], out_schema)
    cmap_sql = "map(" + ", ".join(
        f"{c}, array({', '.join(str(int(v)) + 'L' for v in m)})"
        for c, m in cents
    ) + ")"
    best = _argmin_struct("x", cents)
    resid = nv.select(
        "id", "x", best["c"].alias("cell")
    ).select(
        "id",
        "cell",
        F.expr(
            f"zip_with(x, element_at({cmap_sql}, cell),"
            " (a, b) -> a - b + 2000000L)"
        ).alias("r"),
    )
    dsub = 8
    sub = resid.select(
        "id",
        "cell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("g"),
                        F.slice("r", g * dsub + 1, dsub).alias("xs"),
                    )
                    for g in range(8)
                ]
            )
        ).alias("s"),
    ).select(
        "id", "cell", F.col("s.g").alias("g"), F.col("s.xs").alias("x")
    ).localCheckpoint(eager=True)
    sample_ids = (
        sub.filter(F.col("g") == 0)
        .withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h", "id")
        .limit(4096)
        .select("id")
    )
    train = sub.select("g", "id", "x").join(F.broadcast(sample_ids), "id")
    books = kmeans_lloyd_grouped_books(
        train, k=16, iterations=1, materialize_input=True
    )
    if not books:
        return spark.createDataFrame([], out_schema)
    bestg = _argmin_struct_grouped("x", "g", books)
    codes = sub.select(
        F.col("id").alias("corpus_id"), "cell", "g", bestg["c"].alias("c")
    )
    # probe: top-nprobe cells per query, scan-side against the same
    # literal coarse codebook (sorted struct array, sliced)
    d_sql = (
        "aggregate(zip_with(x, cb.m, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, v) -> acc + v)"
    )
    probes = F.expr(
        f"slice(array_sort(transform({_books_array_sql(cents)},"
        f" cb -> named_struct('d', {d_sql}, 'c', cb.c))), 1, 4)"
    )
    qp = (
        nv.filter(F.col("id") < 5)
        .select(F.col("id").alias("query_id"), "x", probes.alias("ps"))
        .select("query_id", "x", F.explode("ps").alias("p"))
        .select("query_id", "x", F.col("p.c").alias("cell"))
    )
    qsub = qp.select(
        "query_id",
        "cell",
        F.expr(
            f"zip_with(x, element_at({cmap_sql}, cell),"
            " (a, b) -> a - b + 2000000L)"
        ).alias("r"),
    ).select(
        "query_id",
        "cell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("g"),
                        F.slice("r", g * dsub + 1, dsub).alias("xs"),
                    )
                    for g in range(8)
                ]
            )
        ).alias("s"),
    ).select(
        "query_id", "cell", F.col("s.g").alias("g"), F.col("s.xs").alias("x")
    )
    lut = qsub.join(F.broadcast(books_to_df(spark, books)), "g").select(
        "query_id",
        "cell",
        "g",
        "c",
        _sqdist(F.col("x"), F.col("m")).alias("d"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("corpus_id")
    )
    return (
        codes.join(F.broadcast(lut), ["cell", "g", "c"])
        .filter(F.col("query_id") != F.col("corpus_id"))
        .groupBy("query_id", "corpus_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .orderBy("query_id", "rk")
    )


@query("sim_pq_topk", oracle=_pq_oracle_sql())
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (PQ8x16 + ADC scan): train per-subspace
    codebooks with the grouped integer-exact Lloyd trainer
    (``operators/clustering.kmeans_lloyd_grouped`` — all 8 subspaces in
    the same distributed passes), compress every vector to 8 codes, and
    answer top-10 by summing broadcast lookup-table entries instead of
    float math — the compressed-domain tier between LSH buckets and
    exact rescoring (compose with IVF cells at corpus scale).

    Previously rows-only (numpy float k-means); now INTEGER-EXACT and
    fully oracle-backed: vectors L2-normalize through ONE portable
    left-fold norm then floor-quantize to shifted BIGINTs, so
    training, encoding, the ADC lookup table and the final ranking
    are pure integer arithmetic the oracle replays bit-for-bit.
    Codebooks train on a deterministic md5-permutation sample
    (<= 4096 rows via distributed top-k — the FAISS recipe, and the
    100 TB scale bound). Recall vs exact brute force pinned in
    tests/test_similarity.py."""
    from local_stream_stack_spark.operators.clustering import (
        _sqdist,
        assign_grouped_literal,
        books_to_df,
        kmeans_lloyd_grouped_books,
        quantize_vectors_normalized,
        split_subspaces,
    )
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "embeddings")
    nv = quantize_vectors_normalized(e, "vec_id", "embedding")
    # one materialization of the sub-vector frame feeds training,
    # encode AND the query LUT (3 consumers; re-running the
    # normalize+quantize fold for each costs more than the persist —
    # at 100 TB: MEMORY_AND_DISK persist of the encoded columns)
    sub = split_subspaces(nv, m_sub=8, dim=64).localCheckpoint(eager=True)
    sample_ids = (
        sub.filter(F.col("g") == 0)
        .withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h", "id")
        .limit(4096)
        .select("id")
    )
    train = sub.join(F.broadcast(sample_ids), "id")
    # driver-side codebooks (m_sub x k x dsub = 1024 bounded ints):
    # encode becomes a zero-shuffle scan-side pass and the query LUT
    # joins a free local relation — no checkpoint, no re-run of the
    # training DAG (VERDICT r5 #3 stage-count fusion)
    books = kmeans_lloyd_grouped_books(train, k=16, iterations=2)
    codes = assign_grouped_literal(sub, books).select(
        "g", F.col("id").alias("corpus_id"), "c"
    )
    lut = (
        sub.filter(F.col("id") < 5)
        .join(F.broadcast(books_to_df(spark, books)), "g")
        .select(
            F.col("id").alias("query_id"),
            "g",
            "c",
            _sqdist(F.col("x"), F.col("m")).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("corpus_id")
    )
    return (
        codes.join(F.broadcast(lut), ["g", "c"])
        .filter(F.col("query_id") != F.col("corpus_id"))
        .groupBy("query_id", "corpus_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .orderBy("query_id", "rk")
    )


@query(
    "bm25_rank",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    tok_f AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok_f GROUP BY doc_id),
    stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM tok_f WHERE tok IN ('spark', 'hash', 'window')
      GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT t.doc_id,
             ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * t.tf * 2.2
               / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS w
      FROM tf t
      JOIN df d USING (tok)
      JOIN dl l USING (doc_id)
      CROSS JOIN stats s
    )
    SELECT doc_id,
           CAST(ROUND(SUM(w) * 10000) AS BIGINT) AS bm25_e4
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25_e4 DESC, doc_id
    LIMIT 20
    """,
)
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) keyword ranking over the corpus for a
    fixed 3-term query — the lexical-retrieval half of a hybrid search
    stack next to the ANN tiers. Shape at 100 TB: tokenize is
    scan-side codegen; per-doc tf and dl are partial-aggregated before
    their one shuffle each; df and the (avgdl, N) scalars are
    tiny broadcast sides; the final top-20 is TakeOrderedAndProject
    (per-partition heap + driver merge of 20-row heads), never a
    global sort. Scores are emitted as scaled BIGINTs (``bm25_e4`` =
    score x 10^4) on both engines before the cut: integer outputs hash
    identically under the driver's typed canonicalization, where
    decimal-from-double did not (r3 hash-fail cause)."""
    d = _t(spark, sf_dir, "documents")
    terms = ["spark", "hash", "window"]
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs"))
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_counts = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_counts), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * F.col("tf")
            * 2.2
            / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("w") * F.lit(10000.0))
            .cast("bigint")
            .alias("bm25_e4")
        )
        .orderBy(F.desc("bm25_e4"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "source_char_budget",
    oracle="""
    WITH ordered AS (
      SELECT source, doc_id, n_chars,
             CAST(SUM(n_chars) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
      FROM documents
    )
    SELECT source, doc_id, n_chars, cum_chars
    FROM ordered
    WHERE cum_chars <= 20000
    ORDER BY source, cum_chars
    """,
)
def source_char_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-budget cap: admit documents from each
    source in a fixed pseudo-random order (md5 of doc_id — both
    engines agree) until the source's cumulative char budget is spent.
    The anti-domination guard of corpus curation — no single crawl
    domain may exceed its quota, and the admitted set is reproducible
    run-to-run. One shuffle on source; the running sum is a window
    prefix-sum within each source partition, and rows past the budget
    are dropped executor-side before any further stage. Integer sums
    stay BIGINT on both engines (no HUGEINT drift)."""
    d = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("cum_chars", F.sum("n_chars").over(w))
        .filter(F.col("cum_chars") <= 20000)
        .orderBy("source", "cum_chars")
    )


@query(
    "decontaminate_ngram_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                       AS INT) % 100 AS INT) AS bucket,
             string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, bucket,
             array_to_string(t[i:i+7], ' ') AS g
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
    ),
    eval_g AS (SELECT DISTINCT doc_id, g FROM grams WHERE bucket >= 95),
    train_g AS (SELECT DISTINCT g FROM grams WHERE bucket < 95)
    SELECT e.doc_id AS eval_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM eval_g e JOIN train_g t USING (g)
    GROUP BY e.doc_id
    ORDER BY eval_doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-overlap decontamination (the 8-gram variant of the
    13-gram eval-contamination sweep used for real training sets):
    flag eval documents sharing ANY token 8-gram with the train
    split. Both splits derive from the same deterministic md5 bucket
    as train_test_split. Shape at 100 TB: each side explodes to
    (gram, id) pairs — never pairs of documents — then one equi-join
    on the gram; the train side dedups per-partition before its
    shuffle, and document payloads never move. The Spark join key is
    the gram string itself so the DuckDB oracle is exact; a deployed
    run would join on xxhash64(gram) to shrink the exchange."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    toks = d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t"),
    )
    grams = toks.select(
        "doc_id",
        "bucket",
        # size guard, not greatest(): sequence(1, 0) is DESCENDING in
        # Spark ([1, 0]) and slice(start=0) throws — a <8-token doc
        # must yield zero grams, matching the oracle's generate_series
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 8"
                " THEN transform(sequence(1, size(t) - 7),"
                " i -> concat_ws(' ', slice(t, i, 8)))"
                " ELSE array() END"
            )
        ).alias("g"),
    )
    eval_g = grams.filter(F.col("bucket") >= 95).select("doc_id", "g").distinct()
    train_g = grams.filter(F.col("bucket") < 95).select("g").distinct()
    return (
        eval_g.join(train_g, "g")
        .groupBy(F.col("doc_id").alias("eval_doc_id"))
        .agg(F.count("*").alias("n_shared_ngrams"))
        .orderBy("eval_doc_id")
    )


@query(
    "token_drift_kl",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    tok_f AS (SELECT source, tok FROM toks WHERE length(tok) > 0),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM tok_f GROUP BY tok
        ORDER BY n DESC, tok LIMIT 500
      ) v
    ),
    corpus AS (
      SELECT tok, COUNT(*) AS cn FROM tok_f
      WHERE tok IN (SELECT tok FROM vocab) GROUP BY tok
    ),
    corpus_tot AS (SELECT SUM(cn) AS ct FROM corpus),
    per_src AS (
      SELECT source, tok, COUNT(*) AS sn FROM tok_f
      WHERE tok IN (SELECT tok FROM vocab) GROUP BY source, tok
    ),
    src_tot AS (SELECT source, SUM(sn) AS st FROM per_src GROUP BY source)
    SELECT s.source,
           CAST(ROUND(SUM( (s.sn / t.st)
                           * ln( (s.sn / t.st) / (c.cn / ct.ct) ) ) * 1000000)
                AS BIGINT) AS kl_e6
    FROM per_src s
    JOIN src_tot t USING (source)
    JOIN corpus c USING (tok)
    CROSS JOIN corpus_tot ct
    GROUP BY s.source
    ORDER BY s.source
    """,
)
def token_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: KL divergence of each source's
    token distribution from the corpus distribution, over the
    deterministic top-500 corpus vocabulary (restricting support to
    observed vocab terms keeps every log finite). The curation-ops
    signal for 'this crawl slice stopped looking like the corpus'.
    Shape: one tokenize scan feeds both the vocab top-k
    (TakeOrderedAndProject) and the per-(source,token) counts; the
    vocab and corpus tables are tiny broadcast sides; the KL sum is
    one final shuffle on source. Output is a scaled BIGINT
    (``kl_e6`` = KL x 10^6): 6-dp rounding absorbs summation-order
    ulps, and the integer emission hashes identically under the
    driver's typed canonicalization (decimal-from-double was the r3
    hash-fail cause)."""
    d = _t(spark, sf_dir, "documents")
    tok_f = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    vocab = (
        tok_f.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(500)
        .select("tok")
    )
    in_vocab = tok_f.join(F.broadcast(vocab), "tok")
    corpus = in_vocab.groupBy("tok").agg(F.count("*").alias("cn"))
    corpus_tot = corpus.agg(F.sum("cn").alias("ct"))
    per_src = in_vocab.groupBy("source", "tok").agg(F.count("*").alias("sn"))
    src_tot = per_src.groupBy("source").agg(F.sum("sn").alias("st"))
    return (
        per_src.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus), "tok")
        .crossJoin(F.broadcast(corpus_tot))
        .withColumn(
            "term",
            (F.col("sn") / F.col("st"))
            * F.log((F.col("sn") / F.col("st")) / (F.col("cn") / F.col("ct"))),
        )
        .groupBy("source")
        .agg(
            F.round(F.sum("term") * F.lit(1000000.0))
            .cast("bigint")
            .alias("kl_e6")
        )
        .orderBy("source")
    )


@query(
    "weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             -ln( (CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) AS DOUBLE) + 1) / 4294967297.0 )
               / n_chars AS skey
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           CAST(ROUND(skey * 1000000) AS BIGINT) AS skey_e6
    FROM keyed
    ORDER BY skey_e6, doc_id
    LIMIT 20
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each doc draws u in (0,1] from the
    md5 of its id — the same fixed pseudo-random stream on every
    engine and run — and the k smallest -ln(u)/weight keys win, with
    weight = n_chars so long documents are proportionally likelier.
    The distributed-sampling workhorse: stateless per row (scan-side
    codegen), global top-k via TakeOrderedAndProject (per-partition
    heaps, no sort shuffle), reproducible across engines, partitions
    and reruns. The cut ranks on the scaled-BIGINT key (``skey_e6`` =
    key x 10^6) so both engines agree at the boundary AND the driver's
    typed hash matches (decimal-from-double was the r3 hash-fail
    cause)."""
    d = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1
    ) / F.lit(4294967297.0)
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            F.round(-F.log(u) / F.col("n_chars") * F.lit(1000000.0))
            .cast("bigint")
            .alias("skey_e6"),
        )
        .orderBy("skey_e6", "doc_id")
        .limit(20)
    )


@query(
    "inverted_index",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    )
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string((list_sort(list(doc_id)))[1:10], ',') AS postings
    FROM toks
    WHERE length(tok) > 0
    GROUP BY tok
    ORDER BY tok
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token -> document frequency + the first
    10 postings (sorted doc ids) — the indexing half of lexical
    search, and the join fabric `dedup_ngram_jaccard` and
    `decontaminate_ngram_overlap` consume implicitly. One shuffle on
    the token after a distinct that partial-aggregates scan-side.

    The posting cut happens BEFORE aggregation: a per-token
    row_number window (same single exchange) keeps only the 10
    smallest doc_ids, and collect_list then buffers at most 10 rows
    per token. Collecting the full list and slicing after — the
    obvious spelling — is an unbounded ObjectHashAggregate buffer: at
    100 TB a stopword's complete posting list lands on one reducer
    (the classic hot key). df is a whole-partition window count over
    the same exchange, so it still reflects the FULL document
    frequency — downstream consumers drop high-df tokens before
    joining."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "tok"
            ),
        )
        .filter(F.length("tok") > 0)
        .distinct()
    )
    w_rank = Window.partitionBy("tok").orderBy("doc_id")
    w_all = Window.partitionBy("tok")
    return (
        toks.withColumn("__df", F.count("*").over(w_all))
        .withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") <= 10)
        .groupBy("tok")
        .agg(
            F.first("__df").cast("bigint").alias("df"),
            F.concat_ws(
                ",", F.sort_array(F.collect_list("doc_id"))
            ).alias("postings"),
        )
        .orderBy("tok")
    )


@query(
    "label_centroids",
    oracle="""
    SELECT label, i AS dim,
           CAST(ROUND(AVG(CAST(embedding[i] AS DOUBLE)) * 1000000)
                AS BIGINT) AS c_e6
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    GROUP BY label, i
    ORDER BY label, dim
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long (label, dim, value) form
    — the vector AGGREGATE primitive behind IVF cell training,
    class prototypes and embedding-drift monitors. posexplode turns
    the array column into (dim, value) pairs scan-side, then ONE
    hash aggregate on (label, dim) partial-sums per partition — the
    shuffle carries |labels| x |dims| partial states, never vectors.
    The same shape trains `sim_ivf_topk`'s centroids; here it is
    oracle-checked exactly via DuckDB's UNNEST WITH ORDINALITY.
    Output is a scaled BIGINT (``c_e6`` = centroid x 10^6): integer
    emission hashes identically under the driver's typed
    canonicalization (decimal-from-double was the r3 hash-fail
    cause)."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("p", "v"))
        .groupBy("label", (F.col("p") + 1).alias("dim"))
        .agg(
            F.round(F.avg(F.col("v").cast("double")) * F.lit(1000000.0))
            .cast("bigint")
            .alias("c_e6")
        )
        .orderBy("label", "dim")
    )


@query(
    "token_pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    tk AS (SELECT doc_id, tok FROM toks WHERE length(tok) >= 3),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (
      SELECT tok, COUNT(*) AS n FROM tk GROUP BY tok
      HAVING COUNT(*) >= (SELECT n_docs FROM nd) * 0.2
         AND COUNT(*) <= (SELECT n_docs FROM nd) * 0.9
    ),
    ft AS (SELECT t.doc_id, t.tok, d.n FROM tk t JOIN df d USING (tok)),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b,
             COUNT(*) AS n_ab,
             ANY_VALUE(a.n) AS n_a, ANY_VALUE(b.n) AS n_b
      FROM ft a JOIN ft b
        ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok
      HAVING COUNT(*) >= 3
    )
    SELECT tok_a, tok_b, n_ab,
           CAST(ROUND(ln( (CAST(n_ab AS DOUBLE) * n_docs)
                          / (CAST(n_a AS DOUBLE) * n_b) ) * 1000000)
                AS BIGINT) AS pmi_e6
    FROM pairs CROSS JOIN nd
    ORDER BY pmi_e6 DESC, tok_a, tok_b
    LIMIT 20
    """,
)
def token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information:
    PMI(a,b) = ln(P(a,b) / (P(a)P(b))) over per-document token
    presence — surfaces multi-word entities ("machine learning") for
    tokenizer vocab curation and phrase-aware dedup.

    The support cut IS the scale design: only band-frequency tokens
    (df in [20%, 90%] of corpus size — RELATIVE bounds, so the band
    tracks the corpus at every scale factor; tune per corpus, e.g.
    [0.1%, 1%] on a web crawl where true stopwords dominate) enter
    the per-document self-join, so pair cardinality is bounded by
    sum_doc(|filtered tokens per doc|^2) with stopwords excluded by
    the upper df bound — the unfiltered join is quadratic in the
    stopword count and never runs. One distinct-token explode feeds
    df and the pair join; the top-20 ranks on the scaled-BIGINT PMI
    (ln is not correctly rounded; integer rank + emission keeps both
    engines' order and hashes identical)."""
    d = _t(spark, sf_dir, "documents")
    tk = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                )
            ).alias("tok"),
        )
        .filter(F.length("tok") >= 3)
    )
    n_docs = d.count()
    df_ = (
        tk.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .filter(
            (F.col("n") >= F.lit(n_docs * 0.2))
            & (F.col("n") <= F.lit(n_docs * 0.9))
        )
    )
    ft = tk.join(F.broadcast(df_), "tok")
    a = ft.select(
        "doc_id", F.col("tok").alias("tok_a"), F.col("n").alias("n_a")
    )
    b = ft.select(
        "doc_id", F.col("tok").alias("tok_b"), F.col("n").alias("n_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.count("*").alias("n_ab"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .filter(F.col("n_ab") >= 3)
    )
    pmi_e6 = F.round(
        F.log(
            (F.col("n_ab").cast("double") * F.lit(float(n_docs)))
            / (F.col("n_a").cast("double") * F.col("n_b"))
        )
        * F.lit(1000000.0)
    ).cast("bigint")
    return (
        pairs.select("tok_a", "tok_b", "n_ab", pmi_e6.alias("pmi_e6"))
        .orderBy(F.desc("pmi_e6"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(20)
    )


@query(
    "embedding_matryoshka_mass",
    oracle="""
    WITH m AS (
      SELECT vec_id, label,
             CAST(ROUND(
               list_reduce(list_transform(embedding[1:16],
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b)
               / list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b)
               * 1000000) AS BIGINT) AS m16,
             CAST(ROUND(
               list_reduce(list_transform(embedding[1:32],
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b)
               / list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b)
               * 1000000) AS BIGINT) AS m32
      FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vecs,
           CAST(SUM(m16) AS BIGINT) AS sum_mass16_e6,
           CAST(SUM(m32) AS BIGINT) AS sum_mass32_e6
    FROM m GROUP BY label ORDER BY label
    """,
)
def embedding_matryoshka_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: what fraction of each vector's L2
    mass the 16- and 32-dim PREFIXES hold — the measurement that
    decides whether truncate-and-renormalize serving (MRL-style
    dimension cuts for cheap ANN prefilter, full-dim rescoring) is
    safe for a given embedding model. Per-vector ratios are computed
    with the suite's portable left-fold norm and emitted as scaled
    BIGINTs, then aggregated per label with EXACT integer sums (never
    a float mean). Scan-shaped: one pass, one tiny label aggregate."""
    e = _t(spark, sf_dir, "embeddings")

    def mass(k: int) -> F.Column:
        def ss(col):
            return F.aggregate(
                F.transform(
                    col, lambda v: v.cast("double") * v.cast("double")
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            )

        return F.round(
            ss(F.slice("embedding", 1, k))
            / ss(F.col("embedding"))
            * F.lit(1000000.0)
        ).cast("bigint")

    return (
        e.select("label", mass(16).alias("m16"), mass(32).alias("m32"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("m16").cast("bigint").alias("sum_mass16_e6"),
            F.sum("m32").cast("bigint").alias("sum_mass32_e6"),
        )
        .orderBy("label")
    )


@query(
    "token_estimate_bpe",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, n_chars,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]')) AS n_sub
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_sub) AS BIGINT) AS total_subtokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(ROUND(CAST(SUM(n_chars) AS DOUBLE)
                      / CAST(SUM(n_sub) AS DOUBLE) * 10000) AS BIGINT)
             AS chars_per_token_e4
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def token_estimate_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword-token ESTIMATE (the north-star's second token
    counter beyond whitespace): a GPT-2-style pretokenization regex —
    letter runs, digit groups of <=3, single punctuation — counted per
    document, aggregated per language with the chars-per-token ratio a
    data-mix planner budgets against. The pattern uses only constructs
    with identical semantics in Java regex (Spark) and RE2 (DuckDB):
    no lookaround, no backreferences. Scan-side codegen
    (regexp_extract_all + size), one tiny per-lang aggregate; ratio
    emitted as a scaled BIGINT from exact integer sums."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        "n_chars",
        F.size(
            F.expr(
                r"regexp_extract_all(text,"
                r" '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]', 0)"
            )
        ).alias("n_sub"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_sub").cast("bigint").alias("total_subtokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(
                F.sum("n_chars").cast("double")
                / F.sum("n_sub").cast("double")
                * 10000
            )
            .cast("bigint")
            .alias("chars_per_token_e4"),
        )
        .orderBy("lang")
    )


@query(
    "quality_filter_gopher",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             len(toks) AS nw,
             COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
               AS wc,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
               AS aw,
             len(list_filter(toks, x -> lower(x) IN
               ('the','a','and','of','is','to','in','it'))) AS sh
      FROM t
    ),
    m AS (
      SELECT doc_id, MAX(cnt) AS mx FROM (
        SELECT doc_id, tok, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(toks) AS tok FROM t) u
        GROUP BY doc_id, tok) c
      GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(nw AS INT) AS n_words,
           CAST(nw BETWEEN 25 AND 1000 AS INT) AS ok_word_count,
           CAST(wc >= 3 * nw AND wc <= 10 * nw AS INT) AS ok_mean_word_len,
           CAST(5 * aw >= 4 * nw AS INT) AS ok_alpha_words,
           CAST(sh >= 2 AS INT) AS ok_stopwords,
           CAST(5 * COALESCE(mx, 0) <= nw AS INT) AS ok_repetition,
           CAST((nw BETWEEN 25 AND 1000)
                AND wc >= 3 * nw AND wc <= 10 * nw
                AND 5 * aw >= 4 * nw
                AND sh >= 2
                AND 5 * COALESCE(mx, 0) <= nw AS INT) AS keep
    FROM s LEFT JOIN m USING (doc_id)
    ORDER BY doc_id
    """,
)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality filter (Rae et al. 2021):
    word-count bounds, mean-word-length bounds, alphabetic-word
    fraction, stopword presence, and top-word repetition cap, plus
    the AND-combined keep decision — the standard heuristic gate a
    training pipeline runs before any model-based scoring.

    All five rules are integer comparisons computed scan-side with
    array HOFs in one narrow pass (no explode, no shuffle — the
    repetition signal folds a sorted-run max over the token array),
    so the filter runs at scan speed on any corpus size. The
    reference's uppercase/identity transforms
    (/root/reference/pyspark_stream/processors/base_processor.py)
    are the per-record-transform surface this generalizes."""
    from local_stream_stack_spark.operators.text import quality_flags

    d = _t(spark, sf_dir, "documents")
    return (
        quality_flags(d, "text")
        .select(
            "doc_id",
            "n_words",
            "ok_word_count",
            "ok_mean_word_len",
            "ok_alpha_words",
            "ok_stopwords",
            "ok_repetition",
            "keep",
        )
        # pin before the global sort: narrow scan->regex subtree below,
        # so the sort's bound-sampling job would re-run every quality
        # regex a second time (guide §5)
        .localCheckpoint(eager=True)
        .orderBy("doc_id")
    )


@query(
    "chisq_lang_source",
    oracle="""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS n_obs
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT SUM(n_obs) AS nt,
             COUNT(DISTINCT lang) AS nl,
             COUNT(DISTINCT source) AS ns
      FROM cells
    ),
    grid AS (
      SELECT l.lang, s.source, COALESCE(c.n_obs, 0) AS n_obs
      FROM (SELECT DISTINCT lang FROM cells) l
      CROSS JOIN (SELECT DISTINCT source FROM cells) s
      LEFT JOIN cells c ON c.lang = l.lang AND c.source = s.source
    ),
    rc AS (
      SELECT lang, source, n_obs,
             SUM(n_obs) OVER (PARTITION BY lang) AS rl,
             SUM(n_obs) OVER (PARTITION BY source) AS cs
      FROM grid
    ),
    c2 AS (
      SELECT lang, source, n_obs, rl, cs, nt, nl, ns,
             CAST(ROUND(1000000.0 * rl * cs / nt) AS BIGINT) AS exp_e6,
             CAST(ROUND(1000000.0
               * CAST(n_obs * nt - rl * cs AS DOUBLE)
               * CAST(n_obs * nt - rl * cs AS DOUBLE)
               / (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)
                  * CAST(nt AS DOUBLE))) AS BIGINT) AS contrib_e6
      FROM rc CROSS JOIN tot
    )
    SELECT lang, source,
           CAST(n_obs AS BIGINT) AS n_obs,
           exp_e6, contrib_e6,
           CAST(SUM(contrib_e6) OVER () AS BIGINT) AS chi2_e6_total,
           CAST((nl - 1) * (ns - 1) AS INT) AS dof
    FROM c2
    ORDER BY lang, source
    """,
)
def chisq_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of the lang x source contingency
    table - the corpus-balance audit (is language mix independent of
    provenance?).

    Determinism: each cell's contribution derives from exact integer
    counts ((O*N - R*C)^2 / (R*C*N), one double division), rounds to
    a scaled BIGINT per cell, and the statistic is the INTEGER sum of
    those - order-independent, so no float-summation drift. Every
    window/aggregate after the first groupBy runs on the
    parameter-sized cells relation (langs x sources rows, like a
    centroid table), so the single-partition total window is bounded
    at any corpus scale; the raw-data pass is one partial-agg
    groupBy."""
    d = _t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("n_obs"))
    tot = cells.agg(
        F.sum("n_obs").alias("nt"),
        F.countDistinct("lang").alias("nl"),
        F.countDistinct("source").alias("ns"),
    )
    # Complete the lang × source grid (ADVICE r10): zero-count cells
    # still contribute (0 − E)²/E = R·C/N to the statistic; omitting
    # them understates χ². The grid is parameter-sized (|langs| ×
    # |sources|), so the cross join is bounded at any corpus scale.
    grid = (
        cells.select("lang")
        .distinct()
        .crossJoin(F.broadcast(cells.select("source").distinct()))
        .join(cells, ["lang", "source"], "left")
        .withColumn("n_obs", F.coalesce(F.col("n_obs"), F.lit(0)))
    )
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    rc = (
        grid.withColumn("rl", F.sum("n_obs").over(wl))
        .withColumn("cs", F.sum("n_obs").over(ws))
        .crossJoin(F.broadcast(tot))
    )
    c2 = rc.select(
        "lang",
        "source",
        "n_obs",
        "nl",
        "ns",
        F.expr("CAST(ROUND(1000000.0 * rl * cs / nt) AS BIGINT)").alias(
            "exp_e6"
        ),
        F.expr(
            """CAST(ROUND(1000000.0
                 * CAST(n_obs * nt - rl * cs AS DOUBLE)
                 * CAST(n_obs * nt - rl * cs AS DOUBLE)
                 / (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)
                    * CAST(nt AS DOUBLE))) AS BIGINT)"""
        ).alias("contrib_e6"),
    )
    # statistic = INTEGER sum of the per-cell contributions, via a
    # partial-aggregating scalar aggregate + 1-row broadcast (never a
    # global-frame window: that ships every cell row to one task; the
    # aggregate ships one partial row per partition)
    chi2 = c2.agg(
        F.sum("contrib_e6").cast("bigint").alias("chi2_e6_total")
    )
    return (
        c2.crossJoin(F.broadcast(chi2))
        .select(
            "lang",
            "source",
            F.col("n_obs").cast("bigint").alias("n_obs"),
            "exp_e6",
            "contrib_e6",
            "chi2_e6_total",
            F.expr("CAST((nl - 1) * (ns - 1) AS INT)").alias("dof"),
        )
        .orderBy("lang", "source")
    )


@query(
    "source_mixing_weights",
    oracle="""
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len(regexp_extract_all(text, '[^ ]+'))) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, n_tokens,
             CAST(ROUND(1000000.0 * SQRT(CAST(n_tokens AS DOUBLE)))
                  AS BIGINT) AS ws
      FROM per
    ),
    t AS (
      SELECT SUM(ws) AS sum_ws, SUM(n_tokens) AS tot_tokens FROM w
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(ROUND(1000000.0 * ws / sum_ws) AS BIGINT) AS weight_e6,
           CAST(ROUND(10000.0 * ws * tot_tokens
                      / (CAST(sum_ws AS DOUBLE) * n_tokens))
                AS BIGINT) AS repetition_e4
    FROM w CROSS JOIN t
    ORDER BY source
    """,
)
def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing for training-data sampling
    (the multilingual temperature-sampling recipe, tau = 1/2:
    p_s proportional to sqrt(token share)) - upweights small sources,
    downweights dominant ones; repetition_e4 is the implied per-source
    epoch factor p_s / q_s a sampler would apply.

    Determinism: sqrt is IEEE-correctly-rounded (unlike pow, which is
    why tau is 1/2 and not 0.7), each sqrt rounds to a scaled BIGINT
    per source, and the normalizer is the INTEGER sum of those - no
    float-summation order anywhere. One partial-agg groupBy over raw
    data; everything after runs on the parameter-sized per-source
    relation (broadcast scalar totals)."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.expr("size(regexp_extract_all(text, '[^ ]+', 0))")).alias(
            "n_tokens"
        ),
    )
    w = per.withColumn(
        "ws",
        F.expr(
            "CAST(ROUND(1000000.0 * SQRT(CAST(n_tokens AS DOUBLE)))"
            " AS BIGINT)"
        ),
    )
    t = w.agg(
        F.sum("ws").alias("sum_ws"), F.sum("n_tokens").alias("tot_tokens")
    )
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("CAST(ROUND(1000000.0 * ws / sum_ws) AS BIGINT)").alias(
                "weight_e6"
            ),
            F.expr(
                "CAST(ROUND(10000.0 * ws * tot_tokens"
                " / (CAST(sum_ws AS DOUBLE) * n_tokens)) AS BIGINT)"
            ).alias("repetition_e4"),
        )
        .orderBy("source")
    )


@query(
    "vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(text, '[^ ]+')) AS token
      FROM documents
    ),
    counts AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ),
    ranked AS (
      SELECT token, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rk
      FROM counts
    ),
    tot AS (
      SELECT COUNT(*) AS n_types,
             SUM(n) AS n_occ,
             SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS n_hapax
      FROM counts
    ),
    top AS (
      SELECT SUM(n) AS top_occ FROM ranked WHERE rk <= 1000
    )
    SELECT CAST(n_types AS BIGINT) AS n_types,
           CAST(n_occ AS BIGINT) AS n_occurrences,
           CAST(n_hapax AS BIGINT) AS n_hapax_types,
           CAST(top_occ AS BIGINT) AS top1000_occurrences,
           CAST(ROUND(10000.0 * top_occ / n_occ) AS BIGINT)
             AS coverage_e4
    FROM tot CROSS JOIN top
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage audit for tokenizer sizing: how much of
    the corpus token mass the top-1000 word types cover, plus the
    hapax-legomena count (types seen once - the tail a subword
    tokenizer exists to absorb).

    One scan-side tokenize + partial-agg count per type; the top-1000
    cut is a TakeOrderedAndProject over the (already aggregated) type
    table - per-partition heaps, never a global sort - and the two
    scalar aggregates broadcast into the single-row result."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(
            F.explode(
                F.expr("regexp_extract_all(text, '[^ ]+', 0)")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.agg(
        F.count("*").alias("n_types"),
        F.sum("n").alias("n_occ"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    top = (
        counts.orderBy(F.desc("n"), F.asc("token"))
        .limit(1000)
        .agg(F.sum("n").alias("top_occ"))
    )
    return tot.crossJoin(F.broadcast(top)).select(
        F.col("n_types").cast("bigint").alias("n_types"),
        F.col("n_occ").cast("bigint").alias("n_occurrences"),
        F.col("n_hapax").cast("bigint").alias("n_hapax_types"),
        F.col("top_occ").cast("bigint").alias("top1000_occurrences"),
        F.expr("CAST(ROUND(10000.0 * top_occ / n_occ) AS BIGINT)").alias(
            "coverage_e4"
        ),
    )


@query(
    "lang_id_confusion",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
        len(regexp_extract_all(lower(text), '(^| )(the|and|of|is|to)( |$)')) AS s_en,
        len(regexp_extract_all(lower(text), '(^| )(el|la|los|es|una)( |$)')) AS s_es,
        len(regexp_extract_all(lower(text), '(^| )(le|les|est|une|dans)( |$)')) AS s_fr,
        len(regexp_extract_all(lower(text), '(^| )(der|die|und|ist|nicht)( |$)')) AS s_de
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE
               WHEN GREATEST(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
               WHEN s_en = GREATEST(s_en, s_es, s_fr, s_de) THEN 'en'
               WHEN s_es = GREATEST(s_en, s_es, s_fr, s_de) THEN 'es'
               WHEN s_fr = GREATEST(s_en, s_es, s_fr, s_de) THEN 'fr'
               ELSE 'de'
             END AS predicted_lang
      FROM scored
    ),
    cells AS (
      SELECT lang, predicted_lang, COUNT(*) AS n
      FROM pred GROUP BY lang, predicted_lang
    ),
    tot AS (SELECT lang, SUM(n) AS row_n FROM cells GROUP BY lang)
    SELECT cells.lang AS lang, predicted_lang,
           CAST(n AS BIGINT) AS n_docs,
           CAST(ROUND(10000.0 * n / row_n) AS BIGINT) AS row_share_e4,
           CAST(cells.lang = predicted_lang AS INT) AS is_correct
    FROM cells JOIN tot ON cells.lang = tot.lang
    ORDER BY cells.lang, predicted_lang
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the stopword-marker language classifier
    (lang_id) against the labeled lang column, with per-true-lang row
    shares - the audit that quantifies where the cheap heuristic
    misroutes documents before it gates anything downstream.

    One scan-side scoring pass (regex counts in codegen), a cells
    aggregate, and row totals via a second aggregate over the
    parameter-sized cells relation."""
    from local_stream_stack_spark.operators.text import lang_id_scores

    d = _t(spark, sf_dir, "documents")
    pred = lang_id_scores(d, "text").select("lang", "predicted_lang")
    cells = pred.groupBy("lang", "predicted_lang").agg(
        F.count("*").alias("n")
    )
    tot = cells.groupBy("lang").agg(F.sum("n").alias("row_n"))
    return (
        cells.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "predicted_lang",
            F.col("n").cast("bigint").alias("n_docs"),
            F.expr("CAST(ROUND(10000.0 * n / row_n) AS BIGINT)").alias(
                "row_share_e4"
            ),
            (F.col("lang") == F.col("predicted_lang"))
            .cast("int")
            .alias("is_correct"),
        )
        .orderBy("lang", "predicted_lang")
    )


@query(
    "dedup_cluster_sizes",
    oracle="""
    WITH RECURSIVE docs AS (
      SELECT doc_id, lang, text FROM documents WHERE n_chars <= 200
    ),
    gram_all AS (
      SELECT DISTINCT doc_id, lang,
             unnest([substr(text, CAST(i AS INT), 3)
                     for i in generate_series(1, length(text) - 2)]) AS g
      FROM docs
    ),
    cap AS (SELECT LEAST(64, GREATEST(8, COUNT(*) // 100)) AS c FROM docs),
    hot AS (
      SELECT lang, g FROM gram_all GROUP BY lang, g
      HAVING COUNT(*) > (SELECT c FROM cap)
    ),
    gram_sets AS (
      SELECT ga.doc_id, ga.lang, ga.g
      FROM gram_all ga ANTI JOIN hot USING (lang, g)
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM gram_sets GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM gram_sets a
      JOIN gram_sets b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT id_a, id_b
      FROM pairs
      JOIN counts ca ON id_a = ca.doc_id
      JOIN counts cb ON id_b = cb.doc_id
      WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.12
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM jp
      UNION
      SELECT id_b AS s, id_a AS d FROM jp
    ),
    reach AS (
      SELECT s AS n, s AS m FROM edges
      UNION
      SELECT r.n, e.d AS m FROM reach r JOIN edges e ON r.m = e.s
    ),
    comp AS (
      SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n
    ),
    sizes AS (
      SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
    )
    SELECT CAST(cluster_size AS INT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS n_removable
    FROM sizes
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the near-dup components - the
    dedup IMPACT report: n_removable (docs minus one keeper per
    cluster) is exactly what a dedup pass deletes, broken out by
    cluster size so heavy boilerplate families are visible before
    anything is dropped. Two tiny aggregates on top of the
    dedup_components pipeline."""
    from local_stream_stack_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") <= 200)
    # Corpus-relative hot-gram cap (round-7 fix, measured at 100x):
    # char-3-grams are shared by construction across any same-language
    # corpus, so without a df cap the gram self-join is quadratic in
    # corpus size — the 100x scaling run hung here while the 10x run
    # had read a deceptive alpha 0.956. A gram in > max(8, 1% of the
    # slice) docs carries no dedup signal and is dropped pre-join
    # (dedup_containment's round-5 cap, now shared via
    # ngram_jaccard_pairs max_df); jaccard is over surviving grams on
    # BOTH engines. One count() job for the cap — parameter-sized.
    n_slice = d.count()
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=3,
        block_cols=["lang"], min_jaccard=0.12,
        # hot_gram_cap = LEAST(64, GREATEST(8, n/100)): the absolute
        # ceiling bounds every gram's contribution to C(64,2) so
        # total pairs stay linear in corpus grams (pinned in
        # tests/test_dedup.py). Unchanged (cap=8) at driver scales.
        max_df=hot_gram_cap(n_slice),
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy(F.col("cluster_size").cast("int").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
            (F.sum("cluster_size") - F.count("*"))
            .cast("bigint")
            .alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


@query(
    "dedup_prefix_clusters",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS toks
      FROM documents
    ),
    p AS (
      SELECT doc_id,
             md5(array_to_string(toks[1:16], ' ')) AS prefix_hash
      FROM t WHERE len(toks) >= 16
    ),
    grp AS (
      SELECT prefix_hash,
             COUNT(*) AS n_docs,
             MIN(doc_id) AS keeper_doc
      FROM p GROUP BY prefix_hash
      HAVING COUNT(*) >= 2
    )
    SELECT prefix_hash, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(keeper_doc AS BIGINT) AS keeper_doc
    FROM grp
    ORDER BY n_docs DESC, prefix_hash
    """,
)
def dedup_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix duplication: documents opening with an identical
    16-token prefix clustered by prefix hash (min doc_id = keeper) -
    the cheap boilerplate-header detector (crawl templates, license
    preambles) that catches families full-content hashing misses.
    One scan-side hash + one partial-agg groupBy; no joins at all."""
    d = _t(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        F.expr(
            "md5(concat_ws(' ', slice(filter(split(trim(text), ' +'),"
            " x -> x != ''), 1, 16)))"
        ).alias("prefix_hash"),
        F.expr(
            "size(filter(split(trim(text), ' +'), x -> x != ''))"
        ).alias("__nw"),
    ).filter(F.col("__nw") >= 16)
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("prefix_hash"))
    )


@query(
    "dedup_token_sort",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             md5(array_to_string(
                 list_sort(list_distinct(
                     regexp_extract_all(text, '[^ ]+'))),
                 ' ')) AS fingerprint
      FROM documents
    )
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT)
             AS n_distinct_texts,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
    FROM t
    GROUP BY fingerprint
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, fingerprint
    """,
)
def dedup_token_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-set duplicate families: documents whose sorted
    DISTINCT token sets hash identically (bag-of-vocabulary
    fingerprint). Catches shuffled, reordered, and
    repetition-inflated near-copies that exact content hashing
    misses and n-gram methods only score fuzzily; n_distinct_texts
    separates verbatim repeats from true same-vocabulary variants
    within each family.

    One scan-side sort_array + md5 and one partial-agg groupBy - the
    same single-shuffle shape as exact dedup, so it scales
    identically (the sort is per-row, bounded by document length)."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "text",
        F.expr(
            "md5(concat_ws(' ', sort_array(array_distinct("
            "filter(split(trim(text), ' +'), x -> x != '')))))"
        ).alias("fingerprint"),
    )
    return (
        t.groupBy("fingerprint")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct(F.md5("text"))
            .cast("bigint")
            .alias("n_distinct_texts"),
            F.min("doc_id").cast("bigint").alias("keeper_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("fingerprint"))
    )


def _minhash_calibration_oracle_sql(
    n_hashes: int = 32, shingle_k: int = 3, rows_per_band: int = 4
) -> str:
    """Oracle replaying the portable minhash pipeline, then scoring
    the ESTIMATOR: per estimated-Jaccard bin, the micro-averaged
    exact shingle Jaccard of the candidate pairs."""
    return f"""
    WITH {_minhash_bandkey_cte_sql(n_hashes, shingle_k, rows_per_band)},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandkey a JOIN bandkey b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    mt AS (
      SELECT c.id_a, c.id_b,
             SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS matches
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
      GROUP BY c.id_a, c.id_b
    ),
    szs AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
    itr AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
      GROUP BY c.id_a, c.id_b
    ),
    pair AS (
      SELECT m.id_a, m.id_b, m.matches,
             COALESCE(i.inter, 0) AS inter,
             sa.nsh + sb.nsh - COALESCE(i.inter, 0) AS uni
      FROM mt m
      LEFT JOIN itr i ON m.id_a = i.id_a AND m.id_b = i.id_b
      JOIN szs sa ON m.id_a = sa.doc_id
      JOIN szs sb ON m.id_b = sb.doc_id
    )
    SELECT CAST(matches * 10 // {n_hashes} AS INT) AS est_bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(inter) AS BIGINT) AS sum_inter,
           CAST(SUM(uni) AS BIGINT) AS sum_union,
           CAST(SUM(matches) * 10000
                // ({n_hashes} * COUNT(*)) AS BIGINT) AS est_e4,
           CAST(SUM(inter) AS DOUBLE) / CAST(SUM(uni) AS DOUBLE)
             AS micro_jaccard
    FROM pair
    GROUP BY matches * 10 // {n_hashes}
    ORDER BY est_bin
    """


@query("minhash_calibration", oracle=_minhash_calibration_oracle_sql())
def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration report for the MinHash near-dup estimator: LSH
    candidate pairs bucketed by ESTIMATED Jaccard (signature
    agreement, 10 bins) vs the micro-averaged EXACT 3-word-shingle
    Jaccard of the same pairs — the eval a dedup pipeline runs
    before trusting an LSH threshold at corpus scale.

    The exact stage joins shingle sets ONLY for LSH candidates (the
    bounded verification shape, never all pairs). Integer-exact
    throughout: bins and est_e4 are truncating integer divisions,
    micro_jaccard is one double division of exact integer sums, so
    summation order cannot perturb it."""
    from local_stream_stack_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures_portable,
        nonempty_tokens,
        word_shingles_of,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures_portable(
        d, id_col="doc_id", text_col="text", n_hashes=32,
        shingle_k=3, shingle="word",
    )
    cands = minhash_lsh_candidates(
        sigs, id_col="doc_id", bands=8, rows_per_band=4,
        carry_sig=True, portable_keys=True,
    ).select(
        "id_a",
        "id_b",
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda v: v,
            )
        ).alias("matches"),
    )
    # Exact verification WITHOUT exploding shingles (round-7 rewrite,
    # VERDICT r6 #9): candidates are a bounded set, so each pair's
    # exact Jaccard comes from array_intersect on the two docs'
    # (already-distinct) shingle ARRAYS — two hash joins on doc_id
    # and one JVM set-intersection per candidate, replacing the three
    # exploded-shingle consumers (sizes groupBy + a two-sided gram
    # join) the previous form re-derived from the scan (its persist/
    # localCheckpoint variants both measured slower than re-deriving;
    # this removes the repeated lineage instead of caching it).
    # Identical result: |A∩B| over distinct shingles, union by
    # inclusion-exclusion.
    # token array staged before the shingle transform (interpreted HOF
    # would otherwise re-tokenize per shingle element — guide §1.2/§4.1)
    sharr = d.select("doc_id", nonempty_tokens("text").alias("__t")).select(
        "doc_id", word_shingles_of("__t", 3).alias("__sh")
    )
    ta = sharr.select(
        F.col("doc_id").alias("id_a"), F.col("__sh").alias("__sha")
    )
    tb = sharr.select(
        F.col("doc_id").alias("id_b"), F.col("__sh").alias("__shb")
    )
    pair = (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("__sha", "__shb"))
        )
        .select(
            "matches",
            "inter",
            (
                F.size("__sha") + F.size("__shb") - F.col("inter")
            ).alias("uni"),
        )
    )
    return (
        pair.groupBy(
            F.expr("CAST(matches * 10 div 32 AS INT)").alias("est_bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("inter").cast("bigint").alias("sum_inter"),
            F.sum("uni").cast("bigint").alias("sum_union"),
            F.expr(
                "CAST(SUM(matches) * 10000 div (32 * COUNT(*))"
                " AS BIGINT)"
            ).alias("est_e4"),
            F.expr(
                "CAST(SUM(inter) AS DOUBLE) / CAST(SUM(uni) AS DOUBLE)"
            ).alias("micro_jaccard"),
        )
        .orderBy("est_bin")
    )


@query(
    "zipf_token_fit",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(text, '[^ ]+')) AS t
      FROM documents
    ),
    freq AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
    ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, t) AS r
      FROM freq
    ),
    b AS (
      SELECT CAST(length(bin(r)) - 1 AS BIGINT) AS xb,
             CAST(length(bin(n)) - 1 AS BIGINT) AS yb,
             n, r
      FROM ranked
    ),
    m AS (
      SELECT COUNT(*) AS nt,
             SUM(CAST(xb AS DECIMAL(38,0))) AS sx,
             SUM(CAST(yb AS DECIMAL(38,0))) AS sy,
             SUM(CAST(xb AS DECIMAL(38,0)) * CAST(xb AS DECIMAL(38,0)))
               AS sxx,
             SUM(CAST(xb AS DECIMAL(38,0)) * CAST(yb AS DECIMAL(38,0)))
               AS sxy
      FROM b
    ),
    fit AS (
      SELECT nt,
             (CAST(nt AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(CAST(nt AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
               AS zipf_slope
      FROM m
    ),
    per AS (
      SELECT xb AS rank_bucket,
             COUNT(*) AS n_tokens,
             CAST(SUM(n) AS BIGINT) AS bucket_freq
      FROM b GROUP BY xb
    )
    SELECT CAST(rank_bucket AS INT) AS rank_bucket,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           bucket_freq,
           zipf_slope
    FROM per CROSS JOIN fit
    ORDER BY rank_bucket
    """,
)
def zipf_token_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law corpus-health audit: token frequency vs frequency
    rank on the log2-log2 grid, with the fitted slope (natural text
    sits near -1; a flat or cliffed curve flags synthetic, templated,
    or truncated corpora — the token-level sibling of the Benford
    amount audit).

    log2 of a positive BIGINT is EXACT on both engines as
    length(bin(n)) - 1 (no float log), the regression runs on exact
    DECIMAL moment sums (one partial+final aggregate), and the
    frequency rank is an exact DISTRIBUTED rank over the vocabulary
    relation (with_global_rank — bin counts + within-bin partitioned
    windows, never a single sorting reducer), so even a vocabulary
    that grows with the corpus never collapses to one task."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            F.expr("filter(split(trim(text), ' +'), x -> x != '')")
        ).alias("t")
    )
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    freq = tok.groupBy("t").agg(F.count("*").alias("n"))
    ranked = with_global_rank(
        freq, "n", ["t"], descending=True, out_rank="r",
        materialize=True,  # input is a derived aggregate: avoid 3x lineage re-execution (guide §5)
    ).select("n", "r")
    b = ranked.select(
        "n",
        F.expr("CAST(length(bin(r)) - 1 AS BIGINT)").alias("xb"),
        F.expr("CAST(length(bin(n)) - 1 AS BIGINT)").alias("yb"),
    )
    m = b.agg(
        F.expr("COUNT(*)").alias("nt"),
        F.expr("SUM(CAST(xb AS DECIMAL(38,0)))").alias("sx"),
        F.expr("SUM(CAST(yb AS DECIMAL(38,0)))").alias("sy"),
        F.expr(
            "SUM(CAST(xb AS DECIMAL(38,0)) * CAST(xb AS DECIMAL(38,0)))"
        ).alias("sxx"),
        F.expr(
            "SUM(CAST(xb AS DECIMAL(38,0)) * CAST(yb AS DECIMAL(38,0)))"
        ).alias("sxy"),
    )
    fit = m.select(
        F.expr(
            "(CAST(nt AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / NULLIF(CAST(nt AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)"
        ).alias("zipf_slope")
    )
    per = b.groupBy(F.col("xb").cast("int").alias("rank_bucket")).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("n").cast("bigint").alias("bucket_freq"),
    )
    return (
        per.crossJoin(F.broadcast(fit))
        .select("rank_bucket", "n_tokens", "bucket_freq", "zipf_slope")
        .orderBy("rank_bucket")
    )


def _sim_recall_oracle_sql() -> str:
    """Compose the four existing (individually driver-green) ANN-tier
    oracles as WITH-subqueries and compare each approximate top-10 id
    set against the exact one. DuckDB allows a full WITH chain inside
    a derived table, so each tier's oracle is embedded verbatim — the
    recall oracle can never drift from the per-tier oracles."""
    from local_stream_stack_spark.queries.registry import QUERIES

    sub = {
        t: QUERIES[f"sim_{t}_topk"].oracle
        for t in ("bruteforce", "lsh", "ivf", "ivfpq")
    }
    return f"""
    WITH exact10 AS (
      SELECT query_id, corpus_id FROM ({sub['bruteforce']})
    ),
    lsh10 AS (SELECT query_id, corpus_id FROM ({sub['lsh']})),
    ivf10 AS (SELECT query_id, corpus_id FROM ({sub['ivf']})),
    ivfpq10 AS (SELECT query_id, corpus_id FROM ({sub['ivfpq']})),
    tiers AS (
      SELECT 'lsh' AS tier, query_id, corpus_id FROM lsh10
      UNION ALL SELECT 'ivf', query_id, corpus_id FROM ivf10
      UNION ALL SELECT 'ivfpq', query_id, corpus_id FROM ivfpq10
    ),
    hits AS (
      SELECT t.tier, t.query_id,
             SUM(CASE WHEN e.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
               AS n_hits,
             COUNT(*) AS n_returned
      FROM tiers t
      LEFT JOIN exact10 e
        ON e.query_id = t.query_id AND e.corpus_id = t.corpus_id
      GROUP BY t.tier, t.query_id
    )
    SELECT tier, query_id,
           CAST(10 AS INT) AS k,
           CAST(n_returned AS INT) AS n_returned,
           CAST(n_hits AS INT) AS n_hits,
           CAST(n_hits * 1000 AS BIGINT) AS recall_e4
    FROM hits
    ORDER BY tier, query_id
    """


@query("sim_recall_calibration", oracle=_sim_recall_oracle_sql())
def sim_recall_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of every registered ANN tier (LSH, IVF, IVF-PQ)
    against the exact brute-force top-10 on the same deterministic
    query slice — the eval you run before trusting an approximate
    index at corpus scale, promoted from pytest to a driver-visible
    query exactly as minhash_calibration did for the MinHash
    estimator (VERDICT r6 #5).

    The engine side CALLS the registered tier queries, and the oracle
    EMBEDS their oracles as subqueries, so this calibration is
    definitionally in lockstep with what the tiers actually return —
    any change to a tier's plan shows up here as a recall shift.
    Integer-exact: recall_e4 = n_hits * 1000 (k=10), no float math
    anywhere. Scale shape: each tier is already bounded (bucket join /
    nprobe cells / ADC over codes); the exact baseline runs only over
    the 5-query slice, and the recall join is 30 rows vs 50.

    Cost note (round-8 measured): there is NO duplicated coarse
    training to share across tiers — IVF cells are per-label exact
    centroids (no k-means) and only IVF-PQ trains a coarse codebook,
    once. Warm profile at sf0.1: ~4.3 s of the entry is IVF-PQ's six
    sequential parameter-sized driver jobs (quantize checkpoint, seed,
    2 Lloyd rounds, sub-vector checkpoint, PQ books) — a local-mode
    scheduling floor that amortizes at scale — and ~2.9 s the fused
    scoring action. Dropping the sub-vector checkpoint was tried and
    measured SLOWER (7.4 s vs 6.1 s warm), so it stays."""
    # build the four independent tier graphs from a small thread pool
    # (guide §2.6 — overlap independent jobs): IVF-PQ alone runs six
    # sequential parameter-sized driver jobs (checkpoints + Lloyd
    # collects) that otherwise serialize on the driver while the
    # cluster idles; submitted concurrently they back-fill each
    # other's scheduling gaps. Each fn touches only its own lineage
    # (localCheckpoints + bounded collects, no temp views), so
    # concurrent construction is safe; union order stays (lsh, ivf,
    # ivfpq) and the result is orderBy-deterministic regardless.
    from concurrent.futures import ThreadPoolExecutor

    tier_fns = (
        ("lsh", sim_lsh_topk),
        ("ivf", sim_ivf_topk),
        ("ivfpq", sim_ivfpq_topk),
    )
    with ThreadPoolExecutor(max_workers=4) as pool:
        exact_fut = pool.submit(sim_bruteforce_topk, spark, sf_dir)
        futs = [(tier, pool.submit(fn, spark, sf_dir)) for tier, fn in tier_fns]
        exact = exact_fut.result().select("query_id", "corpus_id")
        tiers = None
        for tier, fut in futs:
            t = fut.result().select(
                F.lit(tier).alias("tier"), "query_id", "corpus_id"
            )
            tiers = t if tiers is None else tiers.unionByName(t)
    hits = (
        tiers.join(
            exact.withColumn("__hit", F.lit(1)),
            ["query_id", "corpus_id"],
            "left",
        )
        .groupBy("tier", "query_id")
        .agg(
            F.count("*").cast("int").alias("n_returned"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("int")
            .alias("n_hits"),
        )
    )
    return hits.select(
        "tier",
        "query_id",
        F.lit(10).cast("int").alias("k"),
        "n_returned",
        "n_hits",
        (F.col("n_hits").cast("bigint") * 1000).alias("recall_e4"),
    ).orderBy("tier", "query_id")


@query(
    "vocab_coverage_curve",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(trim(text)), '[^ ]+')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    ranked AS (
      SELECT n,
             ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk,
             SUM(n) OVER (ORDER BY n DESC, tok
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM freq
    ),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_types FROM freq),
    ks AS (SELECT unnest([10, 20, 50, 100, 200, 500, 1000]) AS k)
    SELECT CAST(ks.k AS INT) AS vocab_size,
           CAST(LEAST(ks.k, tot.n_types) AS BIGINT) AS n_types_used,
           CAST(COALESCE(MAX(r.cum), 0) AS BIGINT) AS covered_tokens,
           CAST(tot.total AS BIGINT) AS total_tokens,
           CAST(CAST(COALESCE(MAX(r.cum), 0) AS HUGEINT) * 1000000
                // CAST(tot.total AS HUGEINT) AS BIGINT) AS coverage_e6
    FROM ks
    CROSS JOIN tot
    LEFT JOIN ranked r ON r.rk <= ks.k
    GROUP BY ks.k, tot.total, tot.n_types
    ORDER BY vocab_size
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve vs vocabulary size — the sizing study run
    before fixing a tokenizer vocab: for each candidate size k, what
    fraction of all token OCCURRENCES the top-k types cover. (The
    scalar vocab_coverage query reports one point; this is the curve
    that actually drives the choice.)

    One token explode + frequency groupBy; then — because every
    threshold k is <= 1000 — only the top-1000 types by frequency can
    contribute to any curve point, so rank and cumulative coverage
    run over a TakeOrderedAndProject LIMIT 1000 slice
    (corpus-size-independent) via the distributed-rank operator (no
    unpartitioned window anywhere, even over the slice) and the 7
    thresholds broadcast-join that slice. coverage_e6 is a
    truncating integer division on non-negative operands — exact on
    both engines. At 100 TB only the explode+groupBy touch the corpus;
    everything after the top-k cut is bounded by k_max."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.expr(r"regexp_extract_all(lower(trim(text)), '[^ ]+', 0)")
        ).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    # ranks 1..1000 are the only ones any threshold can reference
    top = freq.orderBy(F.desc("n"), F.asc("tok")).limit(1000)
    ranked = with_global_rank(
        top,
        "n",
        ["tok"],
        descending=True,
        out_rank="rk",
        cumsum={"n": "cum"},
        acc_type="BIGINT",
    ).select("n", "rk", "cum")
    tot = freq.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_types")
    )
    ks = spark.createDataFrame(
        [(k,) for k in (10, 20, 50, 100, 200, 500, 1000)], "k int"
    )
    return (
        ks.crossJoin(F.broadcast(tot))
        .join(F.broadcast(ranked), F.col("rk") <= F.col("k"), "left")
        .groupBy("k", "total", "n_types")
        .agg(F.max("cum").alias("mcum"))
        .select(
            F.col("k").cast("int").alias("vocab_size"),
            F.least("k", "n_types").cast("bigint").alias("n_types_used"),
            F.coalesce("mcum", F.lit(0))
            .cast("bigint")
            .alias("covered_tokens"),
            F.col("total").cast("bigint").alias("total_tokens"),
            F.expr(
                # DECIMAL(38,0) headroom for corpus-scale token counts
                "CAST(CAST(COALESCE(mcum, 0) AS DECIMAL(38,0)) * 1000000"
                " div total AS BIGINT)"
            ).alias("coverage_e6"),
        )
        .orderBy("vocab_size")
    )


@query(
    "blocklist_filter_stats",
    oracle="""
    WITH bl AS (
      SELECT unnest(['dup', 'spark', 'tensor']) AS term
    ),
    hits AS (
      SELECT d.doc_id, d.source, bl.term
      FROM documents d
      JOIN bl
        ON len(regexp_extract_all(lower(d.text),
               '\\b' || bl.term || '\\b')) > 0
    ),
    per_doc AS (
      SELECT doc_id, source, COUNT(DISTINCT term) AS n_terms
      FROM hits GROUP BY doc_id, source
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(p.doc_id) AS BIGINT) AS n_blocked,
           CAST(COALESCE(SUM(p.n_terms), 0) AS BIGINT) AS n_term_hits,
           CAST(COUNT(p.doc_id) * 1000000 // COUNT(*) AS BIGINT)
             AS blocked_rate_e6
    FROM documents d
    LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def blocklist_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist screening report — the curation gate that drops (or
    flags) documents matching banned terms, reported per source so a
    poisoned source is visible before anything trains: per source, how
    many docs match at least one blocklist term (word-boundary match,
    lookaround-free so Java regex and RE2 agree) and how many distinct
    terms hit.

    The blocklist broadcast-joins the corpus (it is always tiny
    relative to the data); matching is a scan-shaped regex per term —
    at 100 TB a map-only pass followed by a per-source aggregate.
    blocked_rate_e6 is a truncating division on non-negative counts."""
    d = _t(spark, sf_dir, "documents")
    bl = spark.createDataFrame(
        [("dup",), ("spark",), ("tensor",)], "term string"
    )
    hits = d.select("doc_id", "source", F.lower("text").alias("lt")).join(
        F.broadcast(bl),
        F.expr(r"size(regexp_extract_all(lt, '\\b' || term || '\\b', 0)) > 0"),
    )
    per_doc = hits.groupBy("doc_id", "source").agg(
        F.countDistinct("term").alias("n_terms")
    )
    return (
        d.select("doc_id", "source")
        .join(per_doc.select("doc_id", "n_terms"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("n_terms").cast("bigint").alias("n_blocked"),
            F.coalesce(F.sum("n_terms"), F.lit(0))
            .cast("bigint")
            .alias("n_term_hits"),
            F.expr(
                "CAST(COUNT(n_terms) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("blocked_rate_e6"),
        )
        .orderBy("source")
    )


@query(
    "dedup_canonical_pick",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, n_chars,
             regexp_extract_all(text, '[^ ]+') AS toks
      FROM documents
    ),
    p AS (
      SELECT doc_id, source, n_chars,
             md5(array_to_string(toks[1:16], ' ')) AS prefix_hash
      FROM t WHERE len(toks) >= 16
    ),
    clus AS (
      SELECT doc_id, source, n_chars,
             COUNT(*) OVER (PARTITION BY prefix_hash) AS csz,
             ROW_NUMBER() OVER (PARTITION BY prefix_hash
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM p
    ),
    marked AS (
      SELECT d.source, d.n_chars,
             CASE WHEN c.csz >= 2 THEN 1 ELSE 0 END AS clustered,
             CASE WHEN c.csz >= 2 AND c.rn > 1 THEN 1 ELSE 0
               END AS dropped
      FROM documents d
      LEFT JOIN clus c ON c.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(clustered) AS BIGINT) AS n_clustered,
           CAST(SUM(dropped) AS BIGINT) AS n_dropped,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(dropped * n_chars) AS BIGINT) AS chars_dropped,
           CAST((COUNT(*) - SUM(dropped)) * 1000000 // COUNT(*)
                AS BIGINT) AS keep_rate_e6
    FROM marked
    GROUP BY source
    ORDER BY source
    """,
)
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection — the last step of a dedup
    pipeline that the cluster queries stop short of: within each
    shared-prefix duplicate family keep the BEST document (longest
    n_chars, ties to the smallest doc_id) and drop the rest, reported
    per source as kept/dropped doc and char mass. 'Keep the best, not
    the first' is what separates a quality-preserving dedup from a
    naive one.

    One shuffle on prefix_hash for the two windows (count + rank share
    one sort), a key join back to the corpus, one per-source
    aggregate. The window partitions are duplicate families — bounded
    in practice, and hot families degrade to AQE-splittable joins, not
    cross products. keep_rate_e6 is a truncating division on
    non-negative counts."""
    d = _t(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(
            "md5(concat_ws(' ', slice(filter(split(trim(text), ' +'),"
            " x -> x != ''), 1, 16)))"
        ).alias("prefix_hash"),
        F.expr(
            "size(filter(split(trim(text), ' +'), x -> x != ''))"
        ).alias("__nw"),
    ).filter(F.col("__nw") >= 16)
    wc = Window.partitionBy("prefix_hash")
    wr = Window.partitionBy("prefix_hash").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    clus = p.select(
        "doc_id",
        F.count("*").over(wc).alias("csz"),
        F.row_number().over(wr).alias("rn"),
    )
    marked = d.select("doc_id", "source", "n_chars").join(
        clus, "doc_id", "left"
    ).select(
        "source",
        "n_chars",
        F.when(F.col("csz") >= 2, 1).otherwise(0).alias("clustered"),
        F.when((F.col("csz") >= 2) & (F.col("rn") > 1), 1)
        .otherwise(0)
        .alias("dropped"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("clustered").cast("bigint").alias("n_clustered"),
            F.sum("dropped").cast("bigint").alias("n_dropped"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
            F.sum(F.col("dropped") * F.col("n_chars"))
            .cast("bigint")
            .alias("chars_dropped"),
            F.expr(
                "CAST((COUNT(*) - SUM(dropped)) * 1000000 div COUNT(*)"
                " AS BIGINT)"
            ).alias("keep_rate_e6"),
        )
        .orderBy("source")
    )


@query(
    "welch_t_sources",
    oracle="""
    WITH per AS (
      SELECT source,
             COUNT(*) AS n1,
             SUM(n_chars) AS s1,
             SUM(n_chars * n_chars) AS q1
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT COUNT(*) AS n, SUM(n_chars) AS s,
             SUM(n_chars * n_chars) AS q
      FROM documents
    )
    SELECT source,
           CAST(n1 AS BIGINT) AS n_docs,
           CAST(s1 AS DOUBLE) / n1 AS mean_chars,
           (CAST(s1 AS DOUBLE) / n1
            - CAST(t.s - s1 AS DOUBLE) / (t.n - n1))
           / NULLIF(SQRT(
               (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
               / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1
               + (CAST(t.n - n1 AS DOUBLE) * (t.q - q1)
                  - CAST(t.s - s1 AS DOUBLE) * (t.s - s1))
               / (CAST(t.n - n1 AS DOUBLE) * (t.n - n1 - 1))
               / (t.n - n1)), 0.0) AS t_stat
    FROM per CROSS JOIN tot t
    ORDER BY source
    """,
)
def welch_t_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic for each source's document
    lengths against the REST of the corpus — the distribution-shift
    screen that flags a source whose length profile departs from the
    pool before it skews a training mix (no equal-variance assumption,
    hence Welch).

    One per-source moment aggregate + one corpus-total aggregate; the
    rest-of-corpus moments are differences of the two, so the whole
    report costs one scan. The t expression is built purely from
    integer moment sums with the variance denominators folded so the
    doubles derive from identical expression trees on both engines;
    zero-variance degenerate pools null out via NULLIF."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").alias("n1"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("q1"),
    )
    tot = d.agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("q"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n1").cast("bigint").alias("n_docs"),
            F.expr("CAST(s1 AS DOUBLE) / n1").alias("mean_chars"),
            F.expr(
                "(CAST(s1 AS DOUBLE) / n1"
                " - CAST(s - s1 AS DOUBLE) / (n - n1))"
                " / NULLIF(SQRT("
                " (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)"
                " / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1"
                " + (CAST(n - n1 AS DOUBLE) * (q - q1)"
                "    - CAST(s - s1 AS DOUBLE) * (s - s1))"
                " / (CAST(n - n1 AS DOUBLE) * (n - n1 - 1))"
                " / (n - n1)), 0.0)"
            ).alias("t_stat"),
        )
        .orderBy("source")
    )


def _band_sweep_oracle_sql() -> str:
    """Oracle for ``minhash_band_sweep``: ONE signature pipeline
    (shared CTEs from ``_minhash_bandkey_cte_sql``), three band
    groupings of the same 32 hashes, and per-config candidate stats."""
    def block(bands: int, rpb: int, bk: str, cand: str) -> str:
        return f"""
    {bk} AS (
      SELECT doc_id, i // {rpb} AS band,
             string_agg(CAST(m AS VARCHAR), '|' ORDER BY i) AS bh
      FROM sig GROUP BY doc_id, i // {rpb}
    ),
    {cand} AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {bk} a JOIN {bk} b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )"""

    def stats(bands: int, rpb: int, cand: str) -> str:
        return f"""
    SELECT {bands} AS bands, {rpb} AS rows_per_band,
           COUNT(*) AS n_pairs,
           COALESCE(SUM(CASE WHEN m.eq * 2 >= 32 THEN 1 ELSE 0 END), 0)
             AS n_est_ge50,
           COALESCE(SUM(m.eq), 0) AS sum_eq
    FROM {cand} c
    JOIN (
      SELECT ca.id_a, ca.id_b,
             SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS eq
      FROM {cand} ca
      JOIN sig sa ON sa.doc_id = ca.id_a
      JOIN sig sb ON sb.doc_id = ca.id_b AND sb.i = sa.i
      GROUP BY ca.id_a, ca.id_b
    ) m ON m.id_a = c.id_a AND m.id_b = c.id_b"""

    ctes = _minhash_bandkey_cte_sql(32, 3, 4)
    return f"""
    WITH {ctes},{block(4, 8, "bk8", "cand48")},{block(16, 2, "bk2", "cand162")},
    sweep AS (
      {stats(4, 8, "cand48")}
      UNION ALL
      SELECT 8 AS bands, 4 AS rows_per_band,
             COUNT(*) AS n_pairs,
             COALESCE(SUM(CASE WHEN m.eq * 2 >= 32 THEN 1 ELSE 0 END), 0)
               AS n_est_ge50,
             COALESCE(SUM(m.eq), 0) AS sum_eq
      FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandkey a JOIN bandkey b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      ) c
      JOIN (
        SELECT ca.id_a, ca.id_b,
               SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS eq
        FROM (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bandkey a JOIN bandkey b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        ) ca
        JOIN sig sa ON sa.doc_id = ca.id_a
        JOIN sig sb ON sb.doc_id = ca.id_b AND sb.i = sa.i
        GROUP BY ca.id_a, ca.id_b
      ) m ON m.id_a = c.id_a AND m.id_b = c.id_b
      UNION ALL
      {stats(16, 2, "cand162")}
    )
    SELECT CAST(bands AS INT) AS bands,
           CAST(rows_per_band AS INT) AS rows_per_band,
           CAST(n_pairs AS BIGINT) AS n_candidate_pairs,
           CAST(n_est_ge50 AS BIGINT) AS n_est_dup_ge50,
           CAST(CASE WHEN n_pairs > 0
                THEN sum_eq * 10000 // (32 * n_pairs)
                ELSE NULL END AS BIGINT) AS mean_agreement_e4
    FROM sweep
    ORDER BY bands
    """


@query("minhash_band_sweep", oracle=_band_sweep_oracle_sql())
def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-configuration sweep: the SAME 32-hash MinHash
    signatures bucketed three ways — 4 bands x 8 rows (high precision,
    low recall), 8x4 (the production default), 16x2 (high recall, low
    precision) — with candidate-pair counts, how many candidates the
    signatures estimate as >= 0.5 Jaccard, and the mean signature
    agreement. This is the study that CHOOSES the banding config;
    minhash_calibration then validates the chosen one against exact
    Jaccard.

    The signature pipeline runs ONCE (one shingle explode + min-hash
    groupBy); each config is a re-grouping of the 32 columns — the
    marginal cost per config is one bucket groupBy over the signature
    table, never a new pass over the corpus. Scale note: the 16x2
    config has the loosest buckets (2-hash band keys), so its
    candidate count grows fastest with corpus size — at production
    scale this sweep runs on a deterministic sample (the same
    hash-mod slice train_test_split uses), which suffices because it
    estimates RATES, not the candidate set itself.
    mean_agreement_e4 is a truncating division on non-negative
    integers."""
    from local_stream_stack_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures_portable,
    )

    d = _t(spark, sf_dir, "documents")
    # make the docstring's "runs ONCE" true in EXECUTION, not just in
    # the plan: three configs x two self-join sides = six references
    # to the signature pipeline (shingle explode + min-hash groupBy)
    # without this pin. The signature table is n_docs x 32 bigints —
    # tiny next to the corpus (guide §5).
    sigs = minhash_signatures_portable(
        d, id_col="doc_id", text_col="text", n_hashes=32,
        shingle_k=3, shingle="word",
    ).localCheckpoint(eager=True)
    parts = []
    for bands, rpb in ((4, 8), (8, 4), (16, 2)):
        cands = minhash_lsh_candidates(
            sigs, id_col="doc_id", bands=bands, rows_per_band=rpb,
            carry_sig=True, portable_keys=True,
        ).select(
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda v: v,
                )
            ).alias("eq")
        )
        parts.append(
            cands.agg(
                F.count("*").cast("bigint").alias("n_candidate_pairs"),
                F.coalesce(
                    F.sum(F.when(F.col("eq") * 2 >= 32, 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_est_dup_ge50"),
                F.expr(
                    "CAST(CASE WHEN COUNT(*) > 0"
                    " THEN COALESCE(SUM(eq), 0) * 10000 div (32 * COUNT(*))"
                    " ELSE NULL END AS BIGINT)"
                ).alias("mean_agreement_e4"),
            ).select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(rpb).cast("int").alias("rows_per_band"),
                "n_candidate_pairs",
                "n_est_dup_ge50",
                "mean_agreement_e4",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("bands")


def _source_overlap_oracle_sql() -> str:
    """Oracle for ``source_overlap_matrix``: the portable minhash
    bandkey CTEs, candidate pairs, signature agreement, and a
    source-pair rollup."""
    ctes = _minhash_bandkey_cte_sql(32, 3, 4)
    return f"""
    WITH {ctes},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandkey a JOIN bandkey b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    agr AS (
      SELECT c.id_a, c.id_b,
             SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS eq
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
      GROUP BY c.id_a, c.id_b
    ),
    lab AS (
      SELECT LEAST(da.source, db.source) AS source_lo,
             GREATEST(da.source, db.source) AS source_hi,
             g.eq
      FROM agr g
      JOIN documents da ON da.doc_id = g.id_a
      JOIN documents db ON db.doc_id = g.id_b
    ),
    tot AS (SELECT COUNT(*) AS n_tot FROM agr)
    SELECT source_lo, source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
           CAST(SUM(CASE WHEN eq * 2 >= 32 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_est_dup,
           CAST(CAST(COUNT(*) AS HUGEINT) * 1000000
                // NULLIF(CAST(tot.n_tot AS HUGEINT), 0)
                AS BIGINT) AS pair_share_e6
    FROM lab CROSS JOIN tot
    GROUP BY source_lo, source_hi, tot.n_tot
    ORDER BY source_lo, source_hi
    """


@query("source_overlap_matrix", oracle=_source_overlap_oracle_sql())
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication flow matrix: MinHash/LSH candidate
    pairs rolled up by unordered source pair, with how many estimate as
    >= 0.5 Jaccard. This is the provenance diagnostic a curation
    pipeline runs when dedup rates spike — it answers WHICH pairs of
    sources share content (mirror sites, syndication, scraped copies)
    so the upstream source, not individual documents, gets fixed.

    One signature pass + one banding groupBy (the proven LSH shape),
    then two doc_id equi-joins to attach sources and a ~|sources|^2
    rollup. pair_share_e6 uses the DECIMAL/HUGEINT floor-div idiom on
    non-negative counts."""
    from local_stream_stack_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures_portable,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures_portable(
        d, id_col="doc_id", text_col="text", n_hashes=32,
        shingle_k=3, shingle="word",
    )
    agr = minhash_lsh_candidates(
        sigs, id_col="doc_id", bands=8, rows_per_band=4,
        carry_sig=True, portable_keys=True,
    ).select(
        "id_a",
        "id_b",
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda v: v,
            )
        ).alias("eq"),
    )
    src = d.select("doc_id", "source")
    lab = (
        agr.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
            "eq",
        )
    )
    tot = agr.agg(F.count("*").alias("n_tot"))
    return (
        lab.crossJoin(F.broadcast(tot))
        .groupBy("source_lo", "source_hi", "n_tot")
        .agg(
            F.count("*").cast("bigint").alias("n_candidate_pairs"),
            F.sum(F.when(F.col("eq") * 2 >= 32, 1).otherwise(0))
            .cast("bigint")
            .alias("n_est_dup"),
        )
        .select(
            "source_lo",
            "source_hi",
            "n_candidate_pairs",
            "n_est_dup",
            F.expr(
                "CAST(CAST(n_candidate_pairs AS DECIMAL(38,0)) * 1000000"
                " div NULLIF(n_tot, 0) AS BIGINT)"
            ).alias("pair_share_e6"),
        )
        .orderBy("source_lo", "source_hi")
    )


@query(
    "knn_label_purity",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS qlab
      FROM embeddings WHERE vec_id < 50
    ),
    c AS (
      SELECT vec_id AS corpus_id, embedding AS cv, label AS clab
      FROM embeddings
    ),
    scored AS (
      SELECT query_id, qlab, corpus_id, clab,
             ROUND(list_reduce(list_transform(generate_series(1, len(qv)),
                     i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)),
                   (a, b) -> a + b)
               / (sqrt(list_reduce(list_transform(qv,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                     (a,b) -> a+b))
                * sqrt(list_reduce(list_transform(cv,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                     (a,b) -> a+b))),
               6) AS cosine_sim
      FROM c, q
      WHERE corpus_id <> query_id
    ),
    ranked AS (
      SELECT query_id, qlab, clab,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, corpus_id) AS rk
      FROM scored
    ),
    top5 AS (SELECT * FROM ranked WHERE rk <= 5),
    per_q AS (
      SELECT query_id, qlab,
             SUM(CASE WHEN clab = qlab THEN 1 ELSE 0 END) AS n_match,
             COALESCE(MAX(CASE WHEN clab = qlab THEN 60 // rk END), 0)
               AS rr60
      FROM top5 GROUP BY query_id, qlab
    )
    SELECT qlab AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(n_match) AS BIGINT) AS n_match_at5,
           CAST(SUM(n_match) * 10000 // (5 * COUNT(*)) AS BIGINT)
             AS purity_e4,
           CAST(SUM(rr60) * 10000 // (60 * COUNT(*)) AS BIGINT)
             AS mrr_e4
    FROM per_q
    GROUP BY qlab
    ORDER BY label
    """,
)
def knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval: exact 5-NN label purity and MRR of the
    first same-label neighbor, per label, over a deterministic
    50-query slice — the standard check that an embedding space
    actually clusters by its labels before anyone trusts it for
    semantic dedup or retrieval (low purity for one label = that
    class's embeddings are entangled).

    Query side broadcasts (bounded slice), corpus streams once —
    identical plan shape to sim_bruteforce_topk, which is the point:
    the eval runs on the exact baseline, not the ANN approximation
    (sim_recall_calibration covers ANN-vs-exact). Integer-exact:
    reciprocal ranks on the 1/1..1/5 lattice scale to 60/rk BIGINTs
    (60 = lcm), so MRR is a truncating division of exact integers.
    The MAX over 60//rk picks the FIRST same-label hit because 60/rk
    is strictly decreasing in rank."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50)
    scored = cosine_topk_bruteforce(
        queries=q.select("vec_id", "embedding"),
        corpus=e.select("vec_id", "embedding"),
        query_id="vec_id",
        corpus_id="vec_id",
        query_vec="embedding",
        corpus_vec="embedding",
        k=6,  # allow for the self-match dropped below
        round_dp=6,
    ).filter(F.col("query_id") != F.col("corpus_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("corpus_id")
    )
    top5 = (
        scored.drop("rk")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    labels = e.select("vec_id", "label")
    lab = (
        top5.join(
            F.broadcast(
                labels.withColumnRenamed("vec_id", "query_id")
                .withColumnRenamed("label", "qlab")
            ),
            "query_id",
        )
        .join(
            labels.withColumnRenamed("vec_id", "corpus_id")
            .withColumnRenamed("label", "clab"),
            "corpus_id",
        )
    )
    per_q = lab.groupBy("query_id", "qlab").agg(
        F.sum(F.when(F.col("clab") == F.col("qlab"), 1).otherwise(0)).alias(
            "n_match"
        ),
        F.coalesce(
            F.max(
                F.when(
                    F.col("clab") == F.col("qlab"),
                    F.expr("60 div rk"),
                )
            ),
            F.lit(0),
        ).alias("rr60"),
    )
    return (
        per_q.groupBy(F.col("qlab").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.sum("n_match").cast("bigint").alias("n_match_at5"),
            F.expr(
                "CAST(SUM(n_match) * 10000 div (5 * COUNT(*)) AS BIGINT)"
            ).alias("purity_e4"),
            F.expr(
                "CAST(SUM(rr60) * 10000 div (60 * COUNT(*)) AS BIGINT)"
            ).alias("mrr_e4"),
        )
        .orderBy("label")
    )


def _dedup_rate_oracle() -> str:
    from local_stream_stack_spark.queries.llm import (
        _minhash_bandkey_cte_sql,
    )

    return f"""
    WITH {_minhash_bandkey_cte_sql(32, 3, 4)},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandkey a JOIN bandkey b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    dup AS (
      SELECT id_a AS doc_id FROM cand
      UNION
      SELECT id_b AS doc_id FROM cand
    ),
    per AS (
      SELECT d.source,
             COUNT(*) AS n_docs,
             SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS n_dup
      FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
      GROUP BY d.source
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_dup AS BIGINT) AS n_near_dup,
           CAST(n_dup * 1000000 // n_docs AS BIGINT) AS dup_rate_e6
    FROM per
    ORDER BY source
    """


@query("dedup_rate_by_source", oracle=_dedup_rate_oracle())
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rate per source: the share of each source's
    documents that participate in at least one LSH candidate pair —
    the curation KPI that decides which ingest feeds need dedup
    attention (a feed at 30% near-dup gets triaged; 0.1% does not).

    Reuses the portable MinHash pipeline (same signatures/banding as
    dedup_minhash_lsh) for candidates, collapses pairs to a distinct
    doc set, and LEFT-joins back to the documents scan for per-source
    shares as truncating e6 integer divisions (n_docs >= 1 for every
    emitted source group)."""
    from local_stream_stack_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures_portable,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures_portable(
        d, id_col="doc_id", text_col="text", n_hashes=32,
        shingle_k=3, shingle="word",
    )
    cands = minhash_lsh_candidates(
        sigs, id_col="doc_id", bands=8, rows_per_band=4,
        portable_keys=True,
    )
    dup = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("__isdup", F.lit(1))
    )
    per = (
        d.join(dup, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce("__isdup", F.lit(0))).alias("n_dup"),
        )
    )
    return per.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_dup").cast("bigint").alias("n_near_dup"),
        F.expr("n_dup * 1000000 div n_docs").alias("dup_rate_e6"),
    ).orderBy("source")


_LR_FEATURES = ["x0", "x1", "x2", "x3", "x4"]
_LR_STOP = "('the','a','and','of','is','to','in','it')"


def _logreg_feats_ctes() -> str:
    """DuckDB CTEs building the e4 integer quality features + rule
    label — the same eight-stopword/word-count primitives the gopher
    gate uses, single-scaled so the trainer sums exact BIGINTs."""
    return f"""
    t AS MATERIALIZED (
      SELECT doc_id, source, regexp_extract_all(text, '[^ ]+') AS toks
      FROM documents
    ),
    f AS MATERIALIZED (
      SELECT doc_id, source,
             CAST(10000 AS BIGINT) AS x0,
             CAST(LEAST(len(toks), 25) * 400 AS BIGINT) AS x1,
             CAST(LEAST(len(list_filter(toks,
               x -> lower(x) IN {_LR_STOP})), 2) * 5000 AS BIGINT) AS x2,
             CAST(LEAST(GREATEST(len(toks) - 1000, 0), 200) * 50
               AS BIGINT) AS x3,
             CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE
               COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
                 * 1000 // len(toks) END AS BIGINT) AS x4,
             CASE WHEN len(list_filter(toks, x -> lower(x) IN {_LR_STOP}))
                       >= 2
                   AND len(toks) BETWEEN 25 AND 1000
                  THEN 1 ELSE 0 END AS y
      FROM t
    ),
    nn AS MATERIALIZED (
      SELECT COUNT(*) AS n, COALESCE(SUM(y), 0) AS npos FROM f
    )"""


def _logreg_train_ctes(lrs=None) -> str:
    """Unrolled training rounds: w0 = zeros; per round, the e6 BIGINT
    gradient sums and the double-exact driver update with that
    round's literal learning rate — the same arithmetic
    operators/logreg.py runs, CTE for CTE (python float repr
    round-trips to the identical double in SQL)."""
    from local_stream_stack_spark.operators.logreg import decayed_lrs

    lrs = decayed_lrs() if lrs is None else list(lrs)
    k = len(_LR_FEATURES)
    parts = [
        "w0 AS MATERIALIZED (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w0_{i}" for i in range(k))
        + ")"
    ]
    for r in range(1, len(lrs) + 1):
        lr = lrs[r - 1]
        z_raw = " + ".join(
            f"(w{r-1}_{i} * {c})" for i, c in enumerate(_LR_FEATURES)
        )
        z = f"(CAST({z_raw} AS DOUBLE) / 10000000000.0)"
        p = f"(0.5 + 0.5 * {z} / (2.0 + abs({z})))"
        gsel = ", ".join(
            f"SUM(CAST(FLOOR(({p} - y) * {c} * 100.0 + 0.5) AS BIGINT))"
            f" AS g{r}_{i}"
            for i, c in enumerate(_LR_FEATURES)
        )
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT {gsel} FROM f"
            f" CROSS JOIN w{r-1})"
        )
        wsel = ", ".join(
            # COALESCE/GREATEST: on an empty corpus every delta is 0,
            # matching the trainer's zero-weight early return
            f"w{r-1}_{i} - CAST(FLOOR({lr!r} *"
            f" (CAST(COALESCE(g{r}_{i}, 0) AS DOUBLE) / GREATEST(n, 1))"
            f" + 0.5) AS BIGINT) AS w{r}_{i}"
            for i in range(k)
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT {wsel} FROM g{r}"
            f" CROSS JOIN w{r-1} CROSS JOIN nn)"
        )
    return ",\n".join(parts)


def _quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the oracle's feature CTE: e4 integer features +
    rule label, all from built-in array functions (one scan, zero
    shuffles until the training aggregate)."""
    d = _t(spark, sf_dir, "documents")
    toks = "regexp_extract_all(text, '[^ ]+', 0)"
    sh = f"size(filter({toks}, x -> lower(x) IN {_LR_STOP}))"
    nw = f"size({toks})"
    wc = f"aggregate(transform({toks}, x -> length(x)), 0L, (a, b) -> a + b)"
    return d.select(
        "doc_id",
        "source",
        F.expr("CAST(10000 AS BIGINT)").alias("x0"),
        F.expr(f"CAST(LEAST({nw}, 25) * 400 AS BIGINT)").alias("x1"),
        F.expr(
            f"CAST(LEAST({sh}, 2) * 5000 AS BIGINT)"
        ).alias("x2"),
        F.expr(
            f"CAST(LEAST(GREATEST({nw} - 1000, 0), 200) * 50 AS BIGINT)"
        ).alias("x3"),
        F.expr(
            f"CAST(CASE WHEN {nw} = 0 THEN 0 ELSE"
            f" COALESCE({wc}, 0) * 1000 div {nw} END AS BIGINT)"
        ).alias("x4"),
        F.expr(
            f"CASE WHEN {sh} >= 2 AND {nw} BETWEEN 25 AND 1000"
            " THEN 1 ELSE 0 END"
        ).alias("y"),
    )


@query(
    "quality_classifier_train",
    oracle=f"""
    WITH {_logreg_feats_ctes()},
    {_logreg_train_ctes()}
    SELECT f.feature, f.weight_e6,
           CAST(nn.n AS BIGINT) AS n_docs,
           CAST(nn.npos AS BIGINT) AS n_pos
    FROM (
      SELECT 'x0' AS feature, w12_0 AS weight_e6 FROM w12
      UNION ALL SELECT 'x1', w12_1 FROM w12
      UNION ALL SELECT 'x2', w12_2 FROM w12
      UNION ALL SELECT 'x3', w12_3 FROM w12
      UNION ALL SELECT 'x4', w12_4 FROM w12
    ) f CROSS JOIN nn
    ORDER BY feature
    """,
)
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED document-quality classifier (fasttext-style bootstrap):
    logistic regression on e4 integer text features (bias, capped
    word count, capped stopword hits, excess-length penalty, mean
    word length) with labels from the deterministic gopher-ish
    quality rule — the
    missing trainer next to k-means/PQ/BPE (VERDICT r7 task #8).

    Twelve quasi-gradient rounds (1/r-decayed rate — measured to
    reach ~95-96% rule agreement at sf0.01 AND sf0.1 vs a 72-74%
    majority baseline), each ONE bounded-shuffle moment aggregation
    (k e6-BIGINT gradient sums + a count) with driver-side parameter
    carry — at 100 TB every round ships k numbers per partition,
    never rows. Determinism end to end: features are
    single-scaled integers; the link is the ALGEBRAIC sigmoid
    0.5 + 0.5*z/(2+|z|) (only correctly-rounded IEEE ops — exp() is
    not engine-portable); per-row gradients round ONCE to e6 BIGINTs
    before summing; the driver update replays as plain SQL doubles.
    The oracle unrolls all twelve rounds CTE-for-CTE. Weight recovery
    + python-reference identity pinned in tests/test_logreg.py."""
    from local_stream_stack_spark.operators.logreg import train_logreg_e6

    feats = _quality_features(spark, sf_dir)
    w = train_logreg_e6(feats, _LR_FEATURES, "y")
    tot = feats.agg(
        F.count("*").alias("n_docs"),
        F.expr("COALESCE(SUM(y), 0)").alias("n_pos"),
    )
    rows = spark.createDataFrame(
        [(c, int(wi)) for c, wi in zip(_LR_FEATURES, w)],
        "feature string, weight_e6 long",
    )
    return (
        rows.crossJoin(F.broadcast(tot))
        .select(
            "feature",
            "weight_e6",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
        )
        .orderBy("feature")
    )


@query(
    "quality_classifier_score",
    oracle=f"""
    WITH {_logreg_feats_ctes()},
    {_logreg_train_ctes()},
    scored AS (
      SELECT source, y,
             CASE WHEN (w12_0 * x0) + (w12_1 * x1) + (w12_2 * x2)
                     + (w12_3 * x3) + (w12_4 * x4) >= 0
                  THEN 1 ELSE 0 END AS pred
      FROM f CROSS JOIN w12
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pred) AS BIGINT) AS n_pred_pos,
           CAST(SUM(y) AS BIGINT) AS n_label_pos,
           CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS accuracy_e4
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCORING pass of the trained quality classifier: per source, the
    predicted-keep rate and agreement with the rule labels — the
    curation readout that decides which ingest feeds need manual
    review (a source where the model and the rule disagree is where
    the rule is wrong or the source is weird).

    The decision is the INTEGER compare z_raw >= 0 (e6 weights x e4
    features — no float at the boundary, so engine parity is exact by
    construction). Training reruns inside the query (three bounded
    aggregations, the trainer contract); scoring itself is one
    scan + one partial-agg groupBy on source."""
    from local_stream_stack_spark.operators.logreg import (
        train_logreg_e6,
        z_raw_sql,
    )

    feats = _quality_features(spark, sf_dir).localCheckpoint(eager=True)
    w = train_logreg_e6(
        feats, _LR_FEATURES, "y", materialize_input=False
    )
    scored = feats.select(
        "source",
        "y",
        F.expr(
            f"CASE WHEN {z_raw_sql(w, _LR_FEATURES)} >= 0"
            " THEN 1 ELSE 0 END"
        ).alias("pred"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("pred").cast("bigint").alias("n_pred_pos"),
            F.sum("y").cast("bigint").alias("n_label_pos"),
            F.expr("SUM(CASE WHEN pred = y THEN 1 ELSE 0 END)")
            .cast("bigint")
            .alias("n_correct"),
            F.expr(
                "CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) * 10000"
                " div COUNT(*) AS BIGINT)"
            ).alias("accuracy_e4"),
        )
        .orderBy("source")
    )


@query(
    "embedding_sim_histogram",
    oracle="""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    pairs AS (
      SELECT a.v AS va, b.v AS vb FROM e a JOIN e b
        ON b.vec_id = a.vec_id + 1
      UNION ALL
      SELECT a.v, b.v FROM e a JOIN e b ON b.vec_id = a.vec_id + 17
      UNION ALL
      SELECT a.v, b.v FROM e a JOIN e b ON b.vec_id = a.vec_id + 101
    ),
    scored AS (
      SELECT CAST(ROUND(
               list_reduce(list_transform(generate_series(1, len(va)),
                 i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)),
                 (a, b) -> a + b)
               / (sqrt(list_reduce(list_transform(va,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(vb,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (a, b) -> a + b)))
               * 1000000) AS BIGINT) AS sim_e6
      FROM pairs
      WHERE list_reduce(list_transform(va,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b) > 0
        AND list_reduce(list_transform(vb,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b) > 0
    )
    SELECT CAST((sim_e6 + 1000000) // 100000 AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(sim_e6) AS BIGINT) AS min_sim_e6,
           CAST(MAX(sim_e6) AS BIGINT) AS max_sim_e6
    FROM scored
    GROUP BY 1 ORDER BY bucket
    """,
)
def embedding_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Background-similarity distribution audit: the cosine histogram
    over a DETERMINISTIC sample of vector pairs (three id-stride
    joins: +1, +17, +101 — ~3n pairs at any corpus size, never the
    n^2 cross product). The readout that calibrates every near-dup
    threshold: a threshold inside the background mode's mass flags
    random pairs as duplicates, one far outside misses all of them
    (the deliberately-hard 0.40 threshold in semantic_dedup is chosen
    against exactly this distribution).

    Determinism: each cosine derives from array-ordered float sums
    (same fold order both engines), rounds ONCE to e6, and buckets by
    a SHIFTED integer division ((sim+1e6) div 1e5: operands
    non-negative, so Spark's truncation and DuckDB's floor agree).
    Plan: three equi shuffle joins on computed keys + one partial-agg
    groupBy over 21 buckets — linear scan work, bounded output."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dot = (
        "aggregate(zip_with(va, vb, (x, y) ->"
        " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )

    def norm(col):
        return (
            f"aggregate(transform({col}, x ->"
            " CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        )

    pairs = None
    for stride in (1, 17, 101):
        a = e.select(
            (F.col("vec_id") + stride).alias("__k"),
            F.col("embedding").alias("va"),
        )
        b = e.select(
            F.col("vec_id").alias("__k"), F.col("embedding").alias("vb")
        )
        p = a.join(b, "__k").select("va", "vb")
        pairs = p if pairs is None else pairs.unionByName(p)
    scored = pairs.filter(
        F.expr(f"{norm('va')} > 0 AND {norm('vb')} > 0")
    ).select(
        F.expr(
            f"CAST(ROUND({dot} / (sqrt({norm('va')}) * sqrt({norm('vb')}))"
            " * 1000000) AS BIGINT)"
        ).alias("sim_e6")
    )
    return (
        scored.groupBy(
            F.expr(
                "CAST((sim_e6 + 1000000) div 100000 AS INT)"
            ).alias("bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.min("sim_e6").cast("bigint").alias("min_sim_e6"),
            F.max("sim_e6").cast("bigint").alias("max_sim_e6"),
        )
        .orderBy("bucket")
    )


@query(
    "tokens_retained_after_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             md5(text) AS h,
             len(regexp_extract_all(text, '[^ ]+')) AS n_tokens
      FROM documents
    ),
    keep AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY h)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN doc_id = keep_id THEN n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           CAST(SUM(CASE WHEN doc_id = keep_id THEN n_tokens ELSE 0 END)
                * 1000000 // NULLIF(SUM(n_tokens), 0) AS BIGINT)
             AS retained_share_e6
    FROM d JOIN keep USING (h)
    GROUP BY source
    ORDER BY source
    """,
)
def tokens_retained_after_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI readout: per source, the TOKEN mass retained after
    exact dedup (min-id per content hash) — the number a training-data
    budget actually cares about (docs removed is vanity; tokens
    removed is the compute saved). A source whose token-retention is
    far below its doc-retention is shipping a few huge duplicated
    documents.

    One scan computes hash + token count; one groupBy finds the
    keeper per hash; one partial-agg groupBy per source. The keep
    join is on the content hash (same shuffle key as the dedup
    itself); shares are truncating e6 divisions on non-negative
    integers."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.expr(
            "CAST(size(regexp_extract_all(text, '[^ ]+', 0)) AS BIGINT)"
        ).alias("n_tokens"),
    )
    keep = d.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    j = d.join(keep, "h")
    kept = F.expr("CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_total"),
            F.sum(F.expr(
                "CASE WHEN doc_id = keep_id THEN n_tokens ELSE 0 END"
            )).cast("bigint").alias("tokens_kept"),
            F.expr(
                "CAST(SUM(CASE WHEN doc_id = keep_id THEN n_tokens"
                " ELSE 0 END) * 1000000"
                " div NULLIF(SUM(n_tokens), 0) AS BIGINT)"
            ).alias("retained_share_e6"),
        )
        .orderBy("source")
    )


@query(
    "vocab_novelty_by_source",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT source,
             unnest(regexp_extract_all(lower(trim(text)), '[^ ]+')) AS t
      FROM documents
    ),
    first AS (SELECT t, MIN(source) AS first_source FROM tok GROUP BY t)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN source = first_source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel_types,
           CAST(SUM(CASE WHEN source = first_source THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS novelty_e6
    FROM tok JOIN first USING (t)
    GROUP BY source
    ORDER BY source
    """,
)
def vocab_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-vocabulary curve: per source (in name order), how many
    of its distinct token types no lexicographically-earlier source
    contains — the "what does adding this feed actually buy" readout
    when sources are admitted in a fixed order (a feed with ~zero
    novel types duplicates the corpus it joins).

    One distinct (source, token) explode (partial-aggregated
    scan-side), one min-source groupBy over the type vocabulary, one
    equi join back on the token — all shuffle keys are the token, so
    the heavy relation co-partitions; output is one row per source.
    COUNT(*) per emitted source group is >= 1, so the truncating e6
    share needs no NULL guard."""
    tok = (
        _t(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.expr(
                    "regexp_extract_all(lower(trim(text)), '[^ ]+', 0)"
                )
            ).alias("t"),
        )
        .distinct()
    )
    first = tok.groupBy("t").agg(F.min("source").alias("first_source"))
    novel = F.expr("CASE WHEN source = first_source THEN 1 ELSE 0 END")
    return (
        tok.join(first, "t")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_types"),
            F.sum(novel).cast("bigint").alias("n_novel_types"),
            F.expr(
                "CAST(SUM(CASE WHEN source = first_source THEN 1"
                " ELSE 0 END) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("novelty_e6"),
        )
        .orderBy("source")
    )


@query(
    "quality_classifier_pr_curve",
    oracle=f"""
    WITH {_logreg_feats_ctes()},
    {_logreg_train_ctes()},
    scored AS (
      SELECT y, (w12_0 * x0) + (w12_1 * x1) + (w12_2 * x2)
               + (w12_3 * x3) + (w12_4 * x4) AS z_raw
      FROM f CROSS JOIN w12
    ),
    th AS (
      SELECT unnest([-40, -20, 0, 20, 40]) AS threshold_e9
    )
    SELECT CAST(CAST(threshold_e9 AS BIGINT) * 100000000 AS BIGINT) AS threshold_zraw,
           CAST(SUM(CASE WHEN z_raw >= CAST(threshold_e9 AS BIGINT) * 100000000
                          AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN z_raw >= CAST(threshold_e9 AS BIGINT) * 100000000
                          AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN z_raw < CAST(threshold_e9 AS BIGINT) * 100000000
                          AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN z_raw >= CAST(threshold_e9 AS BIGINT) * 100000000
                          AND y = 1 THEN 1 ELSE 0 END) * 10000
                // NULLIF(SUM(CASE WHEN z_raw >= CAST(threshold_e9 AS BIGINT) * 100000000
                               THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS precision_e4,
           CAST(SUM(CASE WHEN z_raw >= CAST(threshold_e9 AS BIGINT) * 100000000
                          AND y = 1 THEN 1 ELSE 0 END) * 10000
                // NULLIF(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS recall_e4
    FROM scored CROSS JOIN th
    GROUP BY threshold_e9
    ORDER BY threshold_zraw
    """,
)
def quality_classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve of the trained quality classifier at
    five decision thresholds on the raw integer score — the curve a
    curation team reads to pick an operating point (keep-rate vs
    purity) instead of blindly shipping z >= 0.

    Every comparison is an exact BIGINT compare of z_raw against a
    literal threshold (no float at any boundary), counts aggregate in
    one pass over the scored scan crossed with the 5-row threshold
    list, and precision/recall are truncating e4 divisions with NULL
    guards for empty cells. Training reruns inside the query (the
    trainer contract: twelve parameter-sized aggregations)."""
    from local_stream_stack_spark.operators.logreg import (
        train_logreg_e6,
        z_raw_sql,
    )

    feats = _quality_features(spark, sf_dir).localCheckpoint(eager=True)
    w = train_logreg_e6(
        feats, _LR_FEATURES, "y", materialize_input=False
    )
    scored = feats.select(
        "y", F.expr(z_raw_sql(w, _LR_FEATURES)).alias("z_raw")
    )
    th = spark.createDataFrame(
        [(t,) for t in (-40, -20, 0, 20, 40)], "threshold_e9 long"
    )
    hit = "z_raw >= CAST(threshold_e9 AS BIGINT) * 100000000"
    return (
        scored.crossJoin(F.broadcast(th))
        .groupBy("threshold_e9")
        .agg(
            F.expr(
                f"SUM(CASE WHEN {hit} AND y = 1 THEN 1 ELSE 0 END)"
            ).cast("bigint").alias("tp"),
            F.expr(
                f"SUM(CASE WHEN {hit} AND y = 0 THEN 1 ELSE 0 END)"
            ).cast("bigint").alias("fp"),
            F.expr(
                f"SUM(CASE WHEN NOT ({hit}) AND y = 1 THEN 1 ELSE 0 END)"
            ).cast("bigint").alias("fn"),
            F.expr(
                f"CAST(SUM(CASE WHEN {hit} AND y = 1 THEN 1 ELSE 0 END)"
                f" * 10000 div NULLIF(SUM(CASE WHEN {hit} THEN 1"
                " ELSE 0 END), 0) AS BIGINT)"
            ).alias("precision_e4"),
            F.expr(
                f"CAST(SUM(CASE WHEN {hit} AND y = 1 THEN 1 ELSE 0 END)"
                " * 10000 div NULLIF(SUM(CASE WHEN y = 1 THEN 1"
                " ELSE 0 END), 0) AS BIGINT)"
            ).alias("recall_e4"),
        )
        .select(
            F.expr("CAST(CAST(threshold_e9 AS BIGINT) * 100000000 AS BIGINT)").alias(
                "threshold_zraw"
            ),
            "tp", "fp", "fn", "precision_e4", "recall_e4",
        )
        .orderBy("threshold_zraw")
    )


@query(
    "dedup_simhash_hamming",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                    t -> length(t) > 0)) AS t
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS h
      FROM toks
    ),
    bits AS (
      SELECT doc_id, b.b,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, generate_series(0, 59) b(b)
      GROUP BY doc_id, b.b
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS s
      FROM bits GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id, s, c.c AS c, (s >> (15 * c.c)) & 32767 AS ck
      FROM sig, generate_series(0, 3) c(c)
    ),
    ok AS (
      SELECT c, ck FROM chunks GROUP BY c, ck HAVING COUNT(*) <= 64
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.s AS sa, b.s AS sb
      FROM chunks a
      JOIN ok USING (c, ck)
      JOIN chunks b ON a.c = b.c AND a.ck = b.ck
                   AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY id_a, id_b
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash NEAR-DUP PAIRS by Hamming distance <= 3 — the pairing
    stage `dedup_simhash` (fingerprints only) feeds: split each 60-bit
    signature into four 15-bit chunks; by pigeonhole, any pair within
    Hamming 3 shares at least one identical chunk, so candidates are
    EQUI-join bucket collisions (never an all-pairs XOR scan) and the
    exact bit_count verify runs on candidates only.

    Chunk buckets holding > 64 docs are dropped before the self-join
    (the hot_gram_cap discipline: one degenerate bucket otherwise
    emits C(n,2) pairs; the oracle replays the same HAVING). Portable
    md5 token hashes make every stage — tokenize, majority vote,
    signature, chunking, Hamming — bit-identical in both engines.
    One explode + two groupBys + one bucket equi-join; everything
    shuffles on (chunk index, chunk value)."""
    from local_stream_stack_spark.operators.dedup import simhash_portable

    d = _t(spark, sf_dir, "documents")
    # the signature pipeline (tokenize + per-bit majority vote) feeds
    # THREE consumers through `chunks` (bucket counts, both self-join
    # sides) — pin the (doc_id, signature) table once instead of three
    # full tokenize re-executions (guide §5; 2 bigints per doc)
    sig = simhash_portable(
        d, id_col="doc_id", text_col="text"
    ).localCheckpoint(eager=True)
    sig_col = [c for c in sig.columns if c != "doc_id"][0]
    chunks = sig.select(
        "doc_id",
        F.col(sig_col).alias("s"),
        F.explode(
            F.expr(
                "transform(sequence(0, 3), c -> named_struct("
                f"'c', c, 'ck', shiftright({sig_col}, 15 * c) & 32767))"
            )
        ).alias("cc"),
    ).select("doc_id", "s", F.col("cc.c").alias("c"), F.col("cc.ck").alias("ck"))
    ok = (
        chunks.groupBy("c", "ck")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") <= 64)
        .select("c", "ck")
    )
    a = chunks.join(ok, ["c", "ck"]).select(
        "c", "ck", F.col("doc_id").alias("id_a"), F.col("s").alias("sa")
    )
    b = chunks.select(
        "c", "ck", F.col("doc_id").alias("id_b"), F.col("s").alias("sb")
    )
    cand = (
        a.join(b, ["c", "ck"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.expr("CAST(bit_count(sa ^ sb) AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    )


@query(
    "dataset_card_summary",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source, text,
             md5(text) AS h,
             len(regexp_extract_all(text, '[^ ]+')) AS nw,
             COALESCE(list_sum(list_transform(
               regexp_extract_all(text, '[^ ]+'),
               x -> length(x))), 0) AS wc,
             len(list_filter(regexp_extract_all(text, '[^ ]+'),
               x -> lower(x) IN
                 ('the','a','and','of','is','to','in','it'))) AS sh
      FROM documents
    ),
    keep AS (SELECT h, MIN(doc_id) AS keep_id FROM t GROUP BY h),
    g AS (
      SELECT t.*,
             CASE WHEN t.doc_id = keep.keep_id THEN 0 ELSE 1 END
               AS is_dup,
             CASE WHEN nw BETWEEN 25 AND 1000
                   AND wc >= 3 * nw AND wc <= 10 * nw
                   AND sh >= 2 THEN 1 ELSE 0 END AS quality_ok
      FROM t JOIN keep USING (h)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nw) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(is_dup) AS BIGINT) AS n_exact_dups,
           CAST(SUM(is_dup) * 1000000 // NULLIF(COUNT(*), 0)
                AS BIGINT) AS dup_share_e6,
           CAST(SUM(quality_ok) * 1000000 // NULLIF(COUNT(*), 0)
                AS BIGINT) AS quality_keep_e6,
           CAST(SUM(CASE WHEN is_dup = 0 AND quality_ok = 1
                    THEN nw ELSE 0 END) AS BIGINT)
             AS clean_tokens
    FROM g
    """,
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD in one row: corpus size (docs/tokens),
    diversity (languages/sources), exact-duplicate share, quality-rule
    keep rate, and the headline number every training plan starts
    from — CLEAN TOKENS (unique docs passing the quality gate). This
    is the summary a data release publishes and a capacity plan
    consumes; every cell is a composition of the catalog's own
    primitives computed in one pass.

    One scan derives hash + token stats + quality flags; the only
    join is the keeper lookup on the content hash (the exact-dedup
    shuffle); distinct lang/source counts ride the same final
    aggregate. Shares are truncating e6 divisions with a NULLIF
    guard (an empty corpus emits one row of zero counts and NULL
    shares — the ANSI div-by-zero asymmetry rule)."""
    d = _t(spark, sf_dir, "documents")
    toks = "regexp_extract_all(text, '[^ ]+', 0)"
    t = d.select(
        "doc_id",
        "lang",
        "source",
        F.md5("text").alias("h"),
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("nw"),
        F.expr(
            f"COALESCE(aggregate(transform({toks}, x -> length(x)),"
            " 0L, (a, b) -> a + b), 0L)"
        ).alias("wc"),
        F.expr(
            f"size(filter({toks}, x -> lower(x) IN"
            " ('the','a','and','of','is','to','in','it')))"
        ).alias("sh"),
    )
    keep = t.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    g = t.join(keep, "h").select(
        "lang",
        "source",
        "nw",
        F.expr(
            "CASE WHEN doc_id = keep_id THEN 0 ELSE 1 END"
        ).alias("is_dup"),
        F.expr(
            "CASE WHEN nw BETWEEN 25 AND 1000"
            " AND wc >= 3 * nw AND wc <= 10 * nw"
            " AND sh >= 2 THEN 1 ELSE 0 END"
        ).alias("quality_ok"),
    )
    return g.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nw").cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("is_dup").cast("bigint").alias("n_exact_dups"),
        F.expr(
            "CAST(SUM(is_dup) * 1000000 div NULLIF(COUNT(*), 0)"
            " AS BIGINT)"
        ).alias("dup_share_e6"),
        F.expr(
            "CAST(SUM(quality_ok) * 1000000 div NULLIF(COUNT(*), 0)"
            " AS BIGINT)"
        ).alias("quality_keep_e6"),
        F.expr(
            "CAST(SUM(CASE WHEN is_dup = 0 AND quality_ok = 1"
            " THEN nw ELSE 0 END) AS BIGINT)"
        ).alias("clean_tokens"),
    )


@query(
    "fuzzy_join_symspell",
    oracle="""
    WITH v AS (
      SELECT DISTINCT p_name FROM part WHERE length(p_name) >= 1
    ),
    dels AS (
      SELECT DISTINCT p_name AS s,
             unnest(list_distinct(list_append(
               list_transform(generate_series(1, length(p_name)),
                 i -> substr(p_name, 1, i - 1) || substr(p_name, i + 1)),
               p_name))) AS var
      FROM v
    ),
    cand AS (
      SELECT DISTINCT a.s AS name_a, b.s AS name_b
      FROM dels a JOIN dels b ON a.var = b.var AND a.s < b.s
    ),
    pairs AS (
      SELECT name_a, name_b FROM cand
      WHERE levenshtein(name_a, name_b) <= 1
    ),
    counts AS (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n FROM part GROUP BY p_name
    )
    SELECT p.name_a, p.name_b,
           CAST(levenshtein(p.name_a, p.name_b) AS INT) AS edit_dist,
           ca.n AS n_parts_a,
           cb.n AS n_parts_b
    FROM pairs p
    JOIN counts ca ON ca.p_name = p.name_a
    JOIN counts cb ON cb.p_name = p.name_b
    ORDER BY name_a, name_b
    """,
)
def fuzzy_join_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (approximate-string) self-join via the SymSpell
    deletion-neighborhood blocking scheme: every distinct name
    generates its |s|+1 single-deletion variants; two names are
    candidates iff they SHARE a variant (a plain equi-join — this is
    the complete candidate set for edit distance <= 1, since any
    single substitution/insertion/deletion leaves a common deletion
    form), and candidates are verified with the exact Levenshtein
    distance. The entity-resolution primitive Spark has no operator
    for, built all-pairs-free: variant generation is linear in
    n x length, the candidate join runs on near-unique variant keys
    (no hot blocks), and verification touches candidates only — the
    same banded-not-all-pairs discipline as MinHash-LSH, with an
    exact (not probabilistic) guarantee. Output pairs carry per-name
    part counts, the payload an ER pipeline would merge on."""
    part = _t(spark, sf_dir, "part")
    v = part.select("p_name").filter(F.length("p_name") >= 1).distinct()
    dels = v.select(
        F.col("p_name").alias("s"),
        F.explode(
            F.expr(
                "array_distinct(concat(transform(sequence(1, length(p_name)),"
                " i -> concat(substring(p_name, 1, i - 1),"
                " substring(p_name, i + 1, length(p_name)))),"
                " array(p_name)))"
            )
        ).alias("var"),
    ).distinct()
    a = dels.select(F.col("s").alias("name_a"), "var")
    b = dels.select(F.col("s").alias("name_b"), "var")
    cand = (
        a.join(b, "var")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    pairs = cand.filter(F.levenshtein("name_a", "name_b") <= 1)
    counts = part.groupBy("p_name").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        pairs.join(
            F.broadcast(counts.select(F.col("p_name").alias("name_a"),
                                      F.col("n").alias("n_parts_a"))),
            "name_a",
        )
        .join(
            F.broadcast(counts.select(F.col("p_name").alias("name_b"),
                                      F.col("n").alias("n_parts_b"))),
            "name_b",
        )
        .select(
            "name_a", "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("edit_dist"),
            "n_parts_a", "n_parts_b",
        )
        .orderBy("name_a", "name_b")
    )


@query(
    "quality_classifier_reliability",
    oracle=f"""
    WITH {_logreg_feats_ctes()},
    {_logreg_train_ctes()},
    scored AS (
      SELECT y,
             CAST(FLOOR((0.5 + 0.5 * (CAST((w12_0 * x0) + (w12_1 * x1) + (w12_2 * x2) + (w12_3 * x3) + (w12_4 * x4) AS DOUBLE) / 10000000000.0) / (2.0 + abs((CAST((w12_0 * x0) + (w12_1 * x1) + (w12_2 * x2) + (w12_3 * x3) + (w12_4 * x4) AS DOUBLE) / 10000000000.0)))) * 10) AS INT) AS bin,
             CAST(FLOOR((0.5 + 0.5 * (CAST((w12_0 * x0) + (w12_1 * x1) + (w12_2 * x2) + (w12_3 * x3) + (w12_4 * x4) AS DOUBLE) / 10000000000.0) / (2.0 + abs((CAST((w12_0 * x0) + (w12_1 * x1) + (w12_2 * x2) + (w12_3 * x3) + (w12_4 * x4) AS DOUBLE) / 10000000000.0)))) * 1e6 + 0.5) AS BIGINT) AS p_e6
      FROM f CROSS JOIN w12
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(CAST(SUM(y) AS HUGEINT) * 1000000
                // NULLIF(CAST(COUNT(*) AS HUGEINT), 0) AS BIGINT)
             AS obs_rate_e6,
           CAST(SUM(CAST(p_e6 AS HUGEINT))
                // NULLIF(CAST(COUNT(*) AS HUGEINT), 0) AS BIGINT)
             AS avg_pred_e6
    FROM scored
    GROUP BY bin
    ORDER BY bin
    """,
)
def quality_classifier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration reliability diagram for the trained quality
    classifier: predicted keep-probability binned into deciles,
    observed positive rate vs mean predicted probability per bin —
    the eval artifact that says whether the score is usable as a
    PROBABILITY (thresholding strategies, sampling weights) or only
    as a ranking. The probability is the ALGEBRAIC sigmoid (the
    engine's cross-portable link: +,*,/,abs only), each row's p is
    rounded ONCE to an e6 BIGINT before any aggregation, and the
    per-bin averages use the overflow-safe HUGEINT/DECIMAL division
    idiom — integer-exact on both engines at any corpus size.
    Training reruns inside the query (the trainer contract: one
    bounded gradient aggregate per round, driver carries 5 ints)."""
    from local_stream_stack_spark.operators.logreg import (
        p_sql,
        train_logreg_e6,
        z_raw_sql,
    )

    feats = _quality_features(spark, sf_dir).localCheckpoint(eager=True)
    w = train_logreg_e6(
        feats, _LR_FEATURES, "y", materialize_input=False
    )
    p = p_sql(z_raw_sql(w, _LR_FEATURES))
    scored = feats.select(
        "y",
        F.expr(f"CAST(FLOOR({p} * 10) AS INT)").alias("bin"),
        F.expr(f"CAST(FLOOR({p} * 1e6 + 0.5) AS BIGINT)").alias("p_e6"),
    )
    return (
        scored.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.expr(
                "CAST(CAST(SUM(y) AS DECIMAL(38,0)) * 1000000"
                " div NULLIF(COUNT(*), 0) AS BIGINT)"
            ).alias("obs_rate_e6"),
            F.expr(
                "CAST(SUM(CAST(p_e6 AS DECIMAL(38,0)))"
                " div NULLIF(COUNT(*), 0) AS BIGINT)"
            ).alias("avg_pred_e6"),
        )
        .orderBy("bin")
    )


@query(
    "bm25_topk_docs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avglen
      FROM doclen
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY tok
    ),
    qterms AS (
      SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3
    ),
    idf AS (
      SELECT q.tok, q.df,
             CAST(FLOOR(ln((CAST(s.n_docs AS DOUBLE) - q.df + 0.5)
                           / (q.df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)
               AS idf_e6
      FROM qterms q CROSS JOIN stats s
    ),
    tf AS (
      SELECT t.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN qterms q ON t.tok = q.tok
      GROUP BY t.doc_id, t.tok
    ),
    contrib AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               CAST(i.idf_e6 AS DOUBLE) * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * dl.len / s.avglen))
               + 0.5) AS BIGINT) AS c_e6
      FROM tf
      JOIN idf i ON i.tok = tf.tok
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(c_e6) AS BIGINT) AS bm25_e6
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, bm25_e6
    FROM scored
    ORDER BY bm25_e6 DESC, doc_id
    LIMIT 20
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75) against the corpus's own three
    highest-document-frequency terms — the standard lexical ranking
    function a retrieval/curation stack needs next to the TF-IDF and
    embedding tiers. Determinism recipe: the per-term idf (the only
    ln) is rounded ONCE to an e6 BIGINT; each (doc, term)
    contribution is one identical double tree over exact integers
    (tf, len) and the broadcast scalars (avglen — a single division
    of exact integers), rounded once to e6; per-doc scores are then
    INTEGER sums, so partitioning cannot reorder-drift them. Scale:
    tokenize-scan -> two hash aggregates (doclen, df) -> candidate tf
    join against the 3-row broadcast term list -> top-20 via
    TakeOrderedAndProject (never a global window)."""
    d = _t(spark, sf_dir, "documents")
    # the corpus token relation feeds the doclen/df/tf consumers —
    # stage the regex tokenization once instead of re-exploding per
    # consumer (guide §5; same finding as the RM3/minhash staging)
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    ).localCheckpoint(eager=True)
    doclen = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("len")
    )
    stats = doclen.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avglen"),
    )
    df = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    qterms = df.orderBy(F.desc("df"), F.asc("tok")).limit(3)
    idf = qterms.crossJoin(F.broadcast(stats)).select(
        "tok",
        "df",
        F.expr(
            "CAST(FLOOR(ln((CAST(n_docs AS DOUBLE) - df + 0.5)"
            " / (df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)"
        ).alias("idf_e6"),
    )
    tf = (
        tok.join(F.broadcast(qterms.select("tok")), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    contrib = (
        tf.join(F.broadcast(idf.select("tok", "idf_e6")), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats.select("avglen")))
        .select(
            "doc_id",
            F.expr(
                "CAST(FLOOR("
                "CAST(idf_e6 AS DOUBLE) * (tf * 2.2)"
                " / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen))"
                " + 0.5) AS BIGINT)"
            ).alias("c_e6"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c_e6").cast("bigint").alias("bm25_e6"))
        .orderBy(F.desc("bm25_e6"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "proximity_boost_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY tok
    ),
    qterms AS (
      SELECT tok, ROW_NUMBER() OVER (ORDER BY df DESC, tok) AS qi
      FROM df ORDER BY df DESC, tok LIMIT 2
    ),
    pos AS (
      SELECT doc_id, unnest(l) AS tok, unnest(range(len(l))) AS p
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z]+') AS l
            FROM documents) d
    ),
    qpos AS (
      SELECT p.doc_id, q.qi, p.p
      FROM pos p JOIN qterms q ON q.tok = p.tok
    ),
    mind AS (
      SELECT a.doc_id,
             CAST(MIN(ABS(a.p - b.p)) AS BIGINT) AS min_dist
      FROM qpos a JOIN qpos b
        ON b.doc_id = a.doc_id AND a.qi = 1 AND b.qi = 2
      GROUP BY a.doc_id
    ),
    tf AS (
      SELECT t.doc_id, q.qi, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN qterms q ON q.tok = t.tok
      GROUP BY t.doc_id, q.qi
    ),
    base AS (
      SELECT doc_id,
             CAST(SUM(CAST(FLOOR(1e6 * tf / (tf + 1.2) + 0.5) AS BIGINT))
                  AS BIGINT) AS tf_sat_e6
      FROM tf GROUP BY doc_id
    )
    SELECT b.doc_id,
           b.tf_sat_e6,
           CAST(COALESCE(m.min_dist, -1) AS BIGINT) AS min_dist,
           CAST(b.tf_sat_e6
                + COALESCE(CAST(1000000 // (1 + m.min_dist) AS BIGINT), 0)
                AS BIGINT) AS score_e6
    FROM base b LEFT JOIN mind m ON m.doc_id = b.doc_id
    ORDER BY score_e6 DESC, b.doc_id
    LIMIT 20
    """,
)
def proximity_boost_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity-boosted retrieval — term-distance ranking on top of
    the saturated-TF base, the classic phrase-awareness upgrade the
    pure bag-of-words tier (BM25/QLD/PL2/DPH) cannot express: docs
    where the two query terms appear CLOSE together outrank docs that
    merely contain both. The positional index comes from one
    posexplode pass (position = array ordinal, identical on both
    engines); the per-doc minimum pair distance is a self-join of the
    two terms' position lists WITHIN each doc (bounded by per-doc term
    frequency — never a cross-doc product); the boost 1e6/(1+dist) is
    integer division of exact integers. Query terms are the corpus's
    two highest-df tokens (deterministic)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("l"),
    )
    tok = toks.select(
        "doc_id", F.explode("l").alias("tok")
    )
    df = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    # parameter-sized driver collect (2 rows), the iterative-trainer
    # pattern — avoids an ordered global window for the rank
    top2 = df.orderBy(F.desc("df"), F.asc("tok")).limit(2).collect()
    qterms = spark.createDataFrame(
        [(r["tok"], i + 1) for i, r in enumerate(top2)],
        "tok string, qi int",
    )
    pos = toks.select(
        "doc_id", F.posexplode("l").alias("p", "tok")
    )
    qpos = pos.join(F.broadcast(qterms), "tok").select(
        "doc_id", "qi", "p"
    )
    a = qpos.filter(F.col("qi") == 1).select(
        "doc_id", F.col("p").alias("pa")
    )
    b = qpos.filter(F.col("qi") == 2).select(
        "doc_id", F.col("p").alias("pb")
    )
    mind = (
        a.join(b, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.min(F.abs(F.col("pa") - F.col("pb")))
            .cast("bigint")
            .alias("min_dist")
        )
    )
    tf = (
        tok.join(F.broadcast(qterms), "tok")
        .groupBy("doc_id", "qi")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    base = tf.groupBy("doc_id").agg(
        F.sum(
            F.expr("CAST(FLOOR(1e6 * tf / (tf + 1.2) + 0.5) AS BIGINT)")
        )
        .cast("bigint")
        .alias("tf_sat_e6")
    )
    return (
        base.join(mind, "doc_id", "left")
        .select(
            "doc_id",
            "tf_sat_e6",
            F.coalesce(F.col("min_dist"), F.lit(-1))
            .cast("bigint")
            .alias("min_dist"),
            (
                F.col("tf_sat_e6")
                + F.coalesce(
                    F.expr("CAST(1000000 div (1 + min_dist) AS BIGINT)"),
                    F.lit(0),
                )
            )
            .cast("bigint")
            .alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "term_burstiness_top",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, tok
    ),
    g AS (
      SELECT tok,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS s,
             CAST(SUM(tf * tf) AS BIGINT) AS q
      FROM tf GROUP BY tok
    )
    SELECT tok, df, s AS tf_total,
           CAST(FLOOR(CAST(s AS DOUBLE) / df * 1e6 + 0.5) AS BIGINT)
             AS mean_tf_e6,
           CAST(FLOOR(
             ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / df) / (df - 1))
             / (CAST(s AS DOUBLE) / df) * 1e6 + 0.5) AS BIGINT) AS vmr_e6
    FROM g
    WHERE df >= 10 AND s > df
    ORDER BY vmr_e6 DESC, tok
    LIMIT 20
    """,
)
def term_burstiness_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church-Gale): variance-to-mean ratio of a
    term's per-document frequency across the documents that contain
    it — topical/content terms burst (VMR >> 1: absent mostly, heavy
    where present) while function words spread evenly (VMR ~ 1). The
    corpus-linguistics diagnostic behind stopword induction and
    keyword weighting, computed from exact integer moment sums per
    token (df, Σtf, Σtf²) in one tokenize scan + one hash aggregate;
    each output is a single double tree over those integers, rounded
    once to e6. Filtered to df >= 10 and s > df (a term with all
    tf = 1 has zero variance by construction)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    )
    tf = tok.groupBy("doc_id", "tok").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    g = tf.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("s"),
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("q"),
    )
    return (
        g.filter((F.col("df") >= 10) & (F.col("s") > F.col("df")))
        .select(
            "tok",
            "df",
            F.col("s").alias("tf_total"),
            F.expr(
                "CAST(FLOOR(CAST(s AS DOUBLE) / df * 1e6 + 0.5) AS BIGINT)"
            ).alias("mean_tf_e6"),
            F.expr(
                """CAST(FLOOR(
                     ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / df)
                      / (df - 1))
                     / (CAST(s AS DOUBLE) / df) * 1e6 + 0.5) AS BIGINT)"""
            ).alias("vmr_e6"),
        )
        .orderBy(F.desc("vmr_e6"), F.asc("tok"))
        .limit(20)
    )


@query(
    "mutual_info_lang_source",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source
    ),
    rmarg AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY lang),
    cmarg AS (SELECT source, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY source),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
    pmi AS (
      SELECT cl.lang, cl.source, cl.n,
             CAST(FLOOR(ln(CAST(cl.n AS DOUBLE) * t.nn
                           / (CAST(r.r AS DOUBLE) * c.c)) * 1e6 + 0.5)
                  AS BIGINT) AS pmi_e6
      FROM cells cl
      JOIN rmarg r ON r.lang = cl.lang
      JOIN cmarg c ON c.source = cl.source
      CROSS JOIN tot t
    )
    SELECT lang, source, n, pmi_e6,
           CAST(n * pmi_e6 AS BIGINT) AS contrib_e6
    FROM pmi
    ORDER BY lang, source
    """,
)
def mutual_info_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between the language and source
    columns — the dependence screen that says WHICH (lang, source)
    combinations are over/under-represented (chi-square, already in
    the catalog, only says THAT they are dependent). Per-cell PMI
    ln(p_ij/(p_i p_j)) is ONE identical double tree over exact
    integer counts, rounded ONCE to e6 (ln is not cross-engine-stable
    in general; single-rounding before any further arithmetic is the
    engine's portable-transcendental rule), and the cell contribution
    n*pmi is then pure integer — summing the contrib column
    reproduces N * MI(lang; source) * 1e6 deterministically. Scale:
    one partial-agg groupBy to the bounded cell grid; marginals and
    the total are broadcast-sized."""
    d = _t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n")
    )
    rmarg = cells.groupBy("lang").agg(F.sum("n").cast("bigint").alias("r"))
    cmarg = cells.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("c")
    )
    tot = cells.agg(F.sum("n").cast("bigint").alias("nn"))
    pmi = (
        cells.join(F.broadcast(rmarg), "lang")
        .join(F.broadcast(cmarg), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n",
            F.expr(
                "CAST(FLOOR(ln(CAST(n AS DOUBLE) * nn"
                " / (CAST(r AS DOUBLE) * c)) * 1e6 + 0.5) AS BIGINT)"
            ).alias("pmi_e6"),
        )
    )
    return pmi.select(
        "lang",
        "source",
        "n",
        "pmi_e6",
        (F.col("n") * F.col("pmi_e6")).cast("bigint").alias("contrib_e6"),
    ).orderBy("lang", "source")


def _fuzzy_cluster_oracle() -> str:
    head = """
    WITH v AS (
      SELECT DISTINCT p_name FROM part WHERE length(p_name) >= 1
    ),
    dels AS (
      SELECT DISTINCT p_name AS s,
             unnest(list_distinct(list_append(
               list_transform(generate_series(1, length(p_name)),
                 i -> substr(p_name, 1, i - 1) || substr(p_name, i + 1)),
               p_name))) AS var
      FROM v
    ),
    pairs AS (
      SELECT DISTINCT a.s AS na, b.s AS nb
      FROM dels a JOIN dels b ON a.var = b.var AND a.s < b.s
      WHERE levenshtein(a.s, b.s) <= 1
    ),
    edges AS (
      SELECT na AS s, nb AS d FROM pairs
      UNION
      SELECT nb AS s, na AS d FROM pairs
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT s AS n, s AS c FROM edges
    )"""
    rounds = []
    for t in range(1, 9):
        rounds.append(f""",
    l{t} AS MATERIALIZED (
      SELECT n, MIN(c) AS c FROM (
        SELECT n, c FROM l{t-1}
        UNION ALL
        SELECT e.d AS n, l.c
        FROM edges e JOIN l{t-1} l ON l.n = e.s
      ) u GROUP BY n
    )""")
    tail = """,
    counts AS (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS np FROM part GROUP BY p_name
    )
    SELECT l.c AS cluster_rep,
           CAST(COUNT(*) AS BIGINT) AS n_names,
           CAST(SUM(ct.np) AS BIGINT) AS n_parts,
           string_agg(l.n, '|' ORDER BY l.n) AS members
    FROM l8 l JOIN counts ct ON ct.p_name = l.n
    GROUP BY l.c
    ORDER BY cluster_rep
    """
    return head + "".join(rounds) + tail


@query("fuzzy_entity_clusters", oracle=_fuzzy_cluster_oracle())
def fuzzy_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: the SymSpell fuzzy-pair stage
    (`fuzzy_join_symspell`) feeds the distributed min-label
    connected-components operator, collapsing chains of
    edit-distance-1 name variants into canonical clusters (A~B and
    B~C group A,B,C even when A and C are 2 edits apart — the
    transitive closure a pairwise report cannot give). The cluster
    representative is the MINIMUM member name (deterministic on both
    engines); members concatenate sorted. Scale: variant blocking is
    linear, the edge list is candidate-sized, and components state is
    per-node distributed (the same operator behind the dedup
    clusters); the oracle unrolls eight min-label rounds — more than
    the candidate graph's diameter, so both sides are converged."""
    from local_stream_stack_spark.operators.graph import (
        connected_components,
    )

    part = _t(spark, sf_dir, "part")
    v = part.select("p_name").filter(F.length("p_name") >= 1).distinct()
    dels = v.select(
        F.col("p_name").alias("s"),
        F.explode(
            F.expr(
                "array_distinct(concat(transform(sequence(1, length(p_name)),"
                " i -> concat(substring(p_name, 1, i - 1),"
                " substring(p_name, i + 1, length(p_name)))),"
                " array(p_name)))"
            )
        ).alias("var"),
    ).distinct()
    a = dels.select(F.col("s").alias("na"), "var")
    b = dels.select(F.col("s").alias("nb"), "var")
    pairs = (
        a.join(b, "var")
        .filter(F.col("na") < F.col("nb"))
        .select("na", "nb")
        .distinct()
        .filter(F.levenshtein("na", "nb") <= 1)
    )
    comp = connected_components(pairs, src="na", dst="nb")
    counts = part.groupBy("p_name").agg(
        F.count("*").cast("bigint").alias("np")
    )
    return (
        comp.join(
            counts.select(F.col("p_name").alias("node"), "np"), "node"
        )
        .groupBy(F.col("component").alias("cluster_rep"))
        .agg(
            F.count("*").cast("bigint").alias("n_names"),
            F.sum("np").cast("bigint").alias("n_parts"),
            F.concat_ws(
                "|", F.array_sort(F.collect_list("node"))
            ).alias("members"),
        )
        .orderBy("cluster_rep")
    )


@query(
    "qld_topk_docs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ),
    ctot AS (SELECT CAST(SUM(len) AS BIGINT) AS ctot FROM doclen),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
             CAST(COUNT(*) AS BIGINT) AS ctf
      FROM tok GROUP BY tok
    ),
    qterms AS (
      SELECT tok, ctf FROM df ORDER BY df DESC, tok LIMIT 3
    ),
    tf AS (
      SELECT t.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN qterms q ON t.tok = q.tok
      GROUP BY t.doc_id, t.tok
    ),
    cells AS (
      SELECT d.doc_id,
             CAST(FLOOR(ln((COALESCE(f.tf, 0) + 100.0 * q.ctf / c.ctot)
                           / (d.len + 100.0)) * 1e6 + 0.5) AS BIGINT)
               AS s_e6
      FROM doclen d
      CROSS JOIN qterms q
      CROSS JOIN ctot c
      LEFT JOIN tf f ON f.doc_id = d.doc_id AND f.tok = q.tok
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(s_e6) AS BIGINT) AS qld_e6
      FROM cells GROUP BY doc_id
    )
    SELECT doc_id, qld_e6
    FROM scored
    ORDER BY qld_e6 DESC, doc_id
    LIMIT 20
    """,
)
def qld_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (mu=100)
    against the corpus's three highest-df terms — the language-model
    ranking function next to BM25 (`bm25_topk_docs`): every doc scores
    EVERY query term (smoothing gives zero-tf docs mass from the
    collection model), which is the semantic BM25's tf-only candidate
    join cannot express. Determinism: the per-(doc,term) ln argument
    is one double tree over exact integers (tf, ctf, doclen, corpus
    total), the ln is rounded ONCE to e6 (the portable-transcendental
    rule), and per-doc scores are integer sums; top-20 via
    TakeOrderedAndProject. Scale: tokenize-scan -> hash aggregates;
    the all-docs x 3-terms cell grid is linear in docs with a
    broadcast term list."""
    d = _t(spark, sf_dir, "documents")
    # the corpus token relation feeds the doclen/df/tf consumers —
    # stage the regex tokenization once instead of re-exploding per
    # consumer (guide §5; same finding as the RM3/minhash staging)
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    ).localCheckpoint(eager=True)
    doclen = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("len")
    )
    ctot = doclen.agg(F.sum("len").cast("bigint").alias("ctot"))
    df = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df"),
        F.count("*").cast("bigint").alias("ctf"),
    )
    qterms = (
        df.orderBy(F.desc("df"), F.asc("tok"))
        .limit(3)
        .select("tok", "ctf")
    )
    tf = (
        tok.join(F.broadcast(qterms.select("tok")), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    cells = (
        doclen.crossJoin(F.broadcast(qterms))
        .crossJoin(F.broadcast(ctot))
        .join(tf, ["doc_id", "tok"], "left")
        .select(
            "doc_id",
            F.expr(
                "CAST(FLOOR(ln((COALESCE(tf, 0) + 100.0 * ctf / ctot)"
                " / (len + 100.0)) * 1e6 + 0.5) AS BIGINT)"
            ).alias("s_e6"),
        )
    )
    return (
        cells.groupBy("doc_id")
        .agg(F.sum("s_e6").cast("bigint").alias("qld_e6"))
        .orderBy(F.desc("qld_e6"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "rrf_fusion_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avglen
      FROM doclen
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY tok
    ),
    qterms AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3),
    idf AS (
      SELECT q.tok, q.df,
             CAST(FLOOR(ln((CAST(s.n_docs AS DOUBLE) - q.df + 0.5)
                           / (q.df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)
               AS idf_e6
      FROM qterms q CROSS JOIN stats s
    ),
    tf AS (
      SELECT t.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN qterms q ON t.tok = q.tok
      GROUP BY t.doc_id, t.tok
    ),
    bm AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(FLOOR(
               CAST(i.idf_e6 AS DOUBLE) * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / s.avglen))
               + 0.5) AS BIGINT)) AS BIGINT) AS bm25_e6
      FROM tf
      JOIN idf i ON i.tok = tf.tok
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25_e6 DESC, doc_id) AS rk
      FROM bm
      ORDER BY bm25_e6 DESC, doc_id LIMIT 100
    ),
    qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id AS doc_id,
             ROUND(list_reduce(list_transform(generate_series(1, len(q.v)),
                     i -> CAST(q.v[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                   (a, b) -> a + b)
               / (sqrt(list_reduce(list_transform(q.v,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b))
                * sqrt(list_reduce(list_transform(e.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b))),
               6) AS cosine_sim
      FROM embeddings e CROSS JOIN qv q
      WHERE e.vec_id <> 0
    ),
    sem AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine_sim DESC, doc_id) AS rk
      FROM cos
      ORDER BY cosine_sim DESC, doc_id LIMIT 100
    ),
    fused AS (
      SELECT doc_id, CAST(SUM(1000000 // (60 + rk)) AS BIGINT) AS rrf_score,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem) u
      GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_lists
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT 20
    """,
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the lexical and semantic rankers —
    the standard hybrid-retrieval combiner: BM25's top-100 (corpus
    top-df terms) fused with the top-100 cosine neighbors of query
    vector 0 via score = sum(1e6 // (60 + rank)), an exact integer, so
    fusion is order-stable across engines. Rank assignment on the
    Spark side never uses an ordered-global window: each top-100 list
    ranks itself by a 100x100 broadcast self-join count (cheap,
    bounded, audit-clean); DuckDB replays with ROW_NUMBER. Scale: both
    rankers are the registered scale shapes; the fusion stage is
    constant-size."""
    from local_stream_stack_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    d = _t(spark, sf_dir, "documents")
    # the corpus token relation feeds the doclen/df/tf consumers —
    # stage the regex tokenization once instead of re-exploding per
    # consumer (guide §5; same finding as the RM3/minhash staging)
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    ).localCheckpoint(eager=True)
    doclen = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("len")
    )
    stats = doclen.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avglen"),
    )
    df = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    qterms = df.orderBy(F.desc("df"), F.asc("tok")).limit(3)
    idf = qterms.crossJoin(F.broadcast(stats)).select(
        "tok",
        F.expr(
            "CAST(FLOOR(ln((CAST(n_docs AS DOUBLE) - df + 0.5)"
            " / (df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)"
        ).alias("idf_e6"),
    )
    tf = (
        tok.join(F.broadcast(qterms.select("tok")), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    bm = (
        tf.join(F.broadcast(idf), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats.select("avglen")))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "CAST(FLOOR("
                    "CAST(idf_e6 AS DOUBLE) * (tf * 2.2)"
                    " / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen))"
                    " + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("bm25_e6")
        )
    )
    lex100 = bm.orderBy(F.desc("bm25_e6"), F.asc("doc_id")).limit(100)

    e = _t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0)
    cos = cosine_topk_bruteforce(
        queries=qv,
        corpus=e,
        query_id="vec_id",
        corpus_id="vec_id",
        query_vec="embedding",
        corpus_vec="embedding",
        k=101,
        round_dp=6,
    ).filter(F.col("corpus_id") != F.col("query_id"))
    sem100 = (
        cos.select(
            F.col("corpus_id").alias("doc_id"),
            F.col("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("doc_id"))
        .limit(100)
    )

    def rank_small(df_, score_col):
        a = df_.select(
            F.col("doc_id").alias("__id"), F.col(score_col).alias("__s")
        )
        b = df_.select(
            F.col("doc_id").alias("__id2"), F.col(score_col).alias("__s2")
        )
        return (
            a.crossJoin(F.broadcast(b))
            .groupBy("__id")
            .agg(
                (
                    F.sum(
                        F.expr(
                            "CASE WHEN __s2 > __s"
                            " OR (__s2 = __s AND __id2 < __id)"
                            " THEN 1 ELSE 0 END"
                        )
                    )
                    + 1
                )
                .cast("bigint")
                .alias("rk")
            )
            .select(F.col("__id").alias("doc_id"), "rk")
        )

    ranked = rank_small(lex100, "bm25_e6").unionByName(
        rank_small(sem100, "cosine_sim")
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.sum(F.expr("1000000 div (60 + rk)"))
            .cast("bigint")
            .alias("rrf_score"),
            F.count("*").cast("bigint").alias("n_lists"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "multimodal_bmp_decode",
    oracle="""
    WITH f24 AS (
      SELECT d.doc_id,
             (d.doc_id + 3 * x.x + 7 * y.y) % 256 AS r,
             (d.doc_id * 5 + x.x) % 256 AS g,
             (d.doc_id * 11 + 2 * y.y) % 256 AS b
      FROM documents d,
           generate_series(0, 7) x(x),
           generate_series(0, 4) y(y)
      WHERE x.x < 3 + d.doc_id % 5 AND y.y < 2 + d.doc_id % 3
    ),
    frle AS (
      SELECT d.doc_id,
             ((d.doc_id * 19 + 5 * x.x + 7 * y.y) % 16 * 13) % 256 AS r,
             ((d.doc_id * 19 + 5 * x.x + 7 * y.y) % 16 * 29) % 256 AS g,
             ((d.doc_id * 19 + 5 * x.x + 7 * y.y) % 16 * 7 + 3) % 256 AS b
      FROM documents d,
           generate_series(0, 5) x(x),
           generate_series(0, 4) y(y)
      WHERE x.x < 4 + d.doc_id % 3 AND y.y < 3 + d.doc_id % 2
    ),
    px AS (SELECT * FROM f24 UNION ALL SELECT * FROM frle)
    SELECT doc_id,
           CAST(2 AS INT) AS n_images,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(MIN(r) AS INT) AS r_min,
           CAST(MAX(r) AS INT) AS r_max
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes BMP decode end to end: per doc a 24-bit BMP
    (bottom-up rows, 4-byte padding, BGR order — doc-varying dims so
    padded and pad-free strides both occur) AND an 8-bit RLE8 BMP
    (an actual run-length decompression: runs, end-of-line /
    end-of-bitmap escapes, word-aligned absolute mode — the codec in
    ``operators/bmp.py``, hand-crafted-stream-pinned in
    tests/test_bmp.py including the delta jumps the encoder never
    emits) are encoded and decoded inside one Arrow-batched
    mapInPandas pass. BMP is lossless, so the oracle recomputes the
    decoded channel statistics purely arithmetically from the
    closed-form pixel formulas — a defect in stride, row order,
    channel swap, palette lookup, or RLE reassembly breaks the sums.
    Same fan-out note as JPEG/GIF: the id column is repartitioned
    because the testdata table is one small file."""
    def per_doc(bmp, did):
        w1, h1 = 3 + did % 5, 2 + did % 3
        rgb = bytes(
            v
            for y in range(h1)
            for x in range(w1)
            for v in (
                (did + 3 * x + 7 * y) % 256,
                (did * 5 + x) % 256,
                (did * 11 + 2 * y) % 256,
            )
        )
        w2, h2 = 4 + did % 3, 3 + did % 2
        idx = bytes(
            (did * 19 + 5 * x + 7 * y) % 16
            for y in range(h2)
            for x in range(w2)
        )
        a = bmp.decode_image_bmp(bmp.encode_bmp24(w1, h1, rgb))
        b = bmp.decode_image_bmp(bmp.encode_bmp_rle8(w2, h2, idx, _PALETTE16))
        yield sum_image_stats(a, b)

    return decoded_stats_query(
        spark,
        sf_dir,
        "bmp",
        "doc_id bigint, n_images int, n_px bigint, r_sum bigint,"
        " g_sum bigint, b_sum bigint, r_min int, r_max int",
        per_doc,
        fan_out=True,
    )


@query(
    "cramers_v_lang_source",
    oracle="""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS n_obs
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT SUM(n_obs) AS nt,
             COUNT(DISTINCT lang) AS nl,
             COUNT(DISTINCT source) AS ns
      FROM cells
    ),
    grid AS (
      SELECT l.lang, s.source, COALESCE(c.n_obs, 0) AS n_obs
      FROM (SELECT DISTINCT lang FROM cells) l
      CROSS JOIN (SELECT DISTINCT source FROM cells) s
      LEFT JOIN cells c ON c.lang = l.lang AND c.source = s.source
    ),
    rc AS (
      SELECT lang, source, n_obs,
             SUM(n_obs) OVER (PARTITION BY lang) AS rl,
             SUM(n_obs) OVER (PARTITION BY source) AS cs
      FROM grid
    ),
    c2 AS (
      SELECT CAST(ROUND(1000000.0
               * CAST(n_obs * nt - rl * cs AS DOUBLE)
               * CAST(n_obs * nt - rl * cs AS DOUBLE)
               / (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)
                  * CAST(nt AS DOUBLE))) AS BIGINT) AS contrib_e6,
             nt, nl, ns
      FROM rc CROSS JOIN tot
    ),
    s AS (
      SELECT CAST(MAX(nt) AS BIGINT) AS n,
             CAST(MAX(nl) AS BIGINT) AS nl,
             CAST(MAX(ns) AS BIGINT) AS ns,
             CAST(SUM(contrib_e6) AS BIGINT) AS chi2_e6
      FROM c2
    )
    SELECT n, nl, ns,
           CAST((nl - 1) * (ns - 1) AS BIGINT) AS dof,
           chi2_e6,
           CASE WHEN n > 0 AND LEAST(nl, ns) > 1 THEN
             CAST(FLOOR(SQRT(
               CAST(chi2_e6 AS DOUBLE) / 1e6
               / (CAST(n AS DOUBLE) * (LEAST(nl, ns) - 1.0)))
               * 1e6 + 0.5) AS BIGINT)
           END AS v_e6,
           CASE WHEN n > 1 AND LEAST(
                  nl - (CAST(nl AS DOUBLE) - 1.0) * (nl - 1.0) / (n - 1.0),
                  ns - (CAST(ns AS DOUBLE) - 1.0) * (ns - 1.0) / (n - 1.0)) > 1.0 THEN
             CAST(FLOOR(SQRT(
               GREATEST(0.0, CAST(chi2_e6 AS DOUBLE) / 1e6 / n
                 - (CAST(nl AS DOUBLE) - 1.0) * (ns - 1.0) / (n - 1.0))
               / (LEAST(
                    nl - (CAST(nl AS DOUBLE) - 1.0) * (nl - 1.0) / (n - 1.0),
                    ns - (CAST(ns AS DOUBLE) - 1.0) * (ns - 1.0) / (n - 1.0)) - 1.0))
               * 1e6 + 0.5) AS BIGINT)
           END AS v_corrected_e6
    FROM s
    """,
)
def cramers_v_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the lang × source contingency table
    — the normalized companion of `chisq_lang_source` (χ² grows with
    n; V ∈ [0,1] is what a corpus-balance dashboard actually compares
    across corpora), plus the Bergsma bias-corrected V that shrinks
    the small-table inflation. Both derive from the SAME
    integer-summed per-cell contribution used by the chi-square query
    (each cell rounds (O·N − R·C)²/(R·C·N) once to an e6 BIGINT, the
    statistic is their order-independent integer sum), so V's only
    doubles are one shared expression tree over five integers,
    rounded once to e6. Scale: one partial+final hash aggregate to
    the parameter-sized cells relation; everything after is bounded
    by |langs|×|sources|."""
    d = _t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("n_obs"))
    tot = cells.agg(
        F.sum("n_obs").alias("nt"),
        F.countDistinct("lang").alias("nl"),
        F.countDistinct("source").alias("ns"),
    )
    # Complete the lang × source grid (ADVICE r10): zero-count cells
    # contribute R·C/N each; omitting them understates χ²/V. Bounded
    # by |langs| × |sources| — a parameter-sized relation.
    grid = (
        cells.select("lang")
        .distinct()
        .crossJoin(F.broadcast(cells.select("source").distinct()))
        .join(cells, ["lang", "source"], "left")
        .withColumn("n_obs", F.coalesce(F.col("n_obs"), F.lit(0)))
    )
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    rc = (
        grid.withColumn("rl", F.sum("n_obs").over(wl))
        .withColumn("cs", F.sum("n_obs").over(ws))
        .crossJoin(F.broadcast(tot))
    )
    c2 = rc.select(
        F.expr(
            """CAST(ROUND(1000000.0
                 * CAST(n_obs * nt - rl * cs AS DOUBLE)
                 * CAST(n_obs * nt - rl * cs AS DOUBLE)
                 / (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)
                    * CAST(nt AS DOUBLE))) AS BIGINT)"""
        ).alias("contrib_e6"),
        "nt",
        "nl",
        "ns",
    )
    s = c2.agg(
        F.max("nt").cast("bigint").alias("n"),
        F.max("nl").cast("bigint").alias("nl"),
        F.max("ns").cast("bigint").alias("ns"),
        F.sum("contrib_e6").cast("bigint").alias("chi2_e6"),
    )
    return s.select(
        "n",
        "nl",
        "ns",
        F.expr("CAST((nl - 1) * (ns - 1) AS BIGINT)").alias("dof"),
        "chi2_e6",
        F.expr(
            """CASE WHEN n > 0 AND LEAST(nl, ns) > 1 THEN
                 CAST(FLOOR(SQRT(
                   CAST(chi2_e6 AS DOUBLE) / 1e6
                   / (CAST(n AS DOUBLE) * (LEAST(nl, ns) - 1.0)))
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("v_e6"),
        F.expr(
            """CASE WHEN n > 1 AND LEAST(
                      nl - (CAST(nl AS DOUBLE) - 1.0) * (nl - 1.0) / (n - 1.0),
                      ns - (CAST(ns AS DOUBLE) - 1.0) * (ns - 1.0) / (n - 1.0)) > 1.0 THEN
                 CAST(FLOOR(SQRT(
                   GREATEST(0.0, CAST(chi2_e6 AS DOUBLE) / 1e6 / n
                     - (CAST(nl AS DOUBLE) - 1.0) * (ns - 1.0) / (n - 1.0))
                   / (LEAST(
                        nl - (CAST(nl AS DOUBLE) - 1.0) * (nl - 1.0) / (n - 1.0),
                        ns - (CAST(ns AS DOUBLE) - 1.0) * (ns - 1.0) / (n - 1.0)) - 1.0))
                   * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("v_corrected_e6"),
    )


@query(
    "js_divergence_sources",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    tok_f AS (SELECT source, tok FROM toks WHERE length(tok) > 0),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM tok_f GROUP BY tok
        ORDER BY n DESC, tok LIMIT 500
      ) v
    ),
    corpus AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cn FROM tok_f
      WHERE tok IN (SELECT tok FROM vocab) GROUP BY tok
    ),
    corpus_tot AS (SELECT CAST(SUM(cn) AS BIGINT) AS ct FROM corpus),
    per_src AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS sn FROM tok_f
      WHERE tok IN (SELECT tok FROM vocab) GROUP BY source, tok
    ),
    src_tot AS (
      SELECT source, CAST(SUM(sn) AS BIGINT) AS st FROM per_src
      GROUP BY source
    ),
    grid AS (
      SELECT t.source, t.st, c.tok, c.cn,
             COALESCE(p.sn, 0) AS sn, ct.ct
      FROM src_tot t
      CROSS JOIN corpus c
      CROSS JOIN corpus_tot ct
      LEFT JOIN per_src p ON p.source = t.source AND p.tok = c.tok
    ),
    terms AS (
      SELECT source,
             CAST(ROUND((
               CASE WHEN sn > 0 AND ct > st THEN
                 0.5 * (CAST(sn AS DOUBLE) / st)
                 * LN((CAST(sn AS DOUBLE) / st)
                      / (0.5 * (CAST(sn AS DOUBLE) / st)
                         + 0.5 * (CAST(cn - sn AS DOUBLE) / (ct - st))))
               ELSE 0.0 END
               +
               CASE WHEN cn > sn AND ct > st THEN
                 0.5 * (CAST(cn - sn AS DOUBLE) / (ct - st))
                 * LN((CAST(cn - sn AS DOUBLE) / (ct - st))
                      / (0.5 * (CAST(sn AS DOUBLE) / st)
                         + 0.5 * (CAST(cn - sn AS DOUBLE) / (ct - st))))
               ELSE 0.0 END) * 1e9) AS BIGINT) AS contrib_e9
      FROM grid
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(contrib_e9) AS BIGINT) AS jsd_e9
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's token
    distribution and the REST of the corpus over the deterministic
    top-500 vocabulary — the symmetric, bounded (≤ ln 2) member of
    the drift family (`token_drift_kl` is asymmetric and unbounded;
    JSD is what a mixing dashboard thresholds on because 'slice vs
    rest' and 'rest vs slice' agree). The rest-distribution is the
    exact complement (cn − sn)/(ct − st), so one tokenize scan feeds
    everything; the source × vocab grid (|sources| × 500) left-joins
    the per-source counts so zero-count terms contribute their q-side
    mass. Each grid term rounds once to an e9 BIGINT and the
    statistic is the order-independent integer sum — no
    float-summation drift. Scale: tokenize scan → two bounded
    groupBys; grid is parameter-sized."""
    d = _t(spark, sf_dir, "documents")
    tok_f = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "tok"
        ),
    ).filter(F.length("tok") > 0)
    vocab = (
        tok_f.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(500)
        .select("tok")
    )
    in_vocab = tok_f.join(F.broadcast(vocab), "tok")
    corpus = in_vocab.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("cn")
    )
    corpus_tot = corpus.agg(F.sum("cn").cast("bigint").alias("ct"))
    per_src = in_vocab.groupBy("source", "tok").agg(
        F.count("*").cast("bigint").alias("sn")
    )
    src_tot = per_src.groupBy("source").agg(
        F.sum("sn").cast("bigint").alias("st")
    )
    grid = (
        src_tot.crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(corpus_tot))
        .join(F.broadcast(per_src), ["source", "tok"], "left")
        .select(
            "source",
            "st",
            "cn",
            "ct",
            F.coalesce(F.col("sn"), F.lit(0)).cast("bigint").alias("sn"),
        )
    )
    terms = grid.select(
        "source",
        F.expr(
            """CAST(ROUND((
                 CASE WHEN sn > 0 AND ct > st THEN
                   0.5 * (CAST(sn AS DOUBLE) / st)
                   * LN((CAST(sn AS DOUBLE) / st)
                        / (0.5 * (CAST(sn AS DOUBLE) / st)
                           + 0.5 * (CAST(cn - sn AS DOUBLE) / (ct - st))))
                 ELSE 0.0 END
                 +
                 CASE WHEN cn > sn AND ct > st THEN
                   0.5 * (CAST(cn - sn AS DOUBLE) / (ct - st))
                   * LN((CAST(cn - sn AS DOUBLE) / (ct - st))
                        / (0.5 * (CAST(sn AS DOUBLE) / st)
                           + 0.5 * (CAST(cn - sn AS DOUBLE) / (ct - st))))
                 ELSE 0.0 END) * 1e9) AS BIGINT)"""
        ).alias("contrib_e9"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sum("contrib_e9").cast("bigint").alias("jsd_e9"),
        )
        .orderBy("source")
    )


@query(
    "rm3_expanded_retrieval",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avglen
      FROM doclen
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY tok
    ),
    qterms AS (
      SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3
    ),
    idf AS (
      SELECT q.tok,
             CAST(FLOOR(ln((CAST(s.n_docs AS DOUBLE) - q.df + 0.5)
                           / (q.df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)
               AS idf_e6
      FROM qterms q CROSS JOIN stats s
    ),
    tf AS (
      SELECT t.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN qterms q ON t.tok = q.tok
      GROUP BY t.doc_id, t.tok
    ),
    contrib AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               CAST(i.idf_e6 AS DOUBLE) * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * dl.len / s.avglen))
               + 0.5) AS BIGINT) AS c_e6
      FROM tf
      JOIN idf i ON i.tok = tf.tok
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    fb AS (
      SELECT doc_id, CAST(SUM(c_e6) AS BIGINT) AS bm25_e6
      FROM contrib GROUP BY doc_id
      ORDER BY bm25_e6 DESC, doc_id
      LIMIT 10
    ),
    fbtf AS (
      SELECT t.tok,
             CAST(SUM((cnt * 1000000000) // dl.len) AS BIGINT) AS rm_e9
      FROM (
        SELECT f.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok t JOIN fb f ON f.doc_id = t.doc_id
        GROUP BY f.doc_id, t.tok
      ) t
      JOIN doclen dl ON dl.doc_id = t.doc_id
      GROUP BY t.tok
    ),
    rmtot AS (SELECT CAST(SUM(rm_e9) AS BIGINT) AS tot FROM fbtf),
    weights AS (
      SELECT COALESCE(r.tok, q.tok) AS tok,
             CAST(((CASE WHEN q.tok IS NOT NULL THEN 333333333 ELSE 0 END)
                   + COALESCE(CAST((CAST(r.rm_e9 AS HUGEINT) * 1000000000)
                                   // NULLIF(CAST(m.tot AS HUGEINT), 0)
                                   AS BIGINT), 0))
                  // 2 AS BIGINT) AS w_e9
      FROM fbtf r
      FULL JOIN qterms q ON q.tok = r.tok
      CROSS JOIN rmtot m
    ),
    exp_terms AS (
      SELECT tok, w_e9 FROM weights ORDER BY w_e9 DESC, tok LIMIT 10
    ),
    idf2 AS (
      SELECT e.tok, e.w_e9,
             CAST(FLOOR(ln((CAST(s.n_docs AS DOUBLE) - d.df + 0.5)
                           / (d.df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)
               AS idf_e6
      FROM exp_terms e
      JOIN df d ON d.tok = e.tok
      CROSS JOIN stats s
    ),
    tf2 AS (
      SELECT t.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN exp_terms e ON t.tok = e.tok
      GROUP BY t.doc_id, t.tok
    ),
    contrib2 AS (
      SELECT tf2.doc_id,
             CAST(i.w_e9 * CAST(FLOOR(
               CAST(i.idf_e6 AS DOUBLE) * (tf2.tf * 2.2)
               / (tf2.tf + 1.2 * (1.0 - 0.75
                                  + 0.75 * dl.len / s.avglen))
               + 0.5) AS BIGINT) AS BIGINT) AS wc
      FROM tf2
      JOIN idf2 i ON i.tok = tf2.tok
      JOIN doclen dl ON dl.doc_id = tf2.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id, CAST(SUM(wc) AS BIGINT) AS rm3_e15
    FROM contrib2 GROUP BY doc_id
    ORDER BY rm3_e15 DESC, doc_id
    LIMIT 10
    """,
)
def rm3_expanded_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance feedback — the query-expansion member of
    the retrieval family (`bm25_topk_docs` is the first pass; RM3 is
    what production rankers actually run on top: take the top-10
    feedback docs, estimate a relevance language model from them,
    interpolate it 50/50 with the original query, and rescore with
    the expanded 10-term query). Determinism: the relevance model is
    built from integer rationals — each (doc, term) contributes
    FLOOR(tf·1e9 / len) (truncating division on non-negative
    BIGINTs), the model normalizes by integer division against its
    integer total, and the RM3 interpolation ((orig + rm) div 2) and
    final weighted scores (w_e9 × the e6 BM25 contribution integer)
    never leave BIGINT; the only doubles are the idf/BM25 trees
    already proven in `bm25_topk_docs`, each rounded once. Scale: two
    bounded passes over the token relation (first pass = 3-term
    probe, second = 10-term probe), feedback set and term lists are
    broadcast-sized, top-k via TakeOrderedAndProject."""
    d = _t(spark, sf_dir, "documents")
    # the corpus token relation feeds FIVE consumers (doclen, df, both
    # probe tf passes, the feedback language model) — stage the regex
    # tokenization once instead of five explode re-executions
    # (guide §5; regex split over full text is the dominant per-pass
    # cost, same finding as the repetition/minhash staging)
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    ).localCheckpoint(eager=True)
    doclen = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("len")
    )
    stats = doclen.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avglen"),
    )
    df = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    qterms = df.orderBy(F.desc("df"), F.asc("tok")).limit(3)
    idf = qterms.crossJoin(F.broadcast(stats)).select(
        "tok",
        F.expr(
            "CAST(FLOOR(ln((CAST(n_docs AS DOUBLE) - df + 0.5)"
            " / (df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)"
        ).alias("idf_e6"),
    )
    tf = (
        tok.join(F.broadcast(qterms.select("tok")), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    contrib = (
        tf.join(F.broadcast(idf), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats.select("avglen")))
        .select(
            "doc_id",
            F.expr(
                "CAST(FLOOR("
                "CAST(idf_e6 AS DOUBLE) * (tf * 2.2)"
                " / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen))"
                " + 0.5) AS BIGINT)"
            ).alias("c_e6"),
        )
    )
    fb = (
        contrib.groupBy("doc_id")
        .agg(F.sum("c_e6").cast("bigint").alias("bm25_e6"))
        .orderBy(F.desc("bm25_e6"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id")
    )
    fbtf = (
        tok.join(F.broadcast(fb), "doc_id")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .join(doclen, "doc_id")
        .groupBy("tok")
        .agg(
            F.sum(F.expr("(cnt * 1000000000) div len"))
            .cast("bigint")
            .alias("rm_e9")
        )
    )
    rmtot = fbtf.agg(F.sum("rm_e9").cast("bigint").alias("tot"))
    weights = (
        fbtf.join(
            qterms.select("tok").withColumn("is_q", F.lit(1)),
            "tok",
            "full_outer",
        )
        .crossJoin(F.broadcast(rmtot))
        .select(
            "tok",
            F.expr(
                # rm_e9 can reach ~1e10 (a token dominating all 10
                # feedback docs); ×1e9 overflows BIGINT, so the product
                # routes through DECIMAL(38,0) / HUGEINT on both
                # engines (ADVICE r10) — same idiom as vocab coverage.
                """CAST(((CASE WHEN is_q IS NOT NULL THEN 333333333 ELSE 0 END)
                     + COALESCE(CAST(CAST(rm_e9 AS DECIMAL(38,0)) * 1000000000
                                     div NULLIF(tot, 0) AS BIGINT), 0))
                    div 2 AS BIGINT)"""
            ).alias("w_e9"),
        )
    )
    exp_terms = weights.orderBy(F.desc("w_e9"), F.asc("tok")).limit(10)
    idf2 = (
        exp_terms.join(df, "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "tok",
            "w_e9",
            F.expr(
                "CAST(FLOOR(ln((CAST(n_docs AS DOUBLE) - df + 0.5)"
                " / (df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)"
            ).alias("idf_e6"),
        )
    )
    tf2 = (
        tok.join(F.broadcast(exp_terms.select("tok")), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    contrib2 = (
        tf2.join(F.broadcast(idf2), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats.select("avglen")))
        .select(
            "doc_id",
            F.expr(
                "CAST(w_e9 * CAST(FLOOR("
                "CAST(idf_e6 AS DOUBLE) * (tf * 2.2)"
                " / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen))"
                " + 0.5) AS BIGINT) AS BIGINT)"
            ).alias("wc"),
        )
    )
    return (
        contrib2.groupBy("doc_id")
        .agg(F.sum("wc").cast("bigint").alias("rm3_e15"))
        .orderBy(F.desc("rm3_e15"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "multimodal_qoi_decode",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             (d.doc_id + 2 * (x.x // 2) + 3 * y.y) % 256 AS r,
             (d.doc_id + 2 * (x.x // 2) + 3 * y.y + x.x % 3) % 256 AS g,
             (d.doc_id * 7 + 3 * y.y + 5) % 256 AS b
      FROM documents d,
           generate_series(0, 6) x(x),
           generate_series(0, 4) y(y)
      WHERE x.x < 4 + d.doc_id % 4 AND y.y < 3 + d.doc_id % 3
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(255 * COUNT(*) AS BIGINT) AS a_sum,
           CAST(MIN(r) AS INT) AS r_min,
           CAST(MAX(r) AS INT) AS r_max
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_qoi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes QOI decode end to end: per doc a patterned RGB image
    (doc-varying dims; paired-x / small-green-offset / row-gradient
    formulas so the encoder emits runs, index hits, DIFF and LUMA ops,
    not just literals) is encoded and decoded through the full QOI
    codec (``operators/qoi.py`` — rolling 64-slot hash index, wrapping
    2-bit/6-bit diffs, biased runs, end marker; every op pinned
    against hand-assembled spec streams in tests/test_qoi.py) inside
    one Arrow-batched mapInPandas pass. QOI is lossless, so the
    oracle recomputes the decoded channel statistics purely
    arithmetically from the closed-form pixel formulas — a defect in
    run bias, index hashing, or wrap arithmetic breaks the sums. Same
    fan-out note as JPEG/GIF/BMP: the id column is repartitioned
    because the testdata table is one small file."""
    def per_doc(qoi, did):
        w, h = 4 + did % 4, 3 + did % 3
        rgb = bytes(
            v
            for y in range(h)
            for x in range(w)
            for v in (
                (did + 2 * (x // 2) + 3 * y) % 256,
                (did + 2 * (x // 2) + 3 * y + x % 3) % 256,
                (did * 7 + 3 * y + 5) % 256,
            )
        )
        yield qoi.decode_qoi(qoi.encode_qoi(w, h, rgb, channels=3))

    return decoded_stats_query(
        spark,
        sf_dir,
        "qoi",
        "doc_id bigint, n_px bigint, r_sum bigint, g_sum bigint,"
        " b_sum bigint, a_sum bigint, r_min int, r_max int",
        per_doc,
        fan_out=True,
    )


@query(
    "multimodal_tga_decode",
    oracle="""
    WITH f2 AS (
      SELECT d.doc_id,
             (d.doc_id + 4 * x.x + 9 * y.y) % 256 AS r,
             (d.doc_id * 3 + y.y) % 256 AS g,
             (d.doc_id * 13 + 2 * x.x) % 256 AS b
      FROM documents d,
           generate_series(0, 7) x(x),
           generate_series(0, 5) y(y)
      WHERE x.x < 3 + d.doc_id % 5 AND y.y < 2 + d.doc_id % 4
    ),
    f10 AS (
      SELECT d.doc_id,
             ((d.doc_id + x.x // 3 + 2 * y.y) * 17) % 256 AS r,
             ((d.doc_id + x.x // 3 + 2 * y.y) * 23 + 1) % 256 AS g,
             ((d.doc_id + x.x // 3 + 2 * y.y) * 5 + 9) % 256 AS b
      FROM documents d,
           generate_series(0, 6) x(x),
           generate_series(0, 4) y(y)
      WHERE x.x < 4 + d.doc_id % 3 AND y.y < 2 + d.doc_id % 3
    ),
    px AS (SELECT * FROM f2 UNION ALL SELECT * FROM f10)
    SELECT doc_id,
           CAST(2 AS INT) AS n_images,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(MIN(r) AS INT) AS r_min,
           CAST(MAX(r) AS INT) AS r_max
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_tga_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes TGA decode end to end: per doc an uncompressed
    24-bit type-2 TGA (bottom-origin — the format default, so the row
    flip is exercised) AND an RLE type-10 TGA (top-origin,
    run-friendly x//3 bands so RLE and raw packets both occur) are
    encoded and decoded through the full codec (``operators/tga.py``
    — BGR order, origin normalization, RLE packets; pinned against
    hand-assembled spec streams incl. color-mapped type 1 in
    tests/test_tga.py) inside one Arrow-batched mapInPandas pass.
    Lossless, so the oracle recomputes the decoded channel statistics
    arithmetically from the closed-form pixel formulas — a defect in
    packet framing, BGR swap, or the bottom-up flip breaks the sums.
    Same fan-out note as the other codecs: the id column is
    repartitioned because the testdata table is one small file."""
    def per_doc(tga, did):
        w1, h1 = 3 + did % 5, 2 + did % 4
        rgb1 = bytes(
            v
            for y in range(h1)
            for x in range(w1)
            for v in (
                (did + 4 * x + 9 * y) % 256,
                (did * 3 + y) % 256,
                (did * 13 + 2 * x) % 256,
            )
        )
        w2, h2 = 4 + did % 3, 2 + did % 3
        rgb2 = bytes(
            v
            for y in range(h2)
            for x in range(w2)
            for v in (
                ((did + x // 3 + 2 * y) * 17) % 256,
                ((did + x // 3 + 2 * y) * 23 + 1) % 256,
                ((did + x // 3 + 2 * y) * 5 + 9) % 256,
            )
        )
        a = tga.decode_tga(tga.encode_tga24(w1, h1, rgb1))
        b = tga.decode_tga(
            tga.encode_tga_rle24(w2, h2, rgb2, top_origin=True)
        )
        yield sum_image_stats(a, b)

    return decoded_stats_query(
        spark,
        sf_dir,
        "tga",
        "doc_id bigint, n_images int, n_px bigint, r_sum bigint,"
        " g_sum bigint, b_sum bigint, r_min int, r_max int",
        per_doc,
        fan_out=True,
    )


@query(
    "multimodal_pcx_decode",
    oracle="""
    WITH f8 AS (
      SELECT d.doc_id,
             (((d.doc_id * 3 + 5 * x.x + 7 * y.y) % 256) * 3 + d.doc_id)
               % 256 AS r,
             (((d.doc_id * 3 + 5 * x.x + 7 * y.y) % 256) * 3 + 7
               + d.doc_id) % 256 AS g,
             (((d.doc_id * 3 + 5 * x.x + 7 * y.y) % 256) * 3 + 14
               + d.doc_id) % 256 AS b
      FROM documents d,
           generate_series(0, 6) x(x),
           generate_series(0, 4) y(y)
      WHERE x.x < 3 + d.doc_id % 4 AND y.y < 2 + d.doc_id % 3
    ),
    f24 AS (
      SELECT d.doc_id,
             (x.x * 9 + y.y + d.doc_id) % 256 AS r,
             (x.x + y.y * 13) % 256 AS g,
             (200 + x.x + d.doc_id) % 256 AS b
      FROM documents d,
           generate_series(0, 6) x(x),
           generate_series(0, 4) y(y)
      WHERE x.x < 4 + d.doc_id % 3 AND y.y < 3 + d.doc_id % 2
    ),
    px AS (SELECT * FROM f8 UNION ALL SELECT * FROM f24)
    SELECT doc_id,
           CAST(2 AS INT) AS n_images,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(MIN(r) AS INT) AS r_min,
           CAST(MAX(r) AS INT) AS r_max
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_pcx_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes PCX decode end to end: per doc an 8-bit
    palette-indexed PCX (256-color VGA palette after the 0x0C marker,
    doc-varying palette so the lookup is exercised, padded
    bytes_per_line) AND a 24-bit 3-plane PCX (per-scan-line R/G/B
    plane RLE) are encoded and decoded through the full codec
    (``operators/pcx.py``, hand-assembled-stream-pinned in
    tests/test_pcx.py) inside one Arrow-batched mapInPandas pass.
    Lossless, so the oracle recomputes the channel statistics
    arithmetically — a defect in RLE framing, plane deinterleave,
    line padding, or palette lookup breaks the sums."""
    def per_doc(pcx, did):
        pal = bytes(
            (i * 3 + c * 7 + did) % 256
            for i in range(256)
            for c in range(3)
        )
        w1, h1 = 3 + did % 4, 2 + did % 3
        idx = bytes(
            (did * 3 + 5 * x + 7 * y) % 256
            for y in range(h1)
            for x in range(w1)
        )
        w2, h2 = 4 + did % 3, 3 + did % 2
        rgb = bytes(
            v
            for y in range(h2)
            for x in range(w2)
            for v in (
                (x * 9 + y + did) % 256,
                (x + y * 13) % 256,
                (200 + x + did) % 256,
            )
        )
        a = pcx.decode_pcx(pcx.encode_pcx8(w1, h1, idx, pal))
        b = pcx.decode_pcx(pcx.encode_pcx24(w2, h2, rgb))
        yield sum_image_stats(a, b)

    return decoded_stats_query(
        spark,
        sf_dir,
        "pcx",
        "doc_id bigint, n_images int, n_px bigint, r_sum bigint,"
        " g_sum bigint, b_sum bigint, r_min int, r_max int",
        per_doc,
        fan_out=True,
    )


@query(
    "multimodal_ico_decode",
    oracle="""
    WITH fpng AS (
      SELECT d.doc_id,
             (d.doc_id + x.x) % 256 AS r,
             (d.doc_id * 3 + y.y) % 256 AS g,
             (x.x * y.y + 5) % 256 AS b,
             255 AS a
      FROM documents d,
           generate_series(0, 5) x(x),
           generate_series(0, 3) y(y)
      WHERE x.x < 3 + d.doc_id % 4 AND y.y < 2 + d.doc_id % 3
    ),
    fdib AS (
      SELECT d.doc_id,
             (d.doc_id * 7 + x.x) % 256 AS r,
             (y.y * 9) % 256 AS g,
             (d.doc_id + x.x + y.y) % 256 AS b,
             CASE WHEN (x.x + y.y + d.doc_id) % 7 = 0 THEN 0 ELSE 200 END AS a
      FROM documents d,
           generate_series(0, 5) x(x),
           generate_series(0, 2) y(y)
      WHERE x.x < 4 + d.doc_id % 3 AND y.y < 2 + d.doc_id % 2
    ),
    px AS (SELECT * FROM fpng UNION ALL SELECT * FROM fdib)
    SELECT doc_id,
           CAST(2 AS INT) AS n_members,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(SUM(a) AS BIGINT) AS a_sum
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_ico_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes ICO container decode end to end: per doc an icon
    file holding a PNG member (delegated to the real PNG codec, all
    five scanline filters) AND a 32-bit DIB member (doubled-height
    header, bottom-up BGRA XOR bitmap, 1-bit padded AND mask whose
    set bits the pattern actually exercises via a==0 pixels) is built
    and decoded through ``operators/ico.py`` inside one Arrow-batched
    mapInPandas pass — the CONTAINER member of the codec family
    (directory parsing + per-member dispatch), pinned member-by-member
    in tests/test_ico.py. Both members are lossless, so the oracle
    recomputes the decoded channel statistics arithmetically from the
    closed-form pixel formulas — a directory-offset, mask, row-order,
    or channel-swap defect breaks the sums. Same fan-out note as
    JPEG/GIF/BMP/QOI: the id column is repartitioned because the
    testdata table is one small file."""
    def per_doc(ico, did):
        w1, h1 = 3 + did % 4, 2 + did % 3
        png_rgba = bytes(
            v
            for y in range(h1)
            for x in range(w1)
            for v in (
                (did + x) % 256,
                (did * 3 + y) % 256,
                (x * y + 5) % 256,
                255,
            )
        )
        w2, h2 = 4 + did % 3, 2 + did % 2
        dib_rgba = bytes(
            v
            for y in range(h2)
            for x in range(w2)
            for v in (
                (did * 7 + x) % 256,
                (y * 9) % 256,
                (did + x + y) % 256,
                0 if (x + y + did) % 7 == 0 else 200,
            )
        )
        yield ico.decode_ico(
            ico.encode_ico(
                [
                    {
                        "width": w1,
                        "height": h1,
                        "kind": "png",
                        "rgba": png_rgba,
                    },
                    {
                        "width": w2,
                        "height": h2,
                        "kind": "dib",
                        "rgba": dib_rgba,
                    },
                ]
            )
        )

    return decoded_stats_query(
        spark,
        sf_dir,
        "ico",
        "doc_id bigint, n_members int, n_px bigint, r_sum bigint,"
        " g_sum bigint, b_sum bigint, a_sum bigint",
        per_doc,
        fan_out=True,
    )


@query(
    "flesch_readability_by_source",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
               AS w,
             CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS s,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS sy
      FROM documents
    ),
    scored AS (
      SELECT source, w, s, sy,
             CASE WHEN w > 0 THEN
               CAST(FLOOR((206.835
                 - 1.015 * (CAST(w AS DOUBLE) / s)
                 - 84.6 * (CAST(sy AS DOUBLE) / w)) * 1e3 + 0.5) AS BIGINT)
             END AS f_e3
      FROM per_doc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS sum_words,
           CAST(SUM(s) AS BIGINT) AS sum_sentences,
           CAST(SUM(sy) AS BIGINT) AS sum_vowel_groups,
           CAST(FLOOR(CAST(SUM(f_e3) AS DOUBLE)
                      / NULLIF(SUM(CASE WHEN f_e3 IS NOT NULL
                                        THEN 1 ELSE 0 END), 0)
                      + 0.5) AS BIGINT) AS mean_flesch_e3
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
)
def flesch_readability_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Flesch reading-ease per source — the readability member of the
    text-quality family (`quality_filter_gopher` gates on structural
    ratios; Flesch is the classic audience-level score a curation mix
    reports per slice). Syllables use the standard cheap proxy (vowel
    GROUPS [aeiouy]+ — groups cannot span non-letters, so one regex
    over the whole text equals the per-word sum without exploding
    words); sentences are [.!?]+ runs clamped to ≥1. The per-doc
    score is one identical double tree over three exact integers,
    rounded ONCE to an e3 BIGINT, and the per-source mean divides the
    integer sum — no float accumulation anywhere. Scale: one scan,
    three regex counters per row (scan-side codegen), one partial+
    final hash aggregate."""
    d = _t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.expr(
            "CAST(size(regexp_extract_all(lower(text), '[a-z]+', 0))"
            " AS BIGINT)"
        ).alias("w"),
        F.expr(
            "CAST(GREATEST(size(regexp_extract_all(text, '[.!?]+', 0)), 1)"
            " AS BIGINT)"
        ).alias("s"),
        F.expr(
            "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
            " AS BIGINT)"
        ).alias("sy"),
    )
    scored = per_doc.withColumn(
        "f_e3",
        F.expr(
            """CASE WHEN w > 0 THEN
                 CAST(FLOOR((206.835
                   - 1.015 * (CAST(w AS DOUBLE) / s)
                   - 84.6 * (CAST(sy AS DOUBLE) / w)) * 1e3 + 0.5) AS BIGINT)
               END"""
        ),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("sum_words"),
            F.sum("s").cast("bigint").alias("sum_sentences"),
            F.sum("sy").cast("bigint").alias("sum_vowel_groups"),
            F.expr(
                """CAST(FLOOR(CAST(SUM(f_e3) AS DOUBLE)
                     / NULLIF(SUM(CASE WHEN f_e3 IS NOT NULL
                                       THEN 1 ELSE 0 END), 0)
                     + 0.5) AS BIGINT)"""
            ).alias("mean_flesch_e3"),
        )
        .orderBy("source")
    )


@query(
    "mojibake_encoding_audit",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, 'Ã[©¨¤¼¶«»±€œ]')) AS BIGINT)
               AS n_moji,
             CAST(len(regexp_extract_all(text, 'â€|Â |ï»¿')) AS BIGINT)
               AS n_punct_moji,
             CAST(len(regexp_extract_all(text, '�')) AS BIGINT)
               AS n_replacement,
             CAST(len(regexp_extract_all(text,
                      '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS BIGINT)
               AS n_control,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_moji + n_punct_moji + n_replacement
                              + n_control > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_docs,
           CAST(SUM(n_moji) AS BIGINT) AS n_moji,
           CAST(SUM(n_punct_moji) AS BIGINT) AS n_punct_moji,
           CAST(SUM(n_replacement) AS BIGINT) AS n_replacement,
           CAST(SUM(n_control) AS BIGINT) AS n_control,
           CAST((SUM(n_moji + n_punct_moji + n_replacement + n_control)
                 * 1000000) // NULLIF(SUM(n_chars), 0) AS BIGINT)
             AS rate_per_million_chars
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def mojibake_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage audit per source: counts the classic UTF-8
    double-decoding artifacts (Ã-prefixed Latin-1 pairs, the â€ /
    Â-nbsp / stray-BOM punctuation family), U+FFFD replacement
    characters, and C0 control bytes — the signals a crawl-ingest
    gate uses to quarantine mis-decoded slices before they poison a
    tokenizer's vocabulary. All counters are exact regex-match
    integers (scan-side codegen, no UDF); the per-million rate is a
    truncating integer division, so the whole report is BIGINT
    end-to-end. Scale: one scan + one partial+final hash aggregate."""
    d = _t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.expr(
            "CAST(size(regexp_extract_all(text, 'Ã[©¨¤¼¶«»±€œ]', 0))"
            " AS BIGINT)"
        ).alias("n_moji"),
        F.expr(
            "CAST(size(regexp_extract_all(text, 'â€|Â |ï»¿', 0))"
            " AS BIGINT)"
        ).alias("n_punct_moji"),
        F.expr(
            "CAST(size(regexp_extract_all(text, '�', 0)) AS BIGINT)"
        ).alias("n_replacement"),
        F.expr(
            "CAST(size(regexp_extract_all(text,"
            " '[\\\\x00-\\\\x08\\\\x0b\\\\x0c\\\\x0e-\\\\x1f]', 0))"
            " AS BIGINT)"
        ).alias("n_control"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                F.expr(
                    "CASE WHEN n_moji + n_punct_moji + n_replacement"
                    " + n_control > 0 THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_flagged_docs"),
            F.sum("n_moji").cast("bigint").alias("n_moji"),
            F.sum("n_punct_moji").cast("bigint").alias("n_punct_moji"),
            F.sum("n_replacement").cast("bigint").alias("n_replacement"),
            F.sum("n_control").cast("bigint").alias("n_control"),
            F.expr(
                """CAST((SUM(n_moji + n_punct_moji + n_replacement
                             + n_control) * 1000000)
                        div NULLIF(SUM(n_chars), 0) AS BIGINT)"""
            ).alias("rate_per_million_chars"),
        )
        .orderBy("source")
    )


@query(
    "char_entropy_quality",
    oracle="""
    WITH chars AS (
      SELECT d.doc_id, d.source,
             substring(d.text, i.i, 1) AS ch
      FROM documents d
      JOIN generate_series(1, 240) i(i)
        ON i.i <= LEAST(length(d.text), 240)
    ),
    cc AS (
      SELECT doc_id, source, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM chars GROUP BY doc_id, source, ch
    ),
    lens AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS l_doc
      FROM cc GROUP BY doc_id
    ),
    terms AS (
      SELECT cc.doc_id, cc.source, cc.c,
             CAST(ROUND(-(CAST(cc.c AS DOUBLE) / ln2.l_doc)
               * LN(CAST(cc.c AS DOUBLE) / ln2.l_doc) * 1e9) AS BIGINT)
               AS t_e9
      FROM cc JOIN lens ln2 ON ln2.doc_id = cc.doc_id
    ),
    dl AS (
      SELECT doc_id, source, CAST(SUM(c) AS BIGINT) AS l,
             CAST(SUM(t_e9) AS BIGINT) AS ent_e9
      FROM terms GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(ent_e9) AS BIGINT) AS min_ent_e9,
           CAST(MAX(ent_e9) AS BIGINT) AS max_ent_e9,
           CAST(FLOOR(CAST(SUM(ent_e9) AS DOUBLE) / COUNT(*) / 1000.0 + 0.5)
                AS BIGINT) AS mean_ent_e6,
           CAST(SUM(CASE WHEN ent_e9 < 2500000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_entropy
    FROM dl
    GROUP BY source
    ORDER BY source
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy of each document's first 240
    chars, reported per source — the cheap information-density
    quality signal (boilerplate, repeated padding, and template spam
    sit far below natural text's ~4 nats-per-char ceiling; the
    n_low_entropy count is the quarantine candidate list). The char
    expansion is BOUNDED (≤240 rows per doc via an explicit position
    sequence — identical substring semantics on both engines, no
    empty-separator split ambiguity); each per-char term
    -(c/L)·ln(c/L) rounds once to an e9 BIGINT so per-doc entropy is
    an order-independent integer sum, and the per-source mean divides
    integer sums. Scale: one scan with a 240× bounded fan-out, two
    hash aggregates partitioned by doc then source."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    chars = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr("sequence(1, GREATEST(LEAST(length(text), 240), 1))")
        ).alias("i"),
        "text",
    ).filter(F.length("text") > 0).select(
        "doc_id", "source", F.expr("substring(text, i, 1)").alias("ch")
    )
    cc = chars.groupBy("doc_id", "source", "ch").agg(
        F.count("*").cast("bigint").alias("c")
    )
    wdoc = Window.partitionBy("doc_id")
    terms = cc.withColumn("l_doc", F.sum("c").over(wdoc)).select(
        "doc_id",
        "source",
        "c",
        F.expr(
            """CAST(ROUND(-(CAST(c AS DOUBLE) / l_doc)
                 * LN(CAST(c AS DOUBLE) / l_doc) * 1e9) AS BIGINT)"""
        ).alias("t_e9"),
    )
    dl = terms.groupBy("doc_id", "source").agg(
        F.sum("c").cast("bigint").alias("l"),
        F.sum("t_e9").cast("bigint").alias("ent_e9"),
    )
    return (
        dl.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("ent_e9").cast("bigint").alias("min_ent_e9"),
            F.max("ent_e9").cast("bigint").alias("max_ent_e9"),
            F.expr(
                "CAST(FLOOR(CAST(SUM(ent_e9) AS DOUBLE) / COUNT(*)"
                " / 1000.0 + 0.5) AS BIGINT)"
            ).alias("mean_ent_e6"),
            F.sum(
                F.expr(
                    "CASE WHEN ent_e9 < 2500000000 THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_low_entropy"),
        )
        .orderBy("source")
    )


def _mmr_oracle_sql(k: int = 10) -> str:
    """Unrolled greedy MMR oracle: candidate pool + integer Jaccard
    similarity matrix, then k−1 argmax steps as chained CTEs (the
    `copurchase_pagerank` unrolled-iteration idiom). All arithmetic is
    BIGINT; the MMR combine (7·rel − 3·maxsim) // 10 uses flooring
    division, matching the Python-side greedy exactly."""
    head = """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avglen
      FROM doclen
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY tok
    ),
    qterms AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3),
    idf AS (
      SELECT q.tok,
             CAST(FLOOR(ln((CAST(s.n_docs AS DOUBLE) - q.df + 0.5)
                           / (q.df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)
               AS idf_e6
      FROM qterms q CROSS JOIN stats s
    ),
    tf AS (
      SELECT t.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN qterms q ON t.tok = q.tok
      GROUP BY t.doc_id, t.tok
    ),
    bm AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(FLOOR(
               CAST(i.idf_e6 AS DOUBLE) * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / s.avglen))
               + 0.5) AS BIGINT)) AS BIGINT) AS rel
      FROM tf
      JOIN idf i ON i.tok = tf.tok
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    cand AS MATERIALIZED (
      SELECT doc_id, rel FROM bm ORDER BY rel DESC, doc_id LIMIT 20
    ),
    relmax AS (SELECT CAST(MAX(rel) AS BIGINT) AS mr FROM cand),
    candn AS MATERIALIZED (
      SELECT c.doc_id,
             CAST((c.rel * 1000000) // m.mr AS BIGINT) AS rel_norm
      FROM cand c CROSS JOIN relmax m
    ),
    ctok AS (
      SELECT DISTINCT t.doc_id, t.tok
      FROM tok t JOIN cand c ON c.doc_id = t.doc_id
    ),
    csize AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ctok GROUP BY doc_id
    ),
    simm AS MATERIALIZED (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST((COUNT(*) * 1000000)
                  // (sa.sz + sb.sz - COUNT(*)) AS BIGINT) AS sim_e6
      FROM ctok a
      JOIN ctok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      JOIN csize sa ON sa.doc_id = a.doc_id
      JOIN csize sb ON sb.doc_id = b.doc_id
      GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
    ),
    sel1 AS MATERIALIZED (
      SELECT doc_id, 1 AS step, rel_norm,
             CAST(NULL AS BIGINT) AS mmr_e6
      FROM candn ORDER BY rel_norm DESC, doc_id LIMIT 1
    )"""
    steps = []
    prev_union = "SELECT doc_id FROM sel1"
    prev_all = "sel1"
    for t in range(2, k + 1):
        steps.append(f""",
    pick{t} AS MATERIALIZED (
      SELECT c.doc_id, {t} AS step, c.rel_norm,
             CAST((7 * c.rel_norm - 3 * COALESCE(
               (SELECT MAX(s.sim_e6) FROM simm s
                WHERE s.da = c.doc_id
                  AND s.db IN ({prev_union})), 0)) // 10 AS BIGINT)
               AS mmr_e6
      FROM candn c
      WHERE c.doc_id NOT IN ({prev_union})
      ORDER BY mmr_e6 DESC, c.doc_id LIMIT 1
    ),
    sel{t} AS MATERIALIZED (
      SELECT * FROM {prev_all} UNION ALL
      SELECT doc_id, step, rel_norm, mmr_e6 FROM pick{t}
    )""")
        prev_union = f"SELECT doc_id FROM sel{t}"
        prev_all = f"sel{t}"
    tail = f"""
    SELECT CAST(step AS INT) AS step,
           CAST(doc_id AS BIGINT) AS doc_id,
           rel_norm, mmr_e6
    FROM {prev_all}
    ORDER BY step
    """
    return head + "".join(steps) + tail


@query("mmr_diversified_topk", oracle=_mmr_oracle_sql(10))
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the diversification
    member that completes the retrieval tier (BM25 scores relevance;
    QLD/RM3 re-model the query; RRF fuses rankers; MMR de-duplicates
    the RESULT LIST: each step picks argmax of
    λ·relevance − (1−λ)·max-similarity-to-already-selected, λ=0.7).
    The candidate pool is the BM25 top-20; inter-candidate similarity
    is integer token Jaccard ((|∩|·1e6) // |∪|); relevance is
    max-normalized by integer division — so the greedy recursion is
    BIGINT arithmetic end-to-end, replayed by the oracle as k−1
    unrolled argmax CTEs (the `copurchase_pagerank` idiom). The
    greedy itself runs over the PARAMETER-SIZED collected pool (≤20
    candidates + their ≤380 pairwise sims — the serving-side rerank
    window; guarded to raise past 64 candidates rather than silently
    collect at scale); everything corpus-sized (scoring, pool cut,
    similarity matrix) stays distributed."""
    d = _t(spark, sf_dir, "documents")
    # the corpus token relation feeds the doclen/df/tf consumers —
    # stage the regex tokenization once instead of re-exploding per
    # consumer (guide §5; same finding as the RM3/minhash staging)
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    ).localCheckpoint(eager=True)
    doclen = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("len")
    )
    stats = doclen.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avglen"),
    )
    df = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    qterms = df.orderBy(F.desc("df"), F.asc("tok")).limit(3)
    idf = qterms.crossJoin(F.broadcast(stats)).select(
        "tok",
        F.expr(
            "CAST(FLOOR(ln((CAST(n_docs AS DOUBLE) - df + 0.5)"
            " / (df + 0.5) + 1.0) * 1e6 + 0.5) AS BIGINT)"
        ).alias("idf_e6"),
    )
    tf = (
        tok.join(F.broadcast(qterms.select("tok")), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    bm = (
        tf.join(F.broadcast(idf), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats.select("avglen")))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "CAST(FLOOR("
                    "CAST(idf_e6 AS DOUBLE) * (tf * 2.2)"
                    " / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen))"
                    " + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("rel")
        )
    )
    # two materialization points (guide §5): the query ends in TWO
    # driver collects (pool + sim matrix) plus branch fan-out, and the
    # corpus token-explode subtree appears under doclen/df/tf/ctok —
    # without these, `tok` re-evaluates ~10x across the actions.
    # `cand` (<= 20 rows) caps the whole BM25 chain; `ctok` (tokens of
    # those 20 docs) caps the corpus for the similarity matrix.
    cand = bm.orderBy(F.desc("rel"), F.asc("doc_id")).limit(
        20
    ).localCheckpoint(eager=True)
    relmax = cand.agg(F.max("rel").cast("bigint").alias("mr"))
    candn = cand.crossJoin(F.broadcast(relmax)).select(
        "doc_id",
        F.expr("CAST((rel * 1000000) div mr AS BIGINT)").alias("rel_norm"),
    )
    ctok = (
        tok.join(F.broadcast(cand.select("doc_id")), "doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    csize = ctok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    a = ctok.select(F.col("doc_id").alias("da"), "tok")
    b = ctok.select(F.col("doc_id").alias("db"), "tok")
    simm = (
        a.join(b, "tok")
        .filter(F.col("da") != F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").cast("bigint").alias("ni"))
        .join(csize.select(F.col("doc_id").alias("da"),
                           F.col("sz").alias("sza")), "da")
        .join(csize.select(F.col("doc_id").alias("db"),
                           F.col("sz").alias("szb")), "db")
        .select(
            "da",
            "db",
            F.expr(
                "CAST((ni * 1000000) div (sza + szb - ni) AS BIGINT)"
            ).alias("sim_e6"),
        )
    )
    pool = candn.collect()
    if len(pool) > 64:
        raise ValueError(
            "MMR rerank pool unexpectedly large "
            f"({len(pool)} candidates) — the pool cut must stay "
            "parameter-sized"
        )
    sims = {(r["da"], r["db"]): r["sim_e6"] for r in simm.collect()}
    rel = {r["doc_id"]: r["rel_norm"] for r in pool}
    remaining = sorted(rel)
    out = []
    selected: list[int] = []
    for step in range(1, min(10, len(remaining)) + 1):
        if step == 1:
            pick = max(remaining, key=lambda i: (rel[i], -i))
            out.append((step, pick, rel[pick], None))
        else:
            def mmr(i: int) -> int:
                ms = max(
                    (sims.get((i, s), 0) for s in selected), default=0
                )
                return (7 * rel[i] - 3 * ms) // 10
            pick = max(remaining, key=lambda i: (mmr(i), -i))
            out.append((step, pick, rel[pick], mmr(pick)))
        selected.append(pick)
        remaining.remove(pick)
    return spark.createDataFrame(
        out, "step int, doc_id bigint, rel_norm bigint, mmr_e6 bigint"
    ).orderBy("step")


@query(
    "tfidf_cosine_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, tok
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    df AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
    idf AS (
      SELECT d.tok, d.df,
             CAST(FLOOR(ln((1.0 + n.n_docs) / (1.0 + d.df)) * 1e6 + 0.5)
                  AS BIGINT) + 1000000 AS idf_e6
      FROM df d CROSS JOIN nn n
    ),
    w AS (
      SELECT t.doc_id, t.tok,
             CAST(t.tf * i.idf_e6 AS HUGEINT) AS w
      FROM tf t JOIN idf i ON i.tok = t.tok
    ),
    norms AS (
      SELECT doc_id, CAST(SUM(w * w) AS HUGEINT) AS nd2
      FROM w GROUP BY doc_id
    ),
    qterms AS (
      SELECT tok, idf_e6 FROM idf ORDER BY df DESC, tok LIMIT 3
    ),
    nq AS (
      SELECT CAST(SUM(CAST(idf_e6 AS HUGEINT) * idf_e6) AS HUGEINT) AS nq2
      FROM qterms
    ),
    dots AS (
      SELECT w.doc_id,
             CAST(SUM(CAST(w.w AS HUGEINT) * q.idf_e6) AS HUGEINT) AS dot
      FROM w JOIN qterms q ON q.tok = w.tok
      GROUP BY w.doc_id
    )
    SELECT d.doc_id,
           CAST(FLOOR(CAST(d.dot AS DOUBLE)
                      / SQRT(CAST(n.nd2 AS DOUBLE))
                      / SQRT(CAST(q.nq2 AS DOUBLE))
                      * 1e6 + 0.5) AS BIGINT) AS cosine_e6
    FROM dots d
    JOIN norms n ON n.doc_id = d.doc_id
    CROSS JOIN nq q
    ORDER BY cosine_e6 DESC, d.doc_id
    LIMIT 20
    """,
)
def tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic vector-space tf-idf cosine retrieval — the third member
    of the lexical ranking family (BM25 saturates tf, QLD smooths a
    language model; tf-idf cosine is the length-normalized baseline
    every retrieval benchmark still reports). Smoothed idf
    (ln((1+N)/(1+df)) + 1, sklearn's convention) floors once to an e6
    integer; per-(doc,term) weights and the FULL-vocabulary document
    norms are exact DECIMAL(38,0)/HUGEINT sums (a weight can reach
    ~2e10, its square 4e20); the cosine is one double tree with two
    sqrts rounded once to e6. Scale: two hash aggregates over the
    token relation + a broadcast 3-term probe; the norm pass reuses
    the weight relation, and top-k is TakeOrderedAndProject."""
    d = _t(spark, sf_dir, "documents")
    # the corpus token relation feeds the doclen/df/tf consumers —
    # stage the regex tokenization once instead of re-exploding per
    # consumer (guide §5; same finding as the RM3/minhash staging)
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    ).localCheckpoint(eager=True)
    tf = tok.groupBy("doc_id", "tok").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    nn = tf.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    df = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    idf = df.crossJoin(F.broadcast(nn)).select(
        "tok",
        "df",
        (
            F.expr(
                "CAST(FLOOR(ln((1.0 + n_docs) / (1.0 + df)) * 1e6 + 0.5)"
                " AS BIGINT)"
            )
            + F.lit(1000000)
        ).alias("idf_e6"),
    )
    w = tf.join(idf.select("tok", "idf_e6"), "tok").select(
        "doc_id",
        "tok",
        F.expr("CAST(tf * idf_e6 AS DECIMAL(38,0))").alias("w"),
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.expr("w * w")).alias("nd2"))
    qterms = idf.orderBy(F.desc("df"), F.asc("tok")).limit(3).select(
        "tok", "idf_e6"
    )
    nq = qterms.agg(
        F.sum(
            F.expr("CAST(idf_e6 AS DECIMAL(38,0)) * idf_e6")
        ).alias("nq2")
    )
    dots = (
        w.join(F.broadcast(qterms), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr("CAST(w AS DECIMAL(38,0)) * idf_e6")
            ).alias("dot")
        )
    )
    return (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(nq))
        .select(
            "doc_id",
            F.expr(
                """CAST(FLOOR(CAST(dot AS DOUBLE)
                           / SQRT(CAST(nd2 AS DOUBLE))
                           / SQRT(CAST(nq2 AS DOUBLE))
                           * 1e6 + 0.5) AS BIGINT)"""
            ).alias("cosine_e6"),
        )
        .orderBy(F.desc("cosine_e6"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "pl2_topk_docs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avglen
      FROM doclen
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, tok
    ),
    cf AS (
      SELECT tok,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS coll_tf
      FROM tf GROUP BY tok
    ),
    qterms AS (
      SELECT tok, df, coll_tf FROM cf ORDER BY df DESC, tok LIMIT 3
    ),
    contrib AS (
      SELECT t.doc_id,
             CAST(FLOOR(
               (1.0 / ((t.tf * ln(1.0 + s.avglen / dl.len)
                        * 1.4426950408889634) + 1.0))
               * ((t.tf * ln(1.0 + s.avglen / dl.len)
                   * 1.4426950408889634)
                  * (ln((t.tf * ln(1.0 + s.avglen / dl.len)
                         * 1.4426950408889634)
                        / (CAST(q.coll_tf AS DOUBLE) / s.n_docs))
                     * 1.4426950408889634)
                  + ((CAST(q.coll_tf AS DOUBLE) / s.n_docs)
                     - (t.tf * ln(1.0 + s.avglen / dl.len)
                        * 1.4426950408889634))
                    * 1.4426950408889634
                  + 0.5 * (ln(6.283185307179586
                              * (t.tf * ln(1.0 + s.avglen / dl.len)
                                 * 1.4426950408889634))
                           * 1.4426950408889634))
               * 1e6 + 0.5) AS BIGINT) AS c_e6
      FROM tf t
      JOIN qterms q ON q.tok = t.tok
      JOIN doclen dl ON dl.doc_id = t.doc_id
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(c_e6) AS BIGINT) AS pl2_e6
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, pl2_e6
    FROM scored
    ORDER BY pl2_e6 DESC, doc_id
    LIMIT 20
    """,
)
def pl2_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PL2 divergence-from-randomness ranking — the fourth member of
    the lexical retrieval family (BM25 = probabilistic saturation,
    QLD = Dirichlet language model, tf-idf = vector space; PL2 is the
    DFR model Terrier ships as its default: Poisson randomness model,
    Laplace after-effect, H2 length normalization with c=1). Each
    (doc, term) contribution — tfn = tf·log2(1 + avgdl/dl), score =
    (tfn·log2(tfn/λ) + (λ−tfn)·log2(e) + ½·log2(2π·tfn)) / (tfn+1)
    with λ = coll_tf/N — is ONE double expression tree (log2 expanded
    as ln·1/ln2 so both engines evaluate the identical ln-based tree)
    floored once to an e6 integer; per-doc scores are exact integer
    sums. Scale: same profile as `bm25_topk_docs` — one tokenize
    pass, broadcast 3-term probe, TakeOrderedAndProject."""
    d = _t(spark, sf_dir, "documents")
    # the corpus token relation feeds the doclen/df/tf consumers —
    # stage the regex tokenization once instead of re-exploding per
    # consumer (guide §5; same finding as the RM3/minhash staging)
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    ).localCheckpoint(eager=True)
    doclen = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("len")
    )
    stats = doclen.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avglen"),
    )
    tf = tok.groupBy("doc_id", "tok").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    cf = tf.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("coll_tf"),
    )
    qterms = cf.orderBy(F.desc("df"), F.asc("tok")).limit(3)
    contrib = (
        tf.join(F.broadcast(qterms.select("tok", "coll_tf")), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                """CAST(FLOOR(
                     (1.0 / ((tf * ln(1.0 + avglen / len)
                              * 1.4426950408889634) + 1.0))
                     * ((tf * ln(1.0 + avglen / len)
                         * 1.4426950408889634)
                        * (ln((tf * ln(1.0 + avglen / len)
                               * 1.4426950408889634)
                              / (CAST(coll_tf AS DOUBLE) / n_docs))
                           * 1.4426950408889634)
                        + ((CAST(coll_tf AS DOUBLE) / n_docs)
                           - (tf * ln(1.0 + avglen / len)
                              * 1.4426950408889634))
                          * 1.4426950408889634
                        + 0.5 * (ln(6.283185307179586
                                    * (tf * ln(1.0 + avglen / len)
                                       * 1.4426950408889634))
                                 * 1.4426950408889634))
                     * 1e6 + 0.5) AS BIGINT)"""
            ).alias("c_e6"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c_e6").cast("bigint").alias("pl2_e6"))
        .orderBy(F.desc("pl2_e6"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "multimodal_midi_decode",
    oracle="""
    WITH t1 AS (
      SELECT d.doc_id,
             (d.doc_id * 7 + 5 * i.i) % 128 AS pitch,
             (d.doc_id + 11 * i.i) % 127 + 1 AS vel
      FROM documents d, generate_series(0, 7) i(i)
      WHERE i.i < 3 + d.doc_id % 5
    ),
    t2 AS (
      SELECT d.doc_id,
             (d.doc_id * 3 + 9 * i.i) % 128 AS pitch,
             (d.doc_id * 5 + i.i) % 127 + 1 AS vel
      FROM documents d, generate_series(0, 4) i(i)
      WHERE i.i < 2 + d.doc_id % 3
    ),
    notes AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2),
    per AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_notes,
             CAST(SUM(pitch) AS BIGINT) AS pitch_sum,
             CAST(SUM(vel) AS BIGINT) AS velocity_sum
      FROM notes GROUP BY doc_id
    ),
    dims AS (
      SELECT doc_id,
             3 + doc_id % 5 AS n1,
             2 + doc_id % 3 AS n2
      FROM documents
    )
    SELECT p.doc_id,
           CAST(3 AS INT) AS n_tracks,
           p.n_notes, p.pitch_sum, p.velocity_sum,
           CAST(GREATEST(30 * d.n1 + d.n1 * (d.n1 - 1),
                         35 * d.n2 + 3 * d.n2 * (d.n2 - 1) // 2)
                AS BIGINT) AS ticks_max
    FROM per p JOIN dims d ON d.doc_id = p.doc_id
    ORDER BY p.doc_id
    """,
)
def multimodal_midi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes Standard-MIDI-File decode end to end: per doc a
    format-1 SMF (conductor tempo track + two note tracks with
    doc-varying note counts) is encoded WITH running status and
    vel-0 note-offs and decoded through the full parser
    (``operators/midi.py`` — VLQ deltas, running status, meta/SysEx
    framing, end-of-track enforcement; hand-assembled-stream-pinned
    in tests/test_midi.py) inside one Arrow-batched mapInPandas pass.
    The event stream is lossless symbolic data, so the oracle
    recomputes note counts, pitch/velocity sums, and the per-track
    tick totals purely arithmetically — a defect in VLQ decoding,
    running-status reuse, or the vel-0-is-off rule breaks the sums.
    This closes the symbolic-audio modality next to WAV's PCM one."""
    def per_doc(midi, did):
        n1, n2 = 3 + did % 5, 2 + did % 3
        tr1 = [
            (
                10 + i,
                (did * 7 + 5 * i) % 128,
                (did + 11 * i) % 127 + 1,
                20 + (i % 7),
            )
            for i in range(n1)
        ]
        tr2 = [
            (
                5 + 2 * i,
                (did * 3 + 9 * i) % 128,
                (did * 5 + i) % 127 + 1,
                30 + i,
            )
            for i in range(n2)
        ]
        yield midi.decode_midi(midi.encode_midi([tr1, tr2]))

    return decoded_stats_query(
        spark,
        sf_dir,
        "midi",
        "doc_id bigint, n_tracks int, n_notes bigint,"
        " pitch_sum bigint, velocity_sum bigint, ticks_max bigint",
        per_doc,
        fan_out=True,
    )


@query(
    "multimodal_au_g711_decode",
    oracle="""
    WITH mu AS (
      SELECT d.doc_id,
             255 - ((d.doc_id * 13 + 7 * i.i) % 256) AS u
      FROM documents d, generate_series(0, 56) i(i)
      WHERE i.i < 40 + d.doc_id % 17
    ),
    mu_pcm AS (
      SELECT doc_id,
             CASE WHEN u >= 128 THEN
               -(((u % 16) * 8 + 132)
                 * CAST(POW(2, (u // 16) % 8) AS BIGINT) - 132)
             ELSE
               ((u % 16) * 8 + 132)
               * CAST(POW(2, (u // 16) % 8) AS BIGINT) - 132
             END AS s
      FROM mu
    ),
    al AS (
      SELECT d.doc_id,
             xor((d.doc_id * 11 + 5 * i.i) % 256, 85) AS a
      FROM documents d, generate_series(0, 42) i(i)
      WHERE i.i < 30 + d.doc_id % 13
    ),
    al_pcm AS (
      SELECT doc_id,
             CASE WHEN a >= 128 THEN
               CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
                    ELSE ((a % 16) * 16 + 264)
                         * CAST(POW(2, (a // 16) % 8 - 1) AS BIGINT)
               END
             ELSE
               -(CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
                      ELSE ((a % 16) * 16 + 264)
                           * CAST(POW(2, (a // 16) % 8 - 1) AS BIGINT)
                 END)
             END AS s
      FROM al
    ),
    pcm AS (SELECT * FROM mu_pcm UNION ALL SELECT * FROM al_pcm)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(s) AS BIGINT) AS pcm_sum,
           CAST(SUM(ABS(s)) AS BIGINT) AS abs_sum,
           CAST(MIN(s) AS BIGINT) AS pcm_min,
           CAST(MAX(s) AS BIGINT) AS pcm_max
    FROM pcm
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_au_g711_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL-bytes Sun AU / G.711 decode end to end: per doc a µ-law
    AU file (with an annotation field, so the variable data offset is
    exercised) AND an A-law AU file are framed and decoded through
    the full codec (``operators/au.py`` — header parse, companded
    expansion; reference-value-pinned in tests/test_au.py incl. the
    ITU sign conventions, which differ between the two laws) inside
    one Arrow-batched mapInPandas pass. The G.711 expansions are pure
    integer arithmetic, so the oracle replays them IN SQL byte for
    byte — a defect in the complement/XOR fold, segment shift, bias,
    or either law's sign convention breaks the sums. Closes the
    companded-telephony-audio modality next to WAV's linear PCM."""
    def per_doc(au, did):
        n1, n2 = 40 + did % 17, 30 + did % 13
        mu_body = bytes(
            (did * 13 + 7 * i) % 256 for i in range(n1)
        )
        al_body = bytes(
            (did * 11 + 5 * i) % 256 for i in range(n2)
        )
        a = au.decode_au(
            au.encode_au(mu_body, encoding=1, annotation=b"lss\x00")
        )
        b = au.decode_au(au.encode_au(al_body, encoding=27))
        yield {
            "n_samples": a["n_samples"] + b["n_samples"],
            "pcm_sum": a["pcm_sum"] + b["pcm_sum"],
            "abs_sum": a["abs_sum"] + b["abs_sum"],
            "pcm_min": min(a["pcm_min"], b["pcm_min"]),
            "pcm_max": max(a["pcm_max"], b["pcm_max"]),
        }

    return decoded_stats_query(
        spark,
        sf_dir,
        "au",
        "doc_id bigint, n_samples bigint, pcm_sum bigint,"
        " abs_sum bigint, pcm_min bigint, pcm_max bigint",
        per_doc,
        fan_out=True,
    )


@query(
    "multimodal_pnm_decode",
    oracle="""
    WITH p6 AS (
      SELECT d.doc_id,
             (d.doc_id + 2 * x.x) % 256 AS r,
             (d.doc_id * 3 + y.y) % 256 AS g,
             (x.x + y.y + d.doc_id) % 256 AS b
      FROM documents d,
           generate_series(0, 6) x(x), generate_series(0, 4) y(y)
      WHERE x.x < 3 + d.doc_id % 4 AND y.y < 2 + d.doc_id % 3
    ),
    p5 AS (
      SELECT d.doc_id,
             ((d.doc_id * 37 + 13 * x.x + 29 * y.y) % 1024 * 255 + 511)
               // 1023 AS v
      FROM documents d,
           generate_series(0, 6) x(x), generate_series(0, 3) y(y)
      WHERE x.x < 4 + d.doc_id % 3 AND y.y < 2 + d.doc_id % 2
    ),
    p4 AS (
      SELECT d.doc_id,
             CASE WHEN (x.x + y.y + d.doc_id) % 2 = 1 THEN 0 ELSE 255 END
               AS v
      FROM documents d,
           generate_series(0, 8) x(x), generate_series(0, 1) y(y)
      WHERE x.x < 5 + d.doc_id % 4
    ),
    px AS (
      SELECT doc_id, r, g, b FROM p6
      UNION ALL SELECT doc_id, v, v, v FROM p5
      UNION ALL SELECT doc_id, v, v, v FROM p4
    )
    SELECT doc_id,
           CAST(3 AS INT) AS n_images,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(MIN(r) AS INT) AS r_min,
           CAST(MAX(r) AS INT) AS r_max
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_pnm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes netpbm decode end to end: per doc a binary P6
    pixmap, a 16-BIT P5 graymap (maxval 1023 — two-byte big-endian
    samples with the exact integer rescale (v·255 + 511)//1023), and
    a packed P4 bitmap (MSB-first rows with pad bits) are encoded and
    decoded through the full codec (``operators/pnm.py`` — the ASCII
    P1/P2/P3 tokenizer with comments and ragged whitespace is pinned
    by hand-assembled streams in tests/test_pnm.py) inside one
    Arrow-batched mapInPandas pass. Lossless formats + integer
    rescale ⇒ the oracle recomputes every channel statistic
    arithmetically; a defect in the binary separator, row packing,
    byte order, or maxval scaling breaks the sums."""
    def per_doc(pnm, did):
        w1, h1 = 3 + did % 4, 2 + did % 3
        rgb = [
            v
            for y in range(h1)
            for x in range(w1)
            for v in (
                (did + 2 * x) % 256,
                (did * 3 + y) % 256,
                (x + y + did) % 256,
            )
        ]
        w2, h2 = 4 + did % 3, 2 + did % 2
        grays = [
            (did * 37 + 13 * x + 29 * y) % 1024
            for y in range(h2)
            for x in range(w2)
        ]
        w3, h3 = 5 + did % 4, 2
        bits = [
            (x + y + did) % 2
            for y in range(h3)
            for x in range(w3)
        ]
        a = pnm.decode_pnm(pnm.encode_pnm("P6", w1, h1, rgb, 255))
        b = pnm.decode_pnm(pnm.encode_pnm("P5", w2, h2, grays, 1023))
        c = pnm.decode_pnm(pnm.encode_pnm("P4", w3, h3, bits))
        yield sum_image_stats(a, b, c)

    return decoded_stats_query(
        spark,
        sf_dir,
        "pnm",
        "doc_id bigint, n_images int, n_px bigint, r_sum bigint,"
        " g_sum bigint, b_sum bigint, r_min int, r_max int",
        per_doc,
        fan_out=True,
    )


@query(
    "dph_topk_docs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avglen
      FROM doclen
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, tok
    ),
    cf AS (
      SELECT tok,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS coll_tf
      FROM tf GROUP BY tok
    ),
    qterms AS (
      SELECT tok, df, coll_tf FROM cf ORDER BY df DESC, tok LIMIT 3
    ),
    contrib AS (
      SELECT t.doc_id,
             CASE WHEN t.tf >= dl.len THEN CAST(0 AS BIGINT) ELSE
               CAST(FLOOR(
                 ((1.0 - CAST(t.tf AS DOUBLE) / dl.len)
                  * (1.0 - CAST(t.tf AS DOUBLE) / dl.len)
                  / (t.tf + 1.0))
                 * (t.tf * (ln(t.tf * (s.avglen / dl.len)
                               * (CAST(s.n_docs AS DOUBLE) / q.coll_tf))
                            * 1.4426950408889634)
                    + 0.5 * (ln(6.283185307179586 * t.tf
                                * (1.0 - CAST(t.tf AS DOUBLE) / dl.len))
                             * 1.4426950408889634))
                 * 1e6 + 0.5) AS BIGINT)
             END AS c_e6
      FROM tf t
      JOIN qterms q ON q.tok = t.tok
      JOIN doclen dl ON dl.doc_id = t.doc_id
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(c_e6) AS BIGINT) AS dph_e6
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, dph_e6
    FROM scored
    ORDER BY dph_e6 DESC, doc_id
    LIMIT 20
    """,
)
def dph_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPH divergence-from-randomness ranking — the PARAMETER-FREE
    member of the lexical retrieval family (BM25 tunes k1/b, PL2
    tunes c; DPH's hypergeometric model has no free parameter, which
    is why it's the zero-config baseline in Terrier). Per (doc, term):
    f = tf/len, norm = (1−f)²/(tf+1), score = norm·(tf·log2(tf·
    (avglen/len)·(N/coll_tf)) + ½·log2(2π·tf·(1−f))) — one double
    tree with log2 expanded as ln·1/ln2 so both engines evaluate the
    identical ln-based expression, floored once to an e6 integer
    (tf = len, where the Bernoulli factor vanishes and the log term
    is singular, contributes exactly 0); per-doc scores are exact
    integer sums. Scale: one tokenize pass, broadcast 3-term probe,
    TakeOrderedAndProject — same profile as `bm25_topk_docs` /
    `pl2_topk_docs`."""
    d = _t(spark, sf_dir, "documents")
    # the corpus token relation feeds the doclen/df/tf consumers —
    # stage the regex tokenization once instead of re-exploding per
    # consumer (guide §5; same finding as the RM3/minhash staging)
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    ).localCheckpoint(eager=True)
    doclen = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("len")
    )
    stats = doclen.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avglen"),
    )
    tf = tok.groupBy("doc_id", "tok").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    cf = tf.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("coll_tf"),
    )
    qterms = cf.orderBy(F.desc("df"), F.asc("tok")).limit(3)
    contrib = (
        tf.join(F.broadcast(qterms.select("tok", "coll_tf")), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                """CASE WHEN tf >= len THEN CAST(0 AS BIGINT) ELSE
                     CAST(FLOOR(
                       ((1.0 - CAST(tf AS DOUBLE) / len)
                        * (1.0 - CAST(tf AS DOUBLE) / len)
                        / (tf + 1.0))
                       * (tf * (ln(tf * (avglen / len)
                                   * (CAST(n_docs AS DOUBLE) / coll_tf))
                                * 1.4426950408889634)
                          + 0.5 * (ln(6.283185307179586 * tf
                                      * (1.0 - CAST(tf AS DOUBLE) / len))
                                   * 1.4426950408889634))
                       * 1e6 + 0.5) AS BIGINT)
                   END"""
            ).alias("c_e6"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c_e6").cast("bigint").alias("dph_e6"))
        .orderBy(F.desc("dph_e6"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "token_budget_truncation",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                  AS BIGINT) AS toks
      FROM documents
    ),
    cum AS (
      SELECT lang, toks,
             SUM(toks) OVER (
               PARTITION BY lang
               ORDER BY toks DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_toks
      FROM d
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS docs_total,
           CAST(SUM(CASE WHEN cum_toks <= 50000 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_kept,
           CAST(SUM(toks) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN cum_toks <= 50000 THEN toks ELSE 0 END)
                AS BIGINT) AS tokens_kept
    FROM cum
    GROUP BY lang
    ORDER BY lang
    """,
)
def token_budget_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget truncation — the mixture-building
    step after weights are chosen (`source_mixing_weights` decides HOW
    MUCH of each language; this op decides WHICH documents fill the
    budget): rank each language's documents by token count (longest
    first, doc_id tiebreak — a deterministic stand-in for the quality
    ordering a curation score would give) and keep the prefix whose
    running token total fits the 50k-token budget. The running sum is
    a window PARTITIONED by language (never global); at 100 TB the
    per-lang ordering reuses the distributed-rank cumsum operator if
    a single language's corpus outgrows one reducer — the documented
    escalation path of `pack_documents`."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(size(regexp_extract_all(lower(text), '[a-z]+', 0))"
            " AS BIGINT)"
        ).alias("toks"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("toks"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cum_toks", F.sum("toks").over(w))
    return (
        cum.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("docs_total"),
            F.sum(
                F.expr("CASE WHEN cum_toks <= 50000 THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("docs_kept"),
            F.sum("toks").cast("bigint").alias("tokens_total"),
            F.sum(
                F.expr(
                    "CASE WHEN cum_toks <= 50000 THEN toks ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .orderBy("lang")
    )


@query(
    "multimodal_tiff_decode",
    oracle="""
    WITH g AS (
      SELECT d.doc_id,
             (d.doc_id * 7 + 5 * x.x + 3 * y.y) % 256 AS v
      FROM documents d,
           generate_series(0, 7) x(x),
           generate_series(0, 5) y(y)
      WHERE x.x < 3 + d.doc_id % 5 AND y.y < 2 + d.doc_id % 4
    ),
    c AS (
      SELECT d.doc_id,
             (d.doc_id + 11 * x.x + y.y) % 256 AS r,
             (d.doc_id * 5 + x.x) % 256 AS gg,
             (d.doc_id * 9 + 4 * y.y) % 256 AS b
      FROM documents d,
           generate_series(0, 6) x(x),
           generate_series(0, 4) y(y)
      WHERE x.x < 4 + d.doc_id % 3 AND y.y < 2 + d.doc_id % 3
    ),
    ga AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS g_px,
             CAST(SUM(v) AS BIGINT) AS gray_sum,
             CAST(MIN(v) AS INT) AS gmin,
             CAST(MAX(v) AS INT) AS gmax
      FROM g GROUP BY doc_id
    ),
    ca AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS c_px,
             CAST(SUM(r) AS BIGINT) AS r_sum,
             CAST(SUM(gg) AS BIGINT) AS g_sum,
             CAST(SUM(b) AS BIGINT) AS b_sum
      FROM c GROUP BY doc_id
    )
    SELECT ga.doc_id,
           CAST(2 AS INT) AS n_images,
           ga.g_px + ca.c_px AS n_px,
           ga.gray_sum, ga.gmin, ga.gmax,
           ca.r_sum, ca.g_sum, ca.b_sum
    FROM ga JOIN ca ON ca.doc_id = ga.doc_id
    ORDER BY ga.doc_id
    """,
)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes baseline-TIFF decode end to end: per doc a
    MULTI-STRIP little-endian 8-bit grayscale TIFF (rows_per_strip=2,
    so strip assembly is exercised) AND a big-endian RGB TIFF are
    encoded and decoded through the full container parser
    (``operators/tiff.py`` — byte-order mark, IFD walk,
    inline-vs-offset values, strip concatenation; pinned against a
    hand-assembled spec stream in tests/test_tiff.py) inside one
    Arrow-batched mapInPandas pass. Lossless, so the oracle recomputes
    the channel statistics arithmetically from the closed-form pixel
    formulas — a defect in IFD parsing, endian handling, or strip
    framing breaks the sums. Same fan-out note as the other codecs:
    the id column is repartitioned because the testdata table is one
    small file."""
    def per_doc(tiff, did):
        w1, h1 = 3 + did % 5, 2 + did % 4
        gray = bytes(
            (did * 7 + 5 * x + 3 * y) % 256
            for y in range(h1)
            for x in range(w1)
        )
        w2, h2 = 4 + did % 3, 2 + did % 3
        rgb = bytes(
            v
            for y in range(h2)
            for x in range(w2)
            for v in (
                (did + 11 * x + y) % 256,
                (did * 5 + x) % 256,
                (did * 9 + 4 * y) % 256,
            )
        )
        a = tiff.decode_tiff(
            tiff.encode_tiff_gray8(w1, h1, gray, rows_per_strip=2)
        )
        b = tiff.decode_tiff(
            tiff.encode_tiff_rgb8(w2, h2, rgb, big_endian=True)
        )
        yield {
            "n_images": 2,
            "n_px": a["n_px"] + b["n_px"],
            "gray_sum": a["r_sum"],
            "gmin": a["s_min"],
            "gmax": a["s_max"],
            "r_sum": b["r_sum"],
            "g_sum": b["g_sum"],
            "b_sum": b["b_sum"],
        }

    return decoded_stats_query(
        spark,
        sf_dir,
        "tiff",
        "doc_id bigint, n_images int, n_px bigint, gray_sum bigint,"
        " gmin int, gmax int, r_sum bigint, g_sum bigint,"
        " b_sum bigint",
        per_doc,
        fan_out=True,
    )


@query(
    "multimodal_mp3_meta",
    oracle="""
    WITH f AS (
      SELECT d.doc_id, i.i,
             ([32,40,48,56,64,80,96,112,128,
               160,192,224,256,320])[
               CASE WHEN d.doc_id % 2 = 0
                    THEN 1 + d.doc_id % 14
                    ELSE 1 + (d.doc_id + 3 * i.i) % 14 END] AS kbps,
             (d.doc_id + i.i) % 2 AS pad,
             ([44100,48000,32000])[1 + d.doc_id % 3] AS hz
      FROM documents d, generate_series(0, 8) i(i)
      WHERE i.i < 4 + d.doc_id % 5
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(MIN(hz) AS INT) AS sample_rate,
           CAST(SUM(1152 * 1000000 // hz) AS BIGINT) AS duration_us,
           CAST(MIN(kbps) AS INT) AS kbps_min,
           CAST(MAX(kbps) AS INT) AS kbps_max,
           CAST(SUM(kbps) AS BIGINT) AS kbps_sum,
           CAST(SUM(144000 * kbps // hz + pad)
                + CASE WHEN doc_id % 7 > 0
                       THEN 10 + (doc_id % 7) * 5 ELSE 0 END
                AS BIGINT) AS n_bytes,
           CAST(CASE WHEN COUNT(DISTINCT kbps) > 1 OR doc_id % 2 = 1
                THEN 1 ELSE 0 END AS INT) AS is_vbr,
           CAST(doc_id % 2 AS INT) AS has_xing,
           CAST(CASE WHEN doc_id % 2 = 1
                THEN COUNT(*) ELSE -1 END AS BIGINT) AS xing_frames,
           CAST(CASE WHEN doc_id % 7 > 0
                THEN 10 + (doc_id % 7) * 5 ELSE 0 END
                AS BIGINT) AS id3_bytes
    FROM f GROUP BY doc_id ORDER BY doc_id
    """,
)
def multimodal_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes MP3 metadata decode end to end (VERDICT r12 #5): per
    doc a syntactically-valid Layer III stream is built — even doc_ids
    get CBR frames, odd ones a VBR bitrate walk plus a Xing
    frame-count header in frame 0, most get an ID3v2 tag prefix — and
    parsed back through the full frame-header walk
    (``operators/mp3.py``: sync scan, version/bitrate/samplerate
    tables, padding arithmetic, side-info offset to the Xing block,
    ID3v2 syncsafe skip; pinned against hand-assembled spec streams in
    tests/test_mp3.py) inside one Arrow-batched mapInPandas pass.  The
    header walk is pure arithmetic on public tables, so the oracle
    recomputes every statistic in closed form — a defect in frame-length
    math, table lookup, tag skipping, or Xing offsets breaks the sums.
    No audio decode (that is the documented capability boundary).
    Same fan-out note as the other codecs: the id column is
    repartitioned because the testdata table is one small file."""
    def per_doc(mp3, did):
        n = 4 + did % 5
        if did % 2 == 0:
            idxs = [1 + did % 14] * n
        else:
            idxs = [1 + (did + 3 * i) % 14 for i in range(n)]
        raw = mp3.encode_mp3(
            idxs,
            samplerate_idx=did % 3,
            paddings=[(did + i) % 2 for i in range(n)],
            id3_size=(did % 7) * 5 if did % 7 else 0,
            xing=did % 2 == 1,
        )
        yield mp3.decode_mp3_meta(raw)

    return decoded_stats_query(
        spark,
        sf_dir,
        "mp3",
        "doc_id bigint, n_frames bigint, sample_rate int,"
        " duration_us bigint, kbps_min int, kbps_max int,"
        " kbps_sum bigint, n_bytes bigint, is_vbr int,"
        " has_xing int, xing_frames bigint, id3_bytes bigint",
        per_doc,
        fan_out=True,
    )


@query(
    "multimodal_flac_meta",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             ([32000,44100,48000])[1 + doc_id % 3] AS sr,
             1 + doc_id % 2 AS ch,
             16 + 8 * (doc_id % 2) AS bps,
             ([32000,44100,48000])[1 + doc_id % 3] * (1 + doc_id % 4)
               + doc_id % 1000 AS total,
             (doc_id % 5) * 7 AS pad,
             doc_id % 4 AS vc,
             50 + doc_id % 20 AS audio
      FROM documents
    )
    SELECT doc_id,
           CAST(sr AS BIGINT) AS sample_rate,
           CAST(ch AS INT) AS channels,
           CAST(bps AS INT) AS bits_per_sample,
           CAST(total AS BIGINT) AS total_samples,
           CAST(total * 1000000 // sr AS BIGINT) AS duration_us,
           CAST(1 + CASE WHEN vc > 0 THEN 1 ELSE 0 END
                  + CASE WHEN pad > 0 THEN 1 ELSE 0 END AS INT)
             AS n_blocks,
           CAST(pad AS BIGINT) AS padding_bytes,
           CAST(vc AS BIGINT) AS vorbis_comments,
           CAST(4 + 38
                + CASE WHEN vc > 0 THEN 4 + 17 + 9 * vc ELSE 0 END
                + CASE WHEN pad > 0 THEN 4 + pad ELSE 0 END
                AS BIGINT) AS meta_bytes,
           CAST(4 + 38
                + CASE WHEN vc > 0 THEN 4 + 17 + 9 * vc ELSE 0 END
                + CASE WHEN pad > 0 THEN 4 + pad ELSE 0 END
                + audio AS BIGINT) AS n_bytes
    FROM p ORDER BY doc_id
    """,
)
def multimodal_flac_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes FLAC container decode end to end: per doc a
    syntactically-valid FLAC stream (STREAMINFO with the packed
    20/3/5/36-bit field group, optional VORBIS_COMMENT and PADDING
    blocks, filler audio region) is built and parsed back through the
    full metadata-block walk (``operators/flac.py``; pinned against
    hand-assembled spec streams in tests/test_flac.py) inside one
    Arrow-batched mapInPandas pass.  The container layout is pure
    arithmetic, so the oracle recomputes every field in closed form —
    a defect in the bit unpacking, the 24-bit block-length walk, or
    the little-endian Vorbis framing breaks the sums.  Audio decode
    (Rice/LPC subframes) is the documented capability boundary.  Same
    fan-out note as the other codecs: the id column is repartitioned
    because the testdata table is one small file."""
    def per_doc(flac, did):
        sr = [32000, 44100, 48000][did % 3]
        raw = flac.encode_flac_meta(
            sample_rate=sr,
            channels=1 + did % 2,
            bits_per_sample=16 + 8 * (did % 2),
            total_samples=sr * (1 + did % 4) + did % 1000,
            block_size=1024,
            padding=(did % 5) * 7,
            vorbis_comments=did % 4,
            audio_bytes=50 + did % 20,
        )
        m = flac.decode_flac_meta(raw)
        assert m["valid"] == 1
        yield m

    return decoded_stats_query(
        spark,
        sf_dir,
        "flac",
        "doc_id bigint, sample_rate bigint, channels int,"
        " bits_per_sample int, total_samples bigint,"
        " duration_us bigint, n_blocks int, padding_bytes bigint,"
        " vorbis_comments bigint, meta_bytes bigint, n_bytes bigint",
        per_doc,
        fan_out=True,
    )


@query(
    "keywords_per_doc_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    scored AS (
      SELECT t.doc_id, t.tok,
             CAST(FLOOR(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df)
                        * 1e6 + 0.5) AS BIGINT) AS score_e6
      FROM tf t JOIN df d ON d.tok = t.tok CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, tok, score_e6,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY score_e6 DESC, tok) AS BIGINT) AS rnk
      FROM scored
    )
    SELECT doc_id, rnk, tok, score_e6
    FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
)
def keywords_per_doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF — the
    doc-level twin of the corpus-level `tfidf_top_terms` (that one
    asks "which terms characterize the corpus"; this one asks "which
    terms characterize EACH document", the form a tagging/labeling
    pipeline consumes). Scores are floored once to e6 integers BEFORE
    the ranking window so the per-doc order (score desc, term asc) is
    a total integer order — no cross-engine double-comparison ties.
    Scale: one tokenize pass, the df side is a term-grain aggregate
    (vocab-bounded), and the window partitions per doc_id."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    )
    tf = (
        tok.groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
        # the (doc, term) tf aggregate feeds df, the doc count AND the
        # scoring join — pin it once instead of three tokenize+groupBy
        # re-executions (guide §5)
        .localCheckpoint(eager=True)
    )
    df = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    n = tf.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.expr(
                "CAST(FLOOR(tf * ln(CAST(n_docs AS DOUBLE) / df)"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("score_e6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_e6"), F.asc("tok")
    )
    return (
        scored.withColumn(
            "rnk", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "score_e6")
        .orderBy("doc_id", "rnk")
    )


@query(
    "theil_u_lang_source",
    oracle="""
    WITH c AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_ls
      FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(n_ls) AS BIGINT) AS n FROM c),
    lm AS (SELECT lang, CAST(SUM(n_ls) AS BIGINT) AS n_l FROM c GROUP BY lang),
    sm AS (
      SELECT source, CAST(SUM(n_ls) AS BIGINT) AS n_s FROM c GROUP BY source
    ),
    hl AS (
      SELECT CAST(SUM(CAST(FLOOR(
               (CAST(n_l AS DOUBLE) / t.n)
               * ln(CAST(t.n AS DOUBLE) / n_l) * 1e9 + 0.5)
             AS BIGINT)) AS BIGINT) AS h_lang_e9
      FROM lm CROSS JOIN tot t
    ),
    mi AS (
      SELECT CAST(SUM(CAST(FLOOR(
               (CAST(c.n_ls AS DOUBLE) / t.n)
               * ln(CAST(c.n_ls AS DOUBLE) * t.n
                    / (CAST(l.n_l AS DOUBLE) * s.n_s)) * 1e9 + 0.5)
             AS BIGINT)) AS BIGINT) AS mi_e9
      FROM c
      JOIN lm l ON l.lang = c.lang
      JOIN sm s ON s.source = c.source
      CROSS JOIN tot t
    )
    SELECT h.h_lang_e9, m.mi_e9,
           CASE WHEN h.h_lang_e9 > 0 THEN
             CAST(FLOOR(CAST(m.mi_e9 AS DOUBLE) / h.h_lang_e9
                        * 1e6 + 0.5) AS BIGINT)
           END AS u_e6
    FROM hl h CROSS JOIN mi m
    """,
)
def theil_u_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(lang | source) = I(lang;
    source) / H(lang) — the ASYMMETRIC, [0,1]-normalized association
    measure (`mutual_info_lang_source` reports raw MI in nats;
    Cramér's V is symmetric; U answers "how much of the language
    distribution does knowing the source explain", the direction a
    corpus-curation dashboard reads). Every entropy/MI cell
    contribution is floored once to an e9 integer so the cross-cell
    sums are order-independent; the final ratio is one double
    division rounded to e6. Contingency grid is category-bounded —
    one scan, tiny shuffles."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_ls")
    )
    tot = c.agg(F.sum("n_ls").cast("bigint").alias("n"))
    lm = c.groupBy("lang").agg(F.sum("n_ls").cast("bigint").alias("n_l"))
    sm = c.groupBy("source").agg(
        F.sum("n_ls").cast("bigint").alias("n_s")
    )
    hl = (
        lm.crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                """CAST(FLOOR(
                     (CAST(n_l AS DOUBLE) / n)
                     * ln(CAST(n AS DOUBLE) / n_l) * 1e9 + 0.5)
                   AS BIGINT)"""
            ).alias("h_c")
        )
        .agg(F.sum("h_c").cast("bigint").alias("h_lang_e9"))
    )
    mi = (
        c.join(F.broadcast(lm), "lang")
        .join(F.broadcast(sm), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                """CAST(FLOOR(
                     (CAST(n_ls AS DOUBLE) / n)
                     * ln(CAST(n_ls AS DOUBLE) * n
                          / (CAST(n_l AS DOUBLE) * n_s)) * 1e9 + 0.5)
                   AS BIGINT)"""
            ).alias("mi_c")
        )
        .agg(F.sum("mi_c").cast("bigint").alias("mi_e9"))
    )
    return hl.crossJoin(F.broadcast(mi)).select(
        "h_lang_e9",
        "mi_e9",
        F.expr(
            """CASE WHEN h_lang_e9 > 0 THEN
                 CAST(FLOOR(CAST(mi_e9 AS DOUBLE) / h_lang_e9
                            * 1e6 + 0.5) AS BIGINT)
               END"""
        ).alias("u_e6"),
    )


@query(
    "sentence_split_stats",
    oracle="""
    WITH sents AS (
      SELECT doc_id, lang,
             len(list_filter(
               string_split_regex(text, '[.!?]+'),
               s -> len(trim(s)) > 0)) AS n_sents,
             CAST(len(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sents) AS BIGINT) AS sents_total,
           CAST(MAX(n_sents) AS BIGINT) AS sents_max,
           CASE WHEN SUM(n_sents) > 0 THEN
             CAST(FLOOR(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_sents)
                        * 1e6 + 0.5) AS BIGINT)
           END AS chars_per_sent_e6
    FROM sents
    GROUP BY lang
    ORDER BY lang
    """,
)
def sentence_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation statistics per language — the unit every
    context-window packer and per-sentence quality scorer chops on
    (`chunk_documents` cuts on tokens; real curation cuts on sentence
    boundaries first). Sentences = non-blank spans between [.!?]+
    runs, counted with the same regex split + trim filter on both
    engines; per-lang totals are exact integers and the mean sentence
    length is one double division rounded to e6. One scan, lang-grain
    aggregate."""
    d = _t(spark, sf_dir, "documents")
    sents = d.select(
        "lang",
        F.expr(
            "size(filter(split(text, '[.!?]+'),"
            " s -> length(trim(s)) > 0))"
        ).alias("n_sents"),
        F.expr("CAST(length(text) AS BIGINT)").alias("n_chars"),
    )
    return (
        sents.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_sents").cast("bigint").alias("sents_total"),
            F.max("n_sents").cast("bigint").alias("sents_max"),
            # zero-sentence languages (no [.!?] anywhere) must yield
            # NULL on both engines, not Infinity — Spark's non-ANSI
            # CAST would saturate to Long.MAX while DuckDB errors
            # (ADVICE r12)
            F.expr(
                "CASE WHEN SUM(n_sents) > 0 THEN"
                " CAST(FLOOR(CAST(SUM(n_chars) AS DOUBLE)"
                " / SUM(n_sents) * 1e6 + 0.5) AS BIGINT) END"
            ).alias("chars_per_sent_e6"),
        )
        .orderBy("lang")
    )


@query(
    "quantile_normalize_doclen",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS x FROM documents
    ),
    lranks AS (
      SELECT lang, doc_id, x,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY x, doc_id) AS BIGINT) AS r,
             CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_l
      FROM d
    ),
    hist AS (
      SELECT x AS c, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY x
    ),
    cum AS (
      SELECT c, cnt, SUM(cnt) OVER (ORDER BY c) AS cw FROM hist
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_g FROM hist),
    targets AS (
      SELECT l.lang, l.doc_id,
             GREATEST(CAST(1 AS BIGINT),
               LEAST(t.n_g,
                 ((2 * l.r - 1) * t.n_g + l.n_l) // (2 * l.n_l)))
               AS g
      FROM lranks l CROSS JOIN tot t
    ),
    mapped AS (
      SELECT t.lang, t.doc_id,
             (SELECT MIN(c) FROM cum WHERE cw >= t.g) AS norm_x
      FROM targets t
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(norm_x) AS BIGINT) AS norm_sum,
           CAST(MIN(norm_x) AS BIGINT) AS norm_min,
           CAST(MAX(norm_x) AS BIGINT) AS norm_max
    FROM mapped
    GROUP BY lang
    ORDER BY lang
    """,
)
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-language document lengths onto
    the pooled global distribution — the batch-effect correction step
    (classic in bioinformatics, equally the right tool when one
    source's length distribution must be reshaped to the corpus
    reference before length-based quality cuts): each doc's
    within-language rank r maps to the global order statistic at the
    same quantile, g = ((2r−1)·N_g + N_l) div (2·N_l), all integer
    arithmetic. The global value-at-rank lookup runs against the
    length VALUE HISTOGRAM's running counts (distributed-rank
    operator — histogram-sized, no global row sort) via a BROADCAST
    range probe; within-language ranks are partitioned windows.
    Output: per-language moments of the normalized lengths, exact
    integers."""
    from local_stream_stack_spark.operators.quantiles import (
        with_global_rank,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("CAST(length(text) AS BIGINT)").alias("x"),
    )
    wl = Window.partitionBy("lang").orderBy("x", "doc_id")
    lranks = d.select(
        "lang",
        "doc_id",
        "x",
        F.row_number().over(wl).cast("bigint").alias("r"),
        F.count("*")
        .over(Window.partitionBy("lang"))
        .cast("bigint")
        .alias("n_l"),
    )
    hist = d.groupBy(F.col("x").alias("c")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    cum = with_global_rank(
        hist, "c", out_rank="__rn", cumsum={"cnt": "cw"},
        acc_type="BIGINT", bins=64,
    ).select("c", "cnt", "cw")
    tot = hist.agg(F.sum("cnt").cast("bigint").alias("n_g"))
    targets = lranks.crossJoin(F.broadcast(tot)).select(
        "lang",
        "doc_id",
        F.expr(
            "GREATEST(CAST(1 AS BIGINT), LEAST(n_g,"
            " ((2 * r - 1) * n_g + n_l) DIV (2 * n_l)))"
        ).alias("g"),
    )
    # value-at-rank: smallest histogram value whose running count
    # reaches g — a broadcast range probe against the tiny cumulative
    # histogram (cw - cnt < g <= cw picks exactly one bucket)
    mapped = targets.join(
        F.broadcast(cum),
        (F.col("cw") >= F.col("g"))
        & (F.col("cw") - F.col("cnt") < F.col("g")),
    ).select("lang", F.col("c").alias("norm_x"))
    return (
        mapped.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("norm_x").cast("bigint").alias("norm_sum"),
            F.min("norm_x").cast("bigint").alias("norm_min"),
            F.max("norm_x").cast("bigint").alias("norm_max"),
        )
        .orderBy("lang")
    )
