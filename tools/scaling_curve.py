"""Measured scaling curve (VERDICT r5 #1): run the heaviest queries at
1x and 10x the sf0.1 corpus and report the per-query scaling exponent
alpha = log10(t_10x / t_1x) — converting the suite's plan-pin 100 TB
*arguments* into *data*. alpha <= ~1.2 is the near-linear bar; any
query above it needs a plan fix or a `weak` flag.

Corpus synthesis (no driver needed, fully deterministic):
- FACT tables replicate R times with key offsets (lineitem/orders
  share the o_orderkey offset so joins stay consistent; events offset
  event_id AND user_id so per-user session work scales in users, not
  in per-user history; documents offset doc_id; embeddings offset
  vec_id). DIMENSION tables stay 1x — scaling facts against fixed
  dims is exactly the 100 TB shape (dims stay broadcast-sized).
- replica r > 0 PERTURBS content: every whitespace token in
  documents.text gets a '~r' suffix (all shingles change, so replicas
  are not artificial near-duplicates of the originals — otherwise LSH
  band buckets would densify quadratically through no fault of the
  algorithm, measuring the DATA not the plan), and embeddings get a
  deterministic per-dimension integer-grid nudge for the same reason.
- the 1x dataset is written through the SAME generator/file layout so
  the two timed runs differ only in scale.

Usage:
    python tools/scaling_curve.py gen   # build .scale/x1 and .scale/x10
    python tools/scaling_curve.py run   # time queries, print JSON+table
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from local_stream_stack_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
OUT = os.path.join(ROOT, ".scale")
DIMS = ["region", "nation", "customer", "supplier", "part"]
FACTS = ["orders", "lineitem", "events", "documents", "embeddings"]


def _stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited. A RocksDB
    state store still open at JVM exit can hang the process in native
    exit code after Spark's shutdown hooks have run (it then ignores
    SIGTERM and outlives the script), so close every loaded state store
    first. The gateway JVM exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        print("the Spark JVM did not exit; killing it", file=sys.stderr)
        proc.kill()
        proc.wait()


# the heavy / scale-relevant slice of the catalog (headline + extended)
MEASURED = [
    "q1_pricing_summary",
    "q2_top_supplier_per_part",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "percentile_stats",
    "exact_quantile_distributed",
    "sessionize_events",
    "corpus_stats_by_lang",
    "text_stats",
    "lang_id",
    "curation_pipeline",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "dedup_containment",
    "semantic_dedup_lsh_components",
    "sim_bruteforce_topk",
    "sim_lsh_topk",
    "sim_ivf_topk",
    "sim_pq_topk",
    "kmeans_embeddings",
    "tfidf_top_terms",
    "perplexity_unigram",
    "multimodal_png_decode",
    "bpe_train_merges",
    "bpe_vocab_counts",
    "dedup_repeated_ngram_spans",
    "perplexity_bigram_interp",
    "sim_ivfpq_topk",
    "sessionize_events_chunked",
    "event_gap_quantiles_chunked",
    "quality_filter_gopher",
    "dedup_substring_spans",
    "session_paths_top",
    "kmv_overlap_daily",
    "dedup_cluster_sizes",
    "dedup_prefix_clusters",
    "customer_rfm_scores",
    "supplier_pareto_abc",
    "revenue_gini_lorenz",
    "benford_first_digit",
    "corr_matrix_lineitem",
    "active_streaks",
    "dedup_token_sort",
    "minhash_calibration",
    "zipf_token_fit",
    "join_explosion_audit",
    # round-8: the LIVE streaming ingest tier (VERDICT r7 #4). Each
    # fn() stages its input files and drives the full streaming job
    # (processAllAvailable) before returning the sink/store read, so
    # the timed run IS the end-to-end live pipeline at that corpus
    # size; micro-batch count stays fixed (maxFilesPerTrigger over the
    # same number of staged files), so growth isolates per-batch work
    # — including the neardup store re-read, which grows with
    # admitted keys.
    "stream_ingest_dedup",
    "stream_ingest_neardup",
    "stream_quality_quarantine",
]


def _offsets(spark) -> dict[str, int]:
    """Clean power-of-ten offsets above each fact key's max."""

    def mx(table, col):
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        v = df.agg(F.max(col)).collect()[0][0] or 0
        return 10 ** (len(str(int(v))) + 1)

    return {
        "orderkey": mx("orders", "o_orderkey"),
        "event": mx("events", "event_id"),
        "user": mx("events", "user_id"),
        "doc": mx("documents", "doc_id"),
        "vec": mx("embeddings", "vec_id"),
    }


def gen(replicas: int = 10, only_facts: list[str] | None = None) -> None:
    """Build .scale/x1 and .scale/x{replicas}. ``only_facts`` limits
    replication to a fact subset (the others are copied at 1x): the
    100x dedup/ANN measurements touch only documents/embeddings, and
    replicating 60M lineitem rows through a 100-way union for queries
    that never read them OOMs the default heap for nothing. A corpus
    generated with a subset must only be measured with queries over
    that subset."""
    spark = get_spark(
        app_name="scaling-gen",
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_SCALE_DRIVER_MEM", "8g"
            )
        },
    )
    off = _offsets(spark)
    for scale, nrep in (("x1", 1), (f"x{replicas}", replicas)):
        out_dir = os.path.join(OUT, scale)
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir, exist_ok=True)
        for t in DIMS:
            spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
                "overwrite"
            ).parquet(f"{out_dir}/{t}.parquet")
        for t in FACTS:
            base = spark.read.parquet(f"{SRC}/{t}.parquet")
            if only_facts is not None and t not in only_facts:
                base.write.mode("overwrite").parquet(
                    f"{out_dir}/{t}.parquet"
                )
                print(f"{scale}/{t}: copied 1x (not in subset)")
                continue
            parts = []
            for r in range(nrep):
                df = base
                if t == "orders":
                    df = df.withColumn(
                        "o_orderkey",
                        F.col("o_orderkey") + F.lit(r * off["orderkey"]),
                    )
                elif t == "lineitem":
                    df = df.withColumn(
                        "l_orderkey",
                        F.col("l_orderkey") + F.lit(r * off["orderkey"]),
                    )
                elif t == "events":
                    df = df.withColumn(
                        "event_id", F.col("event_id") + F.lit(r * off["event"])
                    ).withColumn(
                        "user_id", F.col("user_id") + F.lit(r * off["user"])
                    )
                elif t == "documents":
                    df = df.withColumn(
                        "doc_id", F.col("doc_id") + F.lit(r * off["doc"])
                    )
                    if r > 0:
                        df = df.withColumn(
                            "text",
                            F.concat_ws(
                                " ",
                                F.transform(
                                    F.split("text", " "),
                                    lambda w: F.concat(
                                        w, F.lit(f"~{r}")
                                    ),
                                ),
                            ),
                        ).withColumn("n_chars", F.length("text").cast("bigint"))
                elif t == "embeddings":
                    df = df.withColumn(
                        "vec_id", F.col("vec_id") + F.lit(r * off["vec"])
                    )
                    if r > 0:
                        # deterministic grid nudge: decorrelates
                        # replicas without changing norms much
                        df = df.withColumn(
                            "embedding",
                            F.expr(
                                "transform(embedding, (v, i) -> CAST(v +"
                                f" (({r} * 31 + i * 7) % 21 - 10) * 0.003"
                                " AS FLOAT))"
                            ),
                        )
                parts.append(df)
            full = parts[0]
            for p in parts[1:]:
                full = full.unionByName(p)
            full.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
            n = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
            print(f"{scale}/{t}: {n} rows")
    _stop_spark(spark)


def run(
    n_runs: int = 3,
    only: list[str] | None = None,
    scales: tuple[str, str] = ("x1", "x10"),
) -> None:
    from local_stream_stack_spark.queries import QUERIES

    # 10x data under the default 1g driver JVM OOMs on legitimate
    # broadcast builds; this tool owns its session, so size the heap
    # to the host (the engine's conf is otherwise identical)
    spark = get_spark(
        app_name="scaling-run",
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_SCALE_DRIVER_MEM", "8g"
            )
        },
    )
    # warm JVM + Python worker pool (same protocol as bench.py)
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4, numPartitions=par).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    results: dict[str, dict] = {}
    for scale in scales:
        sf_dir = os.path.join(OUT, scale)
        for name in only or MEASURED:
            spec = QUERIES.get(name)
            if spec is None:
                continue
            best = None
            for _ in range(n_runs):
                t0 = time.time()
                spec.fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best or 9e9, time.time() - t0)
            results.setdefault(name, {})[scale] = round(best, 3)
            print(f"{scale} {name}: {best:.3f}s", file=sys.stderr)
    _stop_spark(spark)

    lo, hi = scales
    # decades between the two corpora (x1 -> x10 = 1 decade,
    # x1 -> x100 = 2): the exponent stays comparable across spans
    decades = math.log10(int(hi[1:]) / int(lo[1:]))
    table = {}
    for name, r in results.items():
        alpha = (
            math.log10(max(r[hi], 1e-9) / max(r[lo], 1e-9)) / decades
        )
        table[name] = {
            f"t_{lo}_sec": r[lo],
            f"t_{hi}_sec": r[hi],
            "alpha": round(alpha, 3),
        }
    print(json.dumps({"scales": list(scales), "scaling": table}))
    print(f"\n| query | {lo} sec | {hi} sec | exponent |")
    print("|---|---|---|---|")
    for name, r in sorted(
        table.items(), key=lambda kv: -kv[1]["alpha"]
    ):
        flag = " **> 1.2**" if r["alpha"] > 1.2 else ""
        print(
            f"| {name} | {r[f't_{lo}_sec']} | {r[f't_{hi}_sec']} |"
            f" {r['alpha']}{flag} |"
        )


def stream_store() -> None:
    """Isolate the neardup STORE-READ growth (VERDICT r7 #4): time one
    FIXED-size ingest epoch (2,000 fresh docs) against a pre-admitted
    key store built from the x1 vs x10 corpora. The full-query curve
    conflates per-batch signature compute (linear in batch, identical
    here) with the store semi-join (grows with admitted keys); this
    probe holds the batch constant so the exponent is the store
    read's alone."""
    import tempfile

    from local_stream_stack_spark.streaming.ops import (
        ingest_neardup_stream_parquet,
    )

    spark = get_spark(app_name="store-growth")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4, numPartitions=par).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    results = {}
    for scale in ("x1", "x10"):
        docs = spark.read.parquet(
            os.path.join(OUT, scale, "documents.parquet")
        ).select("doc_id", "text")
        probe = (
            spark.read.parquet(os.path.join(OUT, "x1", "documents.parquet"))
            .select(
                (F.col("doc_id") + 50_000_000).alias("doc_id"),
                F.concat(F.lit("probe "), "text").alias("text"),
            )
            .limit(2000)
        )
        base = tempfile.mkdtemp(prefix=f"store-growth-{scale}-")
        in_dir = os.path.join(base, "in")
        os.makedirs(in_dir)
        q = ingest_neardup_stream_parquet(
            spark.readStream.schema("doc_id bigint, text string").parquet(
                in_dir
            ),
            id_col="doc_id",
            text_col="text",
            order_col="doc_id",
            store_path=os.path.join(base, "store"),
            checkpoint_location=os.path.join(base, "cp"),
            portable=True,
        )
        # epoch 0: fill the store (cost excluded — it scales with the
        # corpus by construction)
        docs.coalesce(4).write.mode("append").parquet(in_dir)
        q.processAllAvailable()
        n_keys = spark.read.parquet(
            os.path.join(base, "store", "keys", "__epoch=0")
        ).count()
        # epoch 1: the FIXED probe batch against that store
        probe.coalesce(1).write.mode("append").parquet(in_dir)
        t0 = time.time()
        q.processAllAvailable()
        dt = time.time() - t0
        q.stop()
        results[scale] = {"store_keys": n_keys, "epoch_sec": round(dt, 3)}
        print(f"{scale}: {n_keys} admitted keys, fixed epoch {dt:.3f}s",
              file=sys.stderr)
        shutil.rmtree(base, ignore_errors=True)
    _stop_spark(spark)
    alpha = math.log10(
        max(results["x10"]["epoch_sec"], 1e-9)
        / max(results["x1"]["epoch_sec"], 1e-9)
    )
    print(json.dumps({"probe": "neardup_store_growth",
                      "results": results, "alpha": round(alpha, 3)}))


def stream_store_synth() -> None:
    """SECOND decade for the store-growth probe (VERDICT r8 task #4):
    the ingest-built store tops out near 380k admitted keys (x10
    corpus), so this variant SEEDS the key store directly with
    synthetic band keys — schema- and distribution-shaped like real
    ones ((band 0..7, '|'-joined 4-value portable hash), sorted by
    (band, bh) like the real epoch files) — at 10^5.5..10^6.6 keys,
    then times the SAME fixed 2,000-doc first epoch against each.
    Seeding at ``__epoch=-1`` makes the measured batch (epoch 0) see
    the whole store through the strictly-earlier-epoch filter without
    replay hazards. Only the store-read half varies; signature
    compute is identical by construction."""
    import tempfile

    from local_stream_stack_spark.streaming.ops import (
        ingest_neardup_stream_parquet,
    )

    # 8g heap for THIS TOOL only (engine default untouched): seeding
    # 3.8M sorted keys across 32 local threads overflows the 1g
    # default during the one-off store build, which is not the
    # component under measurement
    spark = get_spark(
        app_name="store-growth-synth",
        extra_conf={"spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4, numPartitions=par).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    probe_src = (
        spark.read.parquet(os.path.join(OUT, "x1", "documents.parquet"))
        .select(
            (F.col("doc_id") + 50_000_000).alias("doc_id"),
            F.concat(F.lit("probe "), "text").alias("text"),
        )
        .limit(2000)
        .localCheckpoint(eager=True)
    )

    sizes = {
        "s380k": 380_464,
        "s3.8m": 3_804_640,
        "s38m": 38_046_400,  # third decade (VERDICT r9 task #6)
    }
    labels = sys.argv[2:] or ["s380k", "s3.8m"]
    results = {}
    for label in labels:
        n_keys = sizes[label]
        n_docs = n_keys // 8
        seed = (
            spark.range(n_docs)
            .select(
                (F.col("id") + 10_000_000).alias("doc_id"),
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.concat_ws(
                                "|",
                                *[
                                    F.abs(
                                        F.xxhash64(
                                            F.col("id"), F.lit(b), F.lit(j)
                                        )
                                    ).cast("string")
                                    for j in range(4)
                                ],
                            ).alias("bh"),
                        )
                        for b in range(8)
                    ])
                ).alias("bk"),
            )
            .select("doc_id", "bk.band", "bk.bh")
        )
        base = tempfile.mkdtemp(prefix=f"store-synth-{label}-")
        in_dir = os.path.join(base, "in")
        os.makedirs(in_dir)
        seed.coalesce(8).sortWithinPartitions("band", "bh").write.parquet(
            os.path.join(base, "store", "keys", "__epoch=-1")
        )
        q = ingest_neardup_stream_parquet(
            spark.readStream.schema("doc_id bigint, text string").parquet(
                in_dir
            ),
            id_col="doc_id",
            text_col="text",
            order_col="doc_id",
            store_path=os.path.join(base, "store"),
            checkpoint_location=os.path.join(base, "cp"),
            portable=True,
        )
        probe_src.coalesce(1).write.mode("append").parquet(in_dir)
        t0 = time.time()
        q.processAllAvailable()
        dt = time.time() - t0
        q.stop()
        results[label] = {"store_keys": n_keys, "epoch_sec": round(dt, 3)}
        print(f"{label}: {n_keys} seeded keys, fixed epoch {dt:.3f}s",
              file=sys.stderr)
        shutil.rmtree(base, ignore_errors=True)
    _stop_spark(spark)
    alphas = _decade_alphas(results, labels)
    print(json.dumps({"probe": "neardup_store_growth_synth",
                      "results": results, "alphas": alphas}))


def _decade_alphas(results: dict, labels: list[str]) -> dict:
    """Per-adjacent-pair scaling exponents: log(t2/t1)/log(k2/k1)."""
    alphas = {}
    for a, b in zip(labels, labels[1:]):
        ra, rb = results[a], results[b]
        alphas[f"{a}->{b}"] = round(
            math.log10(max(rb["epoch_sec"], 1e-9)
                       / max(ra["epoch_sec"], 1e-9))
            / math.log10(rb["store_keys"] / ra["store_keys"]),
            3,
        )
    return alphas


def stream_store_tws() -> None:
    """Store-growth probe for the INDEXED key store
    (``neardup_claims_stream_tws`` — Spark's streaming dedup state over
    band keys, VERDICT r9 task #5): seed the claims by streaming N
    synthetic band keys through the operator (untimed epoch 0), then
    time the SAME fixed 16,000-key probe epoch (2,000 docs x 8 bands,
    all novel buckets) against each store size. Isolates the
    state-lookup term the parquet probe measures as O(store scan):
    each probe key is one keyed state lookup + insert in the RocksDB
    provider this probe sets, so the epoch cost should stay FLAT
    across decades. The rowwise signature compute is deliberately
    excluded — it is batch-constant at every store size (the parquet
    probe carries it identically), and the memory discipline is to
    isolate state growth with fixed epochs.

    Usage: python tools/scaling_curve.py stream_store_tws [s380k s3.8m s38m]
    """
    import tempfile

    from local_stream_stack_spark.streaming.ops import (
        neardup_claims_stream_tws,
    )

    spark = get_spark(
        app_name="store-growth-tws",
        extra_conf={"spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    def synth_keys(n_docs: int, id_base: int, salt: int):
        return (
            spark.range(n_docs)
            .select(
                (F.col("id") + id_base).alias("doc_id"),
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.concat_ws(
                                "|",
                                *[
                                    F.abs(
                                        F.xxhash64(
                                            F.col("id"), F.lit(b),
                                            F.lit(j + salt),
                                        )
                                    ).cast("string")
                                    for j in range(4)
                                ],
                            ).alias("bh"),
                        )
                        for b in range(8)
                    ])
                ).alias("bk"),
            )
            .select("doc_id", "bk.band", "bk.bh")
        )

    sizes = {
        "s380k": 380_464,
        "s3.8m": 3_804_640,
        "s38m": 38_046_400,
    }
    labels = sys.argv[2:] or ["s380k", "s3.8m"]
    results = {}
    for label in labels:
        n_keys = sizes[label]
        base = tempfile.mkdtemp(prefix=f"store-tws-{label}-")
        in_dir = os.path.join(base, "in")
        os.makedirs(in_dir)
        # epoch 0 (untimed): the whole synthetic store streams in and
        # claims its buckets in RocksDB
        synth_keys(n_keys // 8, 10_000_000, salt=0).write.parquet(
            in_dir, mode="append"
        )
        q = neardup_claims_stream_tws(
            spark.readStream.schema(
                "doc_id bigint, band int, bh string"
            ).parquet(in_dir),
            id_col="doc_id",
            order_col="doc_id",
            store_path=os.path.join(base, "store"),
            checkpoint_location=os.path.join(base, "cp"),
        )
        q.processAllAvailable()
        # epoch 1 (timed): fixed probe, salt-disjoint buckets
        synth_keys(2_000, 50_000_000, salt=100).coalesce(1).write.parquet(
            in_dir, mode="append"
        )
        t0 = time.time()
        q.processAllAvailable()
        dt = time.time() - t0
        q.stop()
        results[label] = {"store_keys": n_keys, "epoch_sec": round(dt, 3)}
        print(f"{label}: {n_keys} seeded keys, fixed epoch {dt:.3f}s",
              file=sys.stderr)
        shutil.rmtree(base, ignore_errors=True)
    _stop_spark(spark)
    alphas = _decade_alphas(results, labels)
    print(json.dumps({"probe": "neardup_store_growth_tws",
                      "results": results, "alphas": alphas}))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "run"
    if cmd == "stream_store":
        stream_store()
        sys.exit(0)
    if cmd == "stream_store_synth":
        stream_store_synth()
        sys.exit(0)
    if cmd == "stream_store_tws":
        stream_store_tws()
        sys.exit(0)
    if cmd == "gen":
        rest = sys.argv[2:]
        n = int(rest[0]) if rest and rest[0].isdigit() else 10
        facts = [a for a in rest if not a.isdigit()]
        gen(n, facts or None)
    elif cmd == "run":
        rest = sys.argv[2:]
        scales = ("x1", "x10")
        if rest and rest[0].startswith("--scales="):
            scales = tuple(rest.pop(0).split("=", 1)[1].split(","))
        n = int(rest[0]) if rest and rest[0].isdigit() else 3
        names = [a for a in rest if not a.isdigit()]
        run(n, names or None, scales)
    else:
        print(__doc__)
        sys.exit(2)
