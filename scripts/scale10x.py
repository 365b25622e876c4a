#!/usr/bin/env python
"""10x scale validation of the dedup/ANN bound claims (round-8 VERDICT #6).

Builds a ``--mult``x corpus from the sf0.1 tables (perturbed copies — each
replica shifts ids and appends a per-copy token/digit so vocabulary and
shingle space actually GROW, the realistic scale-up), then runs the three
bounded-by-construction composites ONCE each and records, next to the
wall time, the bound each one's docstring claims:

- q_minhash_lsh:        sum(|band bucket|^2)  (candidate-join cost)
- q_semantic_dedup:     sum(|kmeans cell|^2)  (within-cell pair cost)
- q_entity_resolution:  sum(|variant block|^2) (deletion-blocking cost)

If wall tracks the bound (not corpus^2), the claim holds with an
empirical point beyond bench SF — record the output in SCALE.md.

Usage: python scripts/scale10x.py [--mult 10] [--base /root/testdata/sf0.1]
       [--out /tmp/scale10x] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_corpus(spark, base: str, out: str, mult: int) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{base}/documents.parquet")
    n_docs = docs.agg(F.max("doc_id")).first()[0] + 1
    emb = spark.read.parquet(f"{base}/embeddings.parquet")
    n_emb = emb.agg(F.max("vec_id")).first()[0] + 1
    cust = spark.read.parquet(f"{base}/customer.parquet")
    n_cust = cust.agg(F.max("c_custkey")).first()[0] + 1

    rep = spark.range(mult).select(F.col("id").cast("int").alias("copy"))
    (
        docs.crossJoin(F.broadcast(rep))
        .select(
            (F.col("doc_id") + F.col("copy") * F.lit(n_docs)).alias("doc_id"),
            # copy 0 is the original text; each replica appends one novel
            # token so replicas are NEAR-dups (distinct shingle sets),
            # not exact clones — the honest scale-up for dedup inputs
            F.when(F.col("copy") == 0, F.col("text"))
            .otherwise(F.concat_ws(" ", "text",
                                   F.concat(F.lit("copytok"), "copy")))
            .alias("text"),
            "lang", "source", "n_chars",
        )
        .write.mode("overwrite").parquet(f"{out}/documents.parquet")
    )
    (
        emb.crossJoin(F.broadcast(rep))
        .select(
            (F.col("vec_id") + F.col("copy") * F.lit(n_emb)).alias("vec_id"),
            "embedding", "label",
        )
        .write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    )
    (
        cust.crossJoin(F.broadcast(rep))
        .select(
            (F.col("c_custkey") + F.col("copy") * F.lit(n_cust))
            .alias("c_custkey"),
            # per-copy digit suffix: the name VOCABULARY grows mult-x, so
            # deletion-neighborhood blocking scales with it (identical
            # names would only multiply record counts, not blocking work)
            F.when(F.col("copy") == 0, F.col("c_name"))
            .otherwise(F.concat("c_name", F.col("copy").cast("string")))
            .alias("c_name"),
            "c_nationkey", "c_acctbal", "c_mktsegment",
        )
        .write.mode("overwrite").parquet(f"{out}/customer.parquet")
    )


def bounds(spark, sf_dir: str) -> dict:
    """The three docstring bounds, computed from the operators' own
    blocking stages (same code path the composites run)."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.catalog.registry import table
    from platform_etl_backend_spark.operators import dedup as D
    from platform_etl_backend_spark.operators import similarity as S

    out = {}
    sig = D.minhash_signatures(
        table(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=8
    )
    keys = D._banded_keys(sig, "doc_id", num_hashes=8, bands=4)
    out["minhash_sum_bucket_sq"] = (
        keys.groupBy("band", "key").count()
        .agg(F.sum(F.col("count") * F.col("count"))).first()[0]
    )
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(F.col("vec_id").alias("vid"),
                   S.as_double_array("embedding").alias("vec"))
    cents = S.kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2).select(
        "cell_id", F.col("vec").alias("cvec"))
    from pyspark.sql import Window
    scored = v.crossJoin(F.broadcast(cents)).select(
        "vid", "cell_id",
        F.round(S.cosine(F.col("vec"), F.col("cvec")), 6).alias("cc"))
    w = Window.partitionBy("vid").orderBy(F.desc("cc"), F.asc("cell_id"))
    own = (scored.withColumn("rn", F.row_number().over(w))
           .where("rn = 1").groupBy("cell_id").count())
    out["semantic_sum_cell_sq"] = (
        own.agg(F.sum(F.col("count") * F.col("count"))).first()[0]
    )
    cust = table(spark, sf_dir, "customer")
    vocab = cust.select(F.col("c_name").alias("token")).distinct()
    variants = vocab.select(
        "token",
        F.explode(
            F.array_union(
                F.array(F.col("token")),
                F.transform(
                    F.sequence(F.lit(1), F.length("token")),
                    lambda i: F.concat(
                        F.substring(F.col("token"), 1, i - 1),
                        F.col("token").substr(i + 1, F.length("token")),
                    ),
                ),
            )
        ).alias("variant"),
    ).distinct()
    out["er_sum_block_sq"] = (
        variants.groupBy("variant").count()
        .agg(F.sum(F.col("count") * F.col("count"))).first()[0]
    )
    return out


def minhash_recall(spark, sf_dir: str, bandings=((8, 4), (16, 4), (16, 8))) -> dict:
    """Wall AND quality at one corpus size (round-9 VERDICT #7): exact
    ngram-Jaccard truth once, then per-(num_hashes, bands) banding the
    verified-pair recall, candidate precision, and the Σ|bucket|² cost the
    banding actually paid — the numbers that justify an (r, b) choice when
    the corpus grows (theory: P[candidate | sim s] = 1 - (1 - s^r)^b with
    r = num_hashes/bands rows per band; bigger r cuts bucket collisions
    polynomially but lowers catch probability near the threshold)."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.catalog.registry import table
    from platform_etl_backend_spark.operators import dedup as D

    docs = table(spark, sf_dir, "documents")
    t0 = time.time()
    truth = D.ngram_jaccard_pairs(docs, "doc_id", "text", k=3)
    n_truth = truth.count()
    out = {"n_truth": n_truth, "truth_wall_s": round(time.time() - t0, 2)}
    spark.catalog.clearCache()
    for num_hashes, bands in bandings:
        tag = f"h{num_hashes}_b{bands}"
        sig = D.minhash_signatures(docs, "doc_id", "text", num_hashes=num_hashes)
        keys = D._banded_keys(sig, "doc_id", num_hashes=num_hashes, bands=bands)
        out[f"{tag}_sum_bucket_sq"] = int(
            keys.groupBy("band", "key").count()
            .agg(F.sum(F.col("count") * F.col("count"))).first()[0]
        )
        ka = keys.select(F.col("doc_id").alias("id_a"), "band", "key")
        kb = keys.select(F.col("doc_id").alias("id_b"), "band", "key")
        n_cands = (
            ka.join(kb, ["band", "key"]).where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct().count()
        )
        t0 = time.time()
        n_ver = D.minhash_dedup_pairs(
            docs, "doc_id", "text", num_hashes=num_hashes, bands=bands,
        ).count()
        out[f"{tag}_wall_s"] = round(time.time() - t0, 2)
        out[f"{tag}_n_candidates"] = n_cands
        out[f"{tag}_n_verified"] = n_ver
        # verified pairs are exact-Jaccard >= threshold, hence a SUBSET of
        # truth: recall = n_verified / n_truth
        out[f"{tag}_recall"] = round(n_ver / n_truth, 4) if n_truth else None
        out[f"{tag}_precision"] = round(n_ver / n_cands, 4) if n_cands else None
        spark.catalog.clearCache()
    return out


def _exact_top1(spark, emb):
    """EXACT brute-force top-1 per vector (ground truth via the block-tiled
    all-pairs kernel — affordable even at the 10x corpus)."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.operators import similarity as S

    pairs = S.all_pairs_dots_blocked(emb, "vec_id", "embedding", blocks=32)
    both = pairs.select(
        F.col("query_id").alias("q"), F.col("neighbor_id").alias("nb"),
        (F.col("dot") / (F.col("qn") * F.col("bn"))).alias("cos"),
    ).unionByName(pairs.select(
        F.col("neighbor_id").alias("q"), F.col("query_id").alias("nb"),
        (F.col("dot") / (F.col("qn") * F.col("bn"))).alias("cos"),
    ))
    # per-query argmax as a partial-aggregating groupBy (NOT a window):
    # map-side combine collapses the n² pair rows before the shuffle —
    # the windowed formulation shuffled all 400M rows at 10x and OOM'd a
    # python worker. Struct max = (cos desc, then nb asc via negation).
    return (
        both.groupBy("q")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("nb")).alias("m"))).alias("b"))
        .select("q", (-F.col("b.m")).alias("true_nb"))
        .localCheckpoint()
    )


def ann_recall(spark, sf_dir: str, cent_counts=(8, 64), nprobes=(1, 2, 4)) -> dict:
    """IVF recall@1 against the EXACT brute-force top-1 per (centroid
    count, nprobe). Records, next to recall, the candidate cost the probe
    actually paid (Σ probe-cell sizes) — the numbers that justify the
    k-with-corpus and nprobe rules at scale."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.catalog.registry import table
    from platform_etl_backend_spark.operators import similarity as S

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    t0 = time.time()
    truth = _exact_top1(spark, emb)
    out = {"n_vectors": n, "truth_wall_s": round(time.time() - t0, 2)}
    for k in cent_counts:
        cents = emb.where(F.col("vec_id") < k)
        for nprobe in nprobes:
            tag = f"k{k}_p{nprobe}"
            t0 = time.time()
            ann = S.ivf_topk(emb, cents, "vec_id", "embedding",
                             nprobe=nprobe)
            hits = (
                ann.join(truth, ann.query_id == truth.q)
                .where(F.col("neighbor_id") == F.col("true_nb"))
                .count()
            )
            out[f"{tag}_wall_s"] = round(time.time() - t0, 2)
            out[f"{tag}_recall1"] = round(hits / n, 4)
            spark.catalog.clearCache()
    return out


def lsh_recall(
    spark, sf_dir: str, nbits: int = 4, probes=(0, 2, 4), tables=(1, 2, 4)
) -> dict:
    """Recall@1 + paid cost for the sign-bit LSH family (round-11 VERDICT
    #5): multi-PROBE (Hamming-1 query fan-out within one table) and
    multi-TABLE (OR-amplification across independent dimension blocks),
    both against the exact brute-force top-1. Beside wall and recall it
    records the STRUCTURAL candidate bound each knob buys:
    - single table, p probes: Σ_b n_b² pairs, times (1 + p) on the query
      side (only the fan-out multiplies — the index is untouched);
    - L tables: Σ_ℓ Σ_b n_{ℓ,b}² (each table's own bucket skyline).
    The knob rule these numbers pin: probes buy recall within ONE
    projection (cost multiplier exact and linear), tables buy recall
    across INDEPENDENT projections (1-(1-r)^L composition) at a full
    extra Σn² per table — see SCALE.md round-11."""
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.catalog.registry import table
    from platform_etl_backend_spark.operators import similarity as S

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    t0 = time.time()
    truth = _exact_top1(spark, emb)
    out = {"n_vectors": n, "truth_wall_s": round(time.time() - t0, 2)}
    vec = S.as_double_array("embedding")
    for p in probes:
        tag = f"probe{p}"
        t0 = time.time()
        ann = S.bucketed_ann_top1(emb, "vec_id", "embedding",
                                  nbits=nbits, probes=p)
        hits = (
            ann.join(truth, ann.query_id == truth.q)
            .where(F.col("neighbor_id") == F.col("true_nb"))
            .count()
        )
        out[f"{tag}_wall_s"] = round(time.time() - t0, 2)
        out[f"{tag}_recall1"] = round(hits / n, 4)
        base_pairs = int(
            S.bucket_stats(emb, "embedding", nbits)
            .agg(F.sum(F.col("n") * F.col("n")).alias("c"))
            .first()["c"]
        )
        out[f"{tag}_pair_bound"] = base_pairs * (1 + p)
        spark.catalog.clearCache()
    for L in tables:
        tag = f"tables{L}"
        t0 = time.time()
        ann = S.multitable_ann_top1(emb, "vec_id", "embedding",
                                    nbits=nbits, tables=L)
        hits = (
            ann.join(truth, ann.query_id == truth.q)
            .where(F.col("neighbor_id") == F.col("true_nb"))
            .count()
        )
        out[f"{tag}_wall_s"] = round(time.time() - t0, 2)
        out[f"{tag}_recall1"] = round(hits / n, 4)
        cost = 0
        for t in range(L):
            cost += int(
                emb.select(
                    S.sign_bucket(vec, nbits, offset=t * nbits).alias("b")
                )
                .groupBy("b").agg(F.count(F.lit(1)).alias("n"))
                .agg(F.sum(F.col("n") * F.col("n")).alias("c"))
                .first()["c"]
            )
        out[f"{tag}_pair_bound"] = cost
        spark.catalog.clearCache()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/scale10x")
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--recall", action="store_true",
                    help="measure MinHash recall/precision per banding at "
                    "BOTH the base (1x) and the built (mult-x) corpus")
    ap.add_argument("--ann-recall", action="store_true",
                    help="measure IVF recall@1 vs exact brute-force truth "
                    "per (centroids, nprobe) at BOTH corpora")
    ap.add_argument("--lsh-recall", action="store_true",
                    help="measure sign-bit LSH recall@1 vs exact truth per "
                    "(probes, tables) knob at BOTH corpora")
    args = ap.parse_args()

    from platform_etl_backend_spark.engine.session import get_spark
    from platform_etl_backend_spark.catalog import QUERIES

    spark = get_spark(
        "scale10x", master=f"local[{args.cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(int(args.cpus), 8)),
                    "spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not args.skip_build:
        t0 = time.time()
        build_corpus(spark, args.base, args.out, args.mult)
        print(f"built {args.mult}x corpus in {time.time()-t0:.1f}s", flush=True)

    result = {"mult": args.mult, "base": args.base}
    if args.lsh_recall:
        for label, d in (("lsh_1x", args.base), (f"lsh_{args.mult}x", args.out)):
            result[label] = lsh_recall(spark, d)
            print(json.dumps({label: result[label]}), flush=True)
        spark.stop()
        print(json.dumps(result))
        return
    if args.ann_recall:
        for label, d in (("ann_1x", args.base), (f"ann_{args.mult}x", args.out)):
            result[label] = ann_recall(spark, d)
            print(json.dumps({label: result[label]}), flush=True)
        spark.stop()
        print(json.dumps(result))
        return
    if args.recall:
        for label, d in (("recall_1x", args.base), (f"recall_{args.mult}x", args.out)):
            t0 = time.time()
            result[label] = minhash_recall(spark, d)
            print(json.dumps({label: result[label]}), flush=True)
        spark.stop()
        print(json.dumps(result))
        return
    for name in ("q_minhash_lsh", "q_semantic_dedup", "q_entity_resolution"):
        t0 = time.time()
        QUERIES[name].fn(spark, args.out).write.format("noop").mode(
            "overwrite").save()
        result[name + "_wall_s"] = round(time.time() - t0, 2)
        spark.catalog.clearCache()
        print(json.dumps({name: result[name + "_wall_s"]}), flush=True)
    result.update(bounds(spark, args.out))
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
