#!/usr/bin/env python
"""End-to-end training-corpus construction pipeline.

Chains the repo's LLM-data-pipeline operators the way a production
pre-training run does, documents → packed training sequences:

  1. signal projection — ONE scan, ONE projection: token counts, quality
     score, and the dedup fingerprint computed alongside the carried
     text/lang/source columns (no self-join back to the input);
  2. quality gate — narrow filter on the projected signals;
  3. exact dedup — first-occurrence window over the fingerprint
     (one shuffle; NULL fingerprints = non-materialized text pass through,
     matching operators.dedup's NULL-vs-empty contract);
  4. near-dup pruning — MinHash→LSH candidates (banded self-join with the
     max_bucket skew guard), exact-Jaccard verify on the candidate set
     only, large-star/small-star connected components, keep each cluster's
     min-doc_id root;
  5. decontamination — shingle postings joined against the BROADCAST eval
     set (eval-side denominator), flagged training docs anti-joined away;
  6. mixture sampling — per-source token totals (one partial agg),
     keep-fractions broadcast back, membership a pure md5 function of
     doc_id (reproducible across runs/cluster sizes);
  7. context-length chunking of oversized docs (zero-shuffle windowing —
     no over-budget singleton sequences reach the trainer), then
     sequence packing — greedy token-budget packing inside bounded
     key-range bins (one shuffle into applyInPandas, no global window).

Every stage is one of the repo's tested operators; this file only
composes them. Scale shape: stages 1-2 are map-only; 3 is one shuffle;
4 shuffles only band keys and the post-LSH candidate set; 5-6 broadcast
their small sides; 7 is one shuffle. Stage boundaries with multiple
consumers (deduped, pruned, clean) are persisted MEMORY_AND_DISK so the
expensive upstream passes run once, not once per consumer/lineage count.
Nothing collects to the driver except the observed source list and the
final lineage counts (bounded aggregates).

Usage (spark-submit --py-files pdf2doi_spark.zip, or plain python):

    python examples/train_pipeline.py \
        --sf-dir /root/testdata/sf0.001 --output /tmp/train_run \
        [--budget 2048] [--quality-min 0.7] [--jaccard 0.8] \
        [--targets '{"web": 0.5, "books": 0.5}'] [--eval-pct 1.0]

With no --targets, every observed source gets an equal share. The eval
set defaults to a deterministic hash sample of the input documents — a
stand-in for a real benchmark table that also makes the decontamination
stage non-vacuous (its members are flagged at overlap 1.0 and removed).
"""
from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _decode_provenance(packed: DataFrame, key_space: int) -> DataFrame:
    """src_doc_id/chunk_idx from the composite packing key with EXACT
    64-bit integer arithmetic. ``floor(doc_id / key_space)`` routes
    through double division and mis-rounds once the key exceeds a
    double's 2^53 integer precision (doc_id 10_000_000_000 + chunk_idx
    999_999 decodes to the WRONG source document); SQL ``div`` stays
    integral all the way (the packing module's own bin arithmetic makes
    the same choice, packing.py)."""
    return packed.withColumn(
        "src_doc_id", F.expr(f"doc_id div {int(key_space)}").cast("long")
    ).withColumn(
        "chunk_idx", F.pmod(F.col("doc_id"), F.lit(key_space)).cast("int")
    )


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    budget: int = 2048,
    quality_min: float = 0.7,
    min_tokens: int = 10,
    jaccard_threshold: float = 0.8,
    targets: dict | None = None,
    eval_pct: float = 1.0,
    evalset: DataFrame | None = None,
    max_bucket: int = 1000,
):
    """Returns ``(packed DataFrame, lineage dict, release callable)``.

    ``max_bucket`` is minhash_candidate_pairs' skew guard: LSH buckets
    with more members are excluded from the banded self-join (a bucket of
    B docs emits B² candidate rows; exact dedup upstream already removed
    identical blobs, so an over-cap bucket is degenerate boilerplate).
    Audit what a cap would drop with ``minhash_bucket_profile`` before
    tightening it.

    The returned DataFrame reads through persisted stage boundaries;
    calling ``release()`` unpersists them — do that only after the packed
    output is consumed, or the whole chain silently recomputes."""
    from pdf2doi_spark.operators.dedup import (
        connected_components,
        contamination_overlap,
        jaccard_pairs,
        minhash_candidate_pairs,
    )
    from pdf2doi_spark.operators.packing import (
        chunk_documents,
        mixture_sample,
        pack_sequences,
    )
    from pdf2doi_spark.operators.quality import (
        hash_sample,
        norm_text,
        quality_score_cols,
        token_count_cols,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    # -- 1. signal projection (one scan, one codegen span, text carried) --
    t = F.col("text")
    enriched = docs.select(
        "doc_id", "text", "lang", "source",
        *token_count_cols(t),
        *quality_score_cols(t, with_n_tokens=False),
        F.md5(norm_text(t)).alias("fp"),
    )

    # -- 2. quality gate (narrow) --
    gated = enriched.filter(
        (F.col("quality_score") >= quality_min) & (F.col("n_tokens") >= min_tokens)
    )

    # -- 3. exact dedup: first occurrence per fingerprint wins --
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("fp").isNull() | (F.col("_rn") == 1))
        .drop("_rn")
    )

    # -- 4. near-dup pruning: LSH candidates -> exact verify -> CC roots --
    # deduped feeds three consumers (the signature pass, the shingle verify,
    # and the surviving-doc join) plus the lineage counts below; persist the
    # stage boundary so the scan+projection+dedup window runs once, not once
    # per consumer. MEMORY_AND_DISK: at 100 TB the working set spills, it
    # must not recompute.
    from pyspark import StorageLevel

    deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = minhash_candidate_pairs(deduped, text_col="text",
                                    max_bucket=max_bucket)
    verified = jaccard_pairs(deduped, pairs, text_col="text",
                             threshold=jaccard_threshold)
    edges = verified.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    components = connected_components(edges)
    non_roots = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    pruned = deduped.join(non_roots, "doc_id", "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # -- 5. decontamination vs the (broadcast) eval set --
    if evalset is None:
        evalset = hash_sample(docs.select("doc_id", "text"), pct=eval_pct)
    flagged = contamination_overlap(pruned, evalset, text_col="text").select(
        F.col("train_doc_id").alias("doc_id")
    ).distinct()
    clean = pruned.join(flagged, "doc_id", "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # -- 6. mixture sampling to target source shares --
    if targets is None:
        sources = [r["source"] for r in clean.select("source").distinct().collect()]
        targets = {s: 1.0 / len(sources) for s in sources} if sources else {}
    mixed = mixture_sample(clean, targets, source_col="source",
                           token_col="n_tokens", key_col="doc_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # -- 7. context-length chunking of oversized docs, then packing --
    # A doc longer than the budget used to own an OVER-BUDGET singleton
    # sequence (pack_sequences' documented fallback) — useless to a
    # trainer whose context IS the budget. Chunk those docs into
    # budget-sized windows first (overlap=0: a partition of the token
    # stream, no tokens double-counted), re-key chunks into the packing
    # order space, and pack chunks and short docs together. The re-key
    # arithmetic (doc_id * KEY_SPACE + chunk_idx) keeps packing
    # deterministic and collision-free for doc_id < 2^63/KEY_SPACE and
    # chunks-per-doc < KEY_SPACE — an overflowing chunk_idx maps to a
    # NULL key, which pack_sequences already fails fast on (a pruned
    # assert_true column would be silently optimized away; the NULL
    # route cannot be). bin_size scales by KEY_SPACE so each bin still
    # spans the same count of ORIGINAL documents.
    _KEY_SPACE = 1_000_000
    over = mixed.filter(F.col("n_tokens") > budget)
    chunks = (
        chunk_documents(over, chunk_tokens=budget, overlap=0,
                        passthrough=["lang"])
        .select(
            F.when(
                F.col("chunk_idx") < F.lit(_KEY_SPACE),
                F.col("doc_id") * F.lit(_KEY_SPACE) + F.col("chunk_idx"),
            ).alias("doc_id"),
            "lang", "n_tokens",
        )
    )
    # NOTE the chunker recounts tokens with its own edge-strip split, so
    # a doc whose pipeline n_tokens exceeds the budget only via phantom
    # edge-whitespace tokens may legitimately produce a single chunk —
    # the packed output is still correct (chunk n_tokens is what packing
    # enforces), and the lineage below counts chunked-ness from the
    # OUTPUT, so such a doc is not reported as oversized.
    short = mixed.filter(F.col("n_tokens") <= budget).select(
        (F.col("doc_id") * F.lit(_KEY_SPACE)).alias("doc_id"),
        "lang", "n_tokens",
    )
    packed = pack_sequences(
        short.unionByName(chunks),
        budget=budget, token_col="n_tokens", group_col="lang",
        order_col="doc_id", bin_size=4096 * _KEY_SPACE,
    )
    # surface the provenance of every packed row: the original document
    # and its window index
    packed = _decode_provenance(packed, _KEY_SPACE).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # lineage from the PERSISTED output — counting over/chunks on their
    # own plans would re-run the tokenize+explode pass over every
    # oversized doc a second time just to produce two numbers
    prov = (
        packed.groupBy("src_doc_id")
        .agg(F.max("chunk_idx").alias("_mx"), F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_mx") > 0)
        .agg(F.count(F.lit(1)).alias("n_over"), F.sum("_k").alias("n_chunks"))
        .first()
    )
    n_over = int(prov["n_over"] or 0)
    n_chunks = int(prov["n_chunks"] or 0)

    # Every WIDE pass runs exactly once (persisted at each multi-consumer
    # boundary: deduped, pruned, clean, mixed, packed); input_docs/
    # quality_gated re-run only the narrow scan+projection.
    lineage = {
        "input_docs": docs.count(),
        "quality_gated": gated.count(),
        "exact_deduped": deduped.count(),
        "near_dup_pruned": pruned.count(),
        "decontaminated": clean.count(),
        "mixture_sampled": mixed.count(),
        "oversized_docs": n_over,
        "context_chunks": n_chunks,
        "packed_docs": packed.count(),
        "targets": targets,
    }

    persisted = (deduped, pruned, clean, mixed, packed)

    def release() -> None:
        for frame in persisted:
            frame.unpersist()

    return packed, lineage, release


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--output", required=True)
    ap.add_argument("--budget", type=int, default=2048)
    ap.add_argument("--quality-min", type=float, default=0.7)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--targets", type=json.loads, default=None)
    ap.add_argument("--eval-pct", type=float, default=1.0)
    ap.add_argument("--checkpoint-dir", default=None, help=(
        "durable checkpoint dir (hdfs/s3a/...) — with it set, the "
        "connected-components rounds truncate lineage via reliable "
        "checkpoint(), surviving executor loss; without it they use "
        "executor-local blocks (fine locally, fatal to a long cluster job)"
    ))
    args = ap.parse_args()

    from pdf2doi_spark.session import build_session

    spark = build_session(app_name="train-pipeline")
    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
    packed, lineage, release = run_pipeline(
        spark, args.sf_dir, budget=args.budget, quality_min=args.quality_min,
        jaccard_threshold=args.jaccard, targets=args.targets,
        eval_pct=args.eval_pct,
    )
    os.makedirs(args.output, exist_ok=True)
    packed.write.mode("overwrite").parquet(os.path.join(args.output, "packed"))
    release()
    with open(os.path.join(args.output, "lineage.json"), "w") as f:
        json.dump(lineage, f, indent=2, sort_keys=True)
    print(json.dumps(lineage, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
