"""Dump `.explain("formatted")` for the headline queries into PLANS.md.

The point: verify (and keep verifiable) that the physical plans are the
ones we want at 100 TB — filters pushed into the parquet scan
(PushedFilters), projections pruned (ReadSchema), joins broadcast where
a side is small, whole-stage codegen spanning the JVM-side expression
work, exchanges only where the algebra demands a shuffle.

Usage (from the repository root, so that bench.py and
__spark_entry__.py import): python -m easyocr_spark.plans.explain [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout


def capture_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# the plans dumped, resolved through bench.resolve: the flagship pair
# ("extract", "detect_recognize_refs") are bench-only builders, every
# other name is a __spark_entry__.queries() entry
PLAN_QUERIES = [
    "extract", "detect_recognize_refs", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_simhash128", "embedding_neardup", "knn_brute",
    "top_ngrams", "stratified_sample", "knn_ivf", "knn_pq",
    "dedup_substring_spans", "lm_cross_entropy", "sequence_pack",
    "decontaminate", "decontaminate_spans", "neardup_pagerank",
    "shard_leakage", "snapshot_dedup", "strip_boilerplate",
    "dedup_keeplist", "pii_scan", "kmeans_clusters", "corpus_mix",
    "countmin_heavy_hitters", "bloom_membership", "winnowing_fingerprints",
    "inverted_index", "length_quantiles", "train_split_shards",
    "dsir_importance", "reservoir_sample", "chunk_overlap",
    "embedding_outliers", "dup_source_matrix", "mask_duplicate_spans",
    "profile_documents", "bm25_topk", "ccnet_buckets", "c4_clean",
    "gopher_rules", "cdc_chunks", "hard_negatives", "unimax_mix",
    "ngram_novelty", "datacard", "html_extract", "layout_reading_order",
    "normalize_text", "char_coverage", "length_quantiles_hist",
    "grouped_split",
]


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    from bench import resolve

    from .. import session
    from ..operators import pipeline
    from ..sources import tables

    spark = session.get_spark(app_name="plans", cpus=8)
    builders = resolve(PLAN_QUERIES)
    plans = {
        name: capture_plan(build(spark, sf_dir))
        for name, build in builders.items()
    }
    # the 100-TB join shapes: the same flagship with broadcast disabled
    # (results join-back + media join degrade to shuffle joins) and with
    # the explicit salted fallback — parity-tested in
    # tests/test_pipeline_spark.py::test_flagship_join_parity_*
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plans["extract (broadcast DISABLED — at-scale shuffle shape)"] = (
            capture_plan(builders["extract"](spark, sf_dir))
        )
        plans["extract (salted results join fallback)"] = capture_plan(
            pipeline.extract_documents(
                tables.interleaved_documents(spark, sf_dir),
                tables.media_table(spark, sf_dir),
                results_join="salted",
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)

    out = ["# PLANS.md — physical plans of the headline queries\n"]
    out.append(
        "Generated by `python -m easyocr_spark.plans.explain`. Things to\n"
        "check when reading: PushedFilters/ReadSchema on scans, broadcast\n"
        "vs shuffle joins, WholeStageCodegen spans, exchange count.\n"
    )
    for name, plan_txt in plans.items():
        out.append(f"\n## {name}\n\n```\n{plan_txt}```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
