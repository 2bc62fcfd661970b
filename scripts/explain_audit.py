"""Dump formatted physical plans of the headline queries to PLANS.md.

Evidence artifact: shows pushed filters, pruned read schemas,
broadcast/sort-merge join choices, partial aggregation, and
whole-stage-codegen spans for every headline query at a glance.

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from rheoceros_spark.session import get_session  # noqa: E402

AUDIT = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q16_supplier_count",
    "broadcast_join_enrich",
    "scan_pruned_projection",
    "dedup_exact_docs",
    "dedup_minhash_lsh_pairs",
    "ann_ivf_topk",
    "window_topn_per_group",
    "ts_asof_join",
    "ts_range_join_counts",
    "ts_sessionize",
    "q21_sole_returner",
    "curation_stratified_sample",
    "curation_vocab_top_tokens",
    "curation_contamination",
    "text_repetition",
    "sketch_cms_topk",
    "curation_source_mix",
    "curation_filter_funnel",
    "ann_pq_topk",
    "curation_semantic_decon",
    "text_unigram_nll",
    "dedup_substring_spans",
    "text_bm25_topk",
    "curation_dsir_weights",
    "curation_dsir_resample",
    "curation_domain_cap",
    "curation_group_split",
    "curation_negative_samples",
    "curation_boilerplate",
    "text_tfidf_terms",
    "ann_kmeans_refine",
    "text_source_kl",
    "curation_budget_mix",
    "curation_corpus_diff",
    # round-6 queries the r6 list missed (VERDICT r6 ask #7)
    "dedup_keep_list",
    "text_chunk_documents",
    "dedup_clusters",
    "dedup_incremental_index",
    "layout_zorder_key",
    # round-7 registrations
    "curation_ngram_novelty",
    "text_bpe_tokens",
    "ann_ivfpq_topk",
    "corpus_diff_indexed",
    # round-8: new registrations + the r9-staged trio
    "dedup_semantic_pairs",
    "text_quality_classifier",
    "dedup_paragraph_spans",
    "text_bigram_nll",
    "pipeline_pretrain_corpus",
    # round-8 session additions (staged for r9/r10)
    "text_bpe_train",
    "retrieval_hybrid_rrf",
    "ann_int8_topk",
    "retrieval_mmr_rerank",
    "text_quality_pr_curve",
    "curation_cluster_profile",
    "text_hash_embed_topk",
    "text_gopher_rules",
    "curation_ppl_buckets",
    "curation_c4_lines",
    "curation_source_overlap",
    "retrieval_quality_metrics",
    "text_bpe_fertility",
    "curation_decon_spans",
    "text_lang_segments",
    "text_lang_classifier",
    "pipeline_ccnet_corpus",
    "curation_source_overlap_minhash",
    "dedup_exact_best_docs",
    "curation_url_canonical",
    "dedup_exact_url",
    "dedup_snapshot_scoped",
    "text_bpe_persisted",
    "curation_corpus_datasheet",
    "curation_snapshot_drift",
    "dedup_semantic_keep",
    "scale_skew_report",
    "curation_temperature_mix",
    "text_sif_embed_topk",
    "dedup_ngram_hotspots",
    "text_char_entropy",
    "dedup_winnow_pairs",
    "pipeline_refinedweb_corpus",
    "curation_epoch_plan",
    "dedup_winnow_spans",
    # round-12: the crawl stage-0 family (zero-shuffle row-local plans;
    # the audit pins the plan-barrier'd single-evaluation shape)
    "text_html_extract",
    "dedup_intradoc_lines",
    "pipeline_refinedweb_html",
    "dedup_bloom_novel",
    # round-13 (r18 batch): crawl-bytes demux, ICP ordering, mirrors
    "scan_warc_demux",
    "curation_icp_order",
    "dedup_url_mirrors",
    "multimodal_image_dedup",
    # round-14 (r19 batch): cross-modal perceptual dedup + robots gate
    "multimodal_audio_dedup",
    "multimodal_video_dedup",
    "curation_robots_gate",
    # round-9: the composed stateless streaming gate, audited over a
    # batch frame (identical expression tree — that is the twin claim)
    "stream_curation_gate_batch_twin",
]


def _curation_gate_batch_twin(spark, sf_dir):
    """The stream_curation_gate expression tree applied to a batch
    frame: ONE codegen'd scan stage — every gate is a column
    expression against broadcast model artifacts; the only exchanges
    belong to the (cheap, bounded) artifact-training subplans."""
    from pyspark.sql import functions as F

    from rheoceros_spark.functions.portable import tokens
    from rheoceros_spark.operators.curation import ppl_thresholds
    from rheoceros_spark.operators.text_analysis import bigram_nll, logreg_train
    from rheoceros_spark.sources.io import load_table
    from rheoceros_spark.streaming.stream import stream_curation_gate

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    labeled = docs.withColumn(
        "__label", F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    )
    weights = logreg_train(labeled, "__label", n_buckets=64, iters=1, lr=0.5)
    t = docs.select("doc_id", tokens(F.col("text")).alias("__t"))
    model = (
        t.where(F.size("__t") >= 2)
        .select("__t", F.explode(F.sequence(F.lit(1), F.size("__t") - 1)).alias("__p"))
        .select(
            F.element_at("__t", F.col("__p")).alias("v"),
            F.element_at("__t", F.col("__p") + 1).alias("w"),
        )
        .where((F.col("v") != "") & (F.col("w") != ""))
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    vocab = (
        t.select(F.explode("__t").alias("tok"))
        .where(F.col("tok") != "")
        .agg(F.countDistinct("tok"))
        .collect()[0][0]
    )
    scored = docs.join(bigram_nll(docs, bigram_counts=model, vocab_size=vocab), "doc_id")
    thr = ppl_thresholds(scored, score_col="nll", group_col="source")
    return stream_curation_gate(docs, weights, thr, model, vocab)


def main() -> None:
    import __spark_entry__ as entry

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session("explain_audit", master="local[8]", extra_confs={"spark.ui.enabled": "false"})
    # retirees (broadcast_join_enrich, ann_pq_topk) keep their plan
    # audit; staged-for-next-round queries are audited pre-registration
    qs = {**entry.retired_queries(), **entry._STAGED_QUERIES, **entry.queries()}
    qs["stream_curation_gate_batch_twin"] = _curation_gate_batch_twin
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        f"Generated by `python scripts/explain_audit.py {sf_dir}`.",
        "Things to look for: `PushedFilters` (predicate pushdown reached",
        "parquet), narrow `ReadSchema` (column pruning), `BroadcastHashJoin`",
        "on dimension tables, paired `HashAggregate`s (map-side partials),",
        "and `(n)` codegen stage ids spanning the hot path.",
        "",
    ]
    for name in AUDIT:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(_ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(AUDIT)} plans)")


if __name__ == "__main__":
    main()
