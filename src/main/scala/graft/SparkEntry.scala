package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query registry is assembled from the per-domain objects:
  *  - [[ReplicationQueries]]  — sources, dedup, merge, deletes, schema
  *    evolution, CDC apply, partial sync (SURVEY §2.1-2.3)
  *  - [[TransformQueries]]    — masking compiler, flattening, timestamp
  *    clamp, type mapping (SURVEY §2.4, §1.3)
  *  - [[AnalyticsQueries]]    — warehouse-side SQL over replicated
  *    streams + streaming-shaped window/session analytics (SURVEY §2.5)
  *  - [[TrainingDataQueries]] — dedup/similarity/text/multimodal
  *    operators for LLM data pipelines (north star)
  */
object SparkEntry {

  val allDefs: Map[String, QueryDef] =
    ReplicationQueries.defs ++ TransformQueries.defs ++
      AnalyticsQueries.defs ++ TrainingDataQueries.defs

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allDefs("q1_pricing_summary").fn(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries get a rows-only check. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }

  /** Headline subset used by graft.Bench (scan-agg, joins, window,
    * dedup family, ANN, text ops — the throughput-relevant shapes). */
  val benchQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_suppliers",
    "merge_upsert", "pk_dedup_lastwin", "running_total_window",
    "stream_sessionize", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "ann_cosine_topk", "text_quality_score",
    "doc_fingerprint", "cdc_wal2json_decode",
    // round-6 additions (cluster resolution, incremental index probe,
    // packing, rarity scoring) — the first 14 keep their identity for
    // cross-round comparability
    "dedup_connected_components", "dedup_incremental_minhash",
    "sample_pack_plan", "text_bigram_rarity",
    "asof_join_events", "range_join_attribution",
    // round-7 additions: the composed curation pipeline (lang ->
    // quality -> dedup -> cap -> split — the closest thing to a real
    // end-to-end workload) and the KMV distinct sketch over exploded
    // shingles. (r19: dedup_semantic_pairs — the every-knob flat
    // SemDeDup, ×209 at factor 100 — left the headline; its scale
    // spelling dedup_semantic_pairs_scale tracks the family below,
    // and the flat row stays a non-headline oracle contrast entry)
    "pipeline_curate_corpus",
    "sketch_distinct_ngrams",
    // round-8 additions: corpus-window DSIR scoring, cross-doc
    // boilerplate removal (the heaviest new shape: text rides the
    // reassembly shuffle), the shuffle-free intra-doc dedup projection,
    // and the exact column profile (Expand-based distinct counts)
    "text_dsir_weights", "text_remove_boilerplate",
    "dedup_intra_doc_chunks", "profile_columns",
    "dedup_minhash_precision", "text_oov_rate", "cohort_retention",
    // round-9 additions: learned-vocab tokenizer (train one exchange +
    // zero-exchange trie encode) and the composed sampling pipeline
    // (DSIR -> temperature -> pack). (r19: media_phash_pairs — the
    // 8-bit-band geometry, ×303 at factor 100 — left the headline for
    // its scale twin media_phash_pairs_scale below; the narrow-band
    // row stays a non-headline oracle contrast entry)
    "text_vocab_token_counts",
    "pipeline_weighted_mixture",
    // round-9 late additions: the corpus-version diff (full-outer join
    // over slimmed rows), the exact PCA moment aggregate (one-pass
    // ObjectHashAggregate over the embedding corpus), and the widest of
    // the new TPC-H shapes (dual-role dimension + three fact joins)
    "corpus_snapshot_diff", "embedding_gram_quantized",
    "q7_volume_shipping",
    // the fourth composed pipeline: diff -> index probe -> lang gate
    "pipeline_incremental_refresh",
    // round-12 additions: the text-search family — inverted-index build
    // (BoundedTopK posting caps under stopword skew) and per-doc tf-idf
    // keywords (corpus-pairs df window + per-doc rank window, the
    // many-tiny-groups shape)
    "text_inverted_index", "text_tfidf_keywords",
    // round-12 late addition: exact k-means training (literal-centroid
    // zero-shuffle assignment, integer sum updates). The incremental-CC
    // registry query is deliberately NOT a headline: it rebuilds its
    // own "existing" state (old-corpus CC + signature index) per run,
    // which production stores. The merge itself against cached base
    // labels took 11s vs a 27s rebuild at 1.6M nodes / 1.3M edges
    // (BASELINE.md "Round-12 continuation", the tools/StressCCMerge of
    // commit 0f59867), and the gap widens with corpus size: the
    // merge's iterative work is bounded by the touched components, not
    // the graph)
    "kmeans_train",
    // second-half round-12 additions: in-engine classifier training,
    // the classifier-gated curation pipeline, and the events-family
    // pair (per-user transition matrix; float-free 3-sigma anomalies)
    "classifier_train", "pipeline_classified_curate",
    "event_transitions", "metric_anomalies",
    // the self-contained index build end to end (train + assign + probe)
    "ann_ivf_trained_topk",
    // round-13 addition: the Bloom-prefiltered incremental minhash
    // probe — same oracle rows as dedup_incremental_minhash. NOTE the
    // bench number INCLUDES the publish-time Bloom build (an index
    // scan + sketch agg the query fn runs inline); production builds
    // that once per index publish, and the probe-side saving shows on
    // novel-heavy batches, not at sf0.1 where the build dominates
    "dedup_minhash_against_bloomed",
    // round-14 additions: the rest of the incremental (`...Against`)
    // probe family plus index-served text search, so regressions in
    // the incremental paths are bench-visible, not just soak-visible.
    // Like the bloomed probe above, each number INCLUDES its inline
    // index build (publish once in production); what the bench tracks
    // is the probe machinery's round-over-round drift.
    // (r19: dedup_incremental_embedding — 4-bit bands, ~n²/16
    // candidates, 169 s at factor 100 — left the headline for its
    // 32-plane/16-bit scale twin dedup_incremental_embedding_scale
    // below; the narrow-band row stays a non-headline oracle entry)
    "dedup_incremental_simhash",
    "dedup_incremental_jaccard", "text_search_from_index",
    // round-15 additions: hybrid retrieval (lexical tf·idf top-k and
    // cosine top-k fused by reciprocal rank), BM25-flavor ranking
    // (the float-parity chain), and the batch more-like-this panel —
    // the retrieval family's drift, bench-visible
    "hybrid_search_rrf", "text_search_bm25", "more_like_this",
    // round-16 additions: the BM25-armed hybrid (BM25 lexical arm +
    // cosine arm fused by RRF, the standard serving configuration),
    // the index-SERVED BM25 (posting-list candidates + published
    // corpus stats — the serving path's drift, bench-visible beside
    // text_search_from_index's conjunctive twin), and the declarative
    // retrieval recipe (curate -> 2k-deep BM25 -> hard negatives, the
    // compiled end-to-end training-data shape)
    "hybrid_bm25_rrf", "bm25_from_index", "pipeline_spec_retrieval",
    // round-17 additions: q18 was tuned twice (r14 hint audit, r16
    // stats-seeded hints) but never bench-tracked, so regressions in
    // the rollup-broadcast shape were invisible round-over-round; the
    // curation TVF is the canary for analysis-time TVF expansion
    // overhead (parse + lazy recipe compile ride inside the measured
    // query); the IVF probe TVF tracks the index-served ANN path from
    // SQL (same plan as ann_ivf_topk + expansion overhead)
    "q18_large_volume_customers", "sql_curate_tvf", "sql_ivf_probe_tvf",
    // round-18 additions, PROMOTED to the family headline in r19: the
    // wide-band (100 TB) configurations of the two pair families the
    // factor-100 curve measured quadratic in their test geometries —
    // decoded-phash media dedup (16-bit bands, now the operator
    // default) and the incremental embedding probe (32 planes/16-bit
    // bands, the buildEmbeddingIndex default). Their narrow-band
    // oracle-parity twins stay registry rows but no longer headline
    "media_phash_pairs_scale", "dedup_incremental_embedding_scale",
    // round-18 late additions: the hierarchical (two-level) SemDeDup —
    // bounded cluster population WITHOUT the every-knob's
    // corpus-proportional centroid broadcast — since r19 the family's
    // only headline (flat dedup_semantic_pairs is a non-headline
    // oracle contrast row), and its incremental
    // probe (batch assigned to the persisted hierarchy, verified
    // against its cluster only — like the other `...Against` rows the
    // number INCLUDES the inline index build; production publishes it)
    "dedup_semantic_pairs_scale", "dedup_semantic_against",
    // round-20 addition: q21 — the EXISTS/NOT-EXISTS anti-join chain
    // decorrelated to three co-partitioned per-order rollups; the
    // heaviest of the five relational shapes that closed the TPC-H
    // delegation set (q2/q11/q12/q20/q21)
    "q21_waiting_suppliers")
}
