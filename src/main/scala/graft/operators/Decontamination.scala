package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — flag/remove training documents that share
  * n-grams with an evaluation/benchmark set, the standard pre-training
  * hygiene step (publicly described as 13-gram overlap filtering in LLM
  * technical reports; k is a parameter here).
  *
  * Spark-first shape for the 100 TB corpus / MB-scale benchmark
  * asymmetry: the benchmark's distinct k-gram set is broadcast, so the
  * corpus is scanned ONCE — a codegen'd shingle explode feeding a
  * broadcast hash join — with no corpus-sized shuffle. The only
  * exchange is the per-document hit-count aggregation, which
  * partial-aggregates map-side on the document id.
  */
object Decontamination {

  /** Distinct k-grams of the benchmark set, one row per gram. Small by
    * construction (eval sets are MBs); the caller's join broadcasts it.
    */
  def benchmarkGrams(bench: DataFrame, textCol: String, k: Int)
      : DataFrame =
    bench.select(explode(array_distinct(
      Dedup.shingles(col(textCol), k))).as("gram")).distinct()

  /** `(id, n_hits)` per contaminated document — the number of distinct
    * benchmark k-grams the document contains. Clean documents are absent
    * (inner join); use [[decontaminate]] for the filtered corpus.
    */
  def contaminationHits(docs: DataFrame, idCol: String, textCol: String,
                        benchGrams: DataFrame, k: Int): DataFrame =
    docs.select(col(idCol).as("id"), explode(array_distinct(
        Dedup.shingles(col(textCol), k))).as("gram"))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))

  /** The corpus minus documents sharing >= `minHits` distinct k-grams
    * with the benchmark set. The contaminated-id set is small by DATA
    * (hits are rare for a clean corpus), not by construction — a
    * benchmark-derived corpus would contaminate everything — so the
    * left-anti join carries no forced broadcast: AQE converts it at
    * runtime in the rare-hits common case (no corpus-sized shuffle),
    * and falls back to a distributed anti-join on slim id rows when
    * the contaminated set is genuinely corpus-scale.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String, k: Int,
                    minHits: Long = 1): DataFrame =
    decontaminateWithGrams(docs, idCol, textCol,
      benchmarkGrams(bench, benchTextCol, k), k, minHits)

  /** [[decontaminate]] against a PRECOMPUTED gram set (the published
    * benchmark index's table, or [[benchmarkGrams]] inline).
    */
  def decontaminateWithGrams(docs: DataFrame, idCol: String,
                             textCol: String, benchGrams: DataFrame,
                             k: Int, minHits: Long = 1): DataFrame = {
    val bad = contaminationHits(docs, idCol, textCol, benchGrams, k)
      .filter(col("n_hits") >= minHits)
      .select(col("id").as(idCol))
    docs.join(bad, Seq(idCol), "left_anti")
  }

  /** Publish a benchmark gram index as a directory layout —
    * `<path>/grams` (parquet, one row per distinct k-gram) plus the
    * shingle size in `_index_meta.json`, the same parameters-travel
    * treatment as the dedup indexes: a decontamination pass served
    * from the index cannot silently shingle with a different k than
    * the benchmark was shingled with. Benchmarks are MB-scale, so the
    * index is broadcast at serve time; publishing buys one shingle
    * pass per benchmark instead of one per pipeline run.
    */
  def writeBenchmarkGrams(bench: DataFrame, textCol: String, k: Int,
                          path: String): Unit = {
    val spark = bench.sparkSession
    benchmarkGrams(bench, textCol, k).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/grams")
    Dedup.writeIndexMeta(spark, path, s"""{"shingle_k":$k}""")
  }

  /** `(grams, k)` restored from a [[writeBenchmarkGrams]] directory.
    * The gram table's schema is fixed by construction (one string
    * column), so the read carries it explicitly — no parquet footer
    * inference, zero Spark jobs to OPEN the index; analysis-time
    * consumers (the `graft_curate` TVF's `decontaminate_index` stage)
    * rely on this. The residual planning-time filesystem touch is the
    * driver-side `_index_meta.json` read — one small file, no jobs.
    */
  def readBenchmarkGrams(spark: org.apache.spark.sql.SparkSession,
                         path: String): (DataFrame, Int) =
    (spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("gram",
          org.apache.spark.sql.types.StringType))))
      .parquet(s"$path/grams"),
      Dedup.metaInt(graft.sink.IndexLayout.readMeta(spark, path), "shingle_k"))

  /** SEMANTIC decontamination — the embedding-space complement of the
    * n-gram screen: a training document is contaminated iff its
    * embedding clears `threshold` cosine against ANY benchmark item.
    * Paraphrased or re-tokenized eval leakage defeats k-gram overlap
    * (no shared surface string) but not the embedding — this is the
    * SemDeDup machinery pointed at the train/eval boundary instead of
    * at intra-corpus duplication.
    *
    * Scale shape: the corpus is clustered ONCE by the two-level
    * hierarchy ([[Similarity.buildHierarchyIndexAuto]] — sqrt-sized
    * broadcast, cell-keyed sub-seed join, cluster population ~
    * `targetClusterSize` at any corpus size); the MB-scale benchmark
    * assigns through the same frozen seeds and verifies exactly
    * against its clusters' members only, so the screen costs
    * |bench| × population cosines, independent of corpus size. In
    * production the corpus side is the PUBLISHED hierarchy layout
    * (write once, screen every eval-set revision against it).
    *
    * Emits one row per training doc — `(corpus_id, n_bench_hits,
    * kept)`, zeros included, so a clean corpus reports itself rather
    * than vanishing.
    */
  def semanticContamination(corpusEmb: DataFrame, benchEmb: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double,
                            targetClusterSize: Int = 50): DataFrame = {
    val idx = Similarity.buildHierarchyIndexAuto(corpusEmb, idCol,
      vecCol, targetClusterSize)
    val asgB = Similarity.assignToHierarchy(benchEmb, idx, idCol,
      vecCol)
    val hits = Dedup.semanticNearDupsAgainst(asgB, idx.assigned,
        idCol, vecCol, "cluster", threshold)
      .groupBy(col("corpus_id"))
      .agg(count(lit(1)).as("__hits"))
    corpusEmb.select(col(idCol).cast("long").as("corpus_id"))
      .join(hits, Seq("corpus_id"), "left")
      .select(col("corpus_id"),
        coalesce(col("__hits"), lit(0L)).as("n_bench_hits"),
        (coalesce(col("__hits"), lit(0L)) === 0L).as("kept"))
  }
}
