package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Decontamination, Dedup, Sampling,
  TextAnalysis}

/** Dev-only end-to-end soak of the DECLARATIVE recipe compiler at
  * multi-million-doc scale — the compiled twin of [[StressCurate]]'s
  * hand-built chain (which was soaked in round 12; the compiler path
  * never was until round 14). Runs the full five-stage recipe
  *
  *   sample -> decontaminate -> near_dedup(capped) -> mixture
  *     -> train_classifier
  *
  * once through `Curation.fromJson`/`Curation.run` and once as the
  * imperative operator chain the compiler documents itself against,
  * then verifies the two survivor sets are IDENTICAL (exceptAll both
  * ways) — the 5M-doc version of the `pipeline_spec_*` hash-equality
  * proofs. Also reports wall time per path and the persisted-RDD
  * census after each run (the recipe's landing tables must be
  * released by `releaseAfterAll`; only GC-managed localCheckpoint
  * blocks may remain).
  *
  * Corpus and benchmark slice ONE synthesized universe (the
  * StressSearch lesson: the generator's dup-basis modulus depends on
  * its total-doc argument).
  *
  * Usage: runMain graft.tools.StressRecipe [nDocs] [workDir]
  * (defaults 5,000,000 and /tmp/graft-recipe-soak). Numbers recorded
  * in docs/CURATE_SOAK.md.
  */
object StressRecipe {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 5000000L
    val workDir = if (args.length > 1) args(1) else "/tmp/graft-recipe-soak"
    val spark = graft.Sessions.start()
    // the soak's recorded shapes were measured at 64 shuffle partitions
    spark.conf.set("spark.sql.shuffle.partitions", "64")

    val corpusPath = s"$workDir/documents.parquet"
    if (!new java.io.File(corpusPath).exists()) {
      println(s"[recipe-soak] generating $nDocs docs -> $corpusPath")
      StressCurate.synthesize(spark, nDocs).repartition(64)
        .write.mode("overwrite").parquet(corpusPath)
    }
    val docs = spark.read.parquet(corpusPath)
    // ~1% benchmark slice carved from the same universe
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val corp = docs.filter(col("doc_id") % 97 =!= 0)

    // weights cover the ten LARGEST sources (the skewed generator makes
    // src_10..19 the bulk); the mixture stage drops the rest by design
    val weights = ((10 to 14).map(i => s"src_$i" -> 1.0) ++
      (15 to 19).map(i => s"src_$i" -> 2.0))
    val wjson = weights.map { case (s0, w) => s""""$s0": $w""" }
      .mkString(", ")
    val MaxBucket = 1000
    val ClsDim = 512
    val MinScore = -878L

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[recipe-soak] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.1fs")
      r
    }
    def persistedCensus(tag: String): Unit = {
      val rdds = spark.sparkContext.getPersistentRDDs
      // the recipe's corpus-sized landing tables persist through named
      // InMemoryRelations (cachedData); localCheckpoint blocks are
      // plain persisted RDDs GC-cleaned later. Flat release behavior =
      // zero entries still in the SQL cache after the run.
      val sqlCached = spark.sharedState.cacheManager
      println(s"[recipe-soak] persisted after $tag: " +
        s"rdds=${rdds.size} sqlCacheEmpty=${sqlCached.isEmpty}")
    }

    // ---- compiled path -------------------------------------------------
    val spec = Curation.fromJson(
      s"""{"stages": [
         |  {"stage": "sample", "fraction": 0.8},
         |  {"stage": "decontaminate", "benchmark": "bench",
         |   "k": 13, "min_hits": 1},
         |  {"stage": "near_dedup", "k": 3, "num_hashes": 12,
         |   "rows_per_band": 3, "threshold": 0.5,
         |   "max_bucket": $MaxBucket},
         |  {"stage": "mixture", "source_col": "source",
         |   "weights": {$wjson}},
         |  {"stage": "train_classifier", "label_col": "source",
         |   "label_value": "src_19", "dim": $ClsDim,
         |   "min_score": $MinScore}
         |]}""".stripMargin)
    val compiled = timed("compiled_recipe_run") {
      val out = Curation.run(corp, "doc_id", "text", spec,
          resolveTable = name => { require(name == "bench"); bench })
        .select(col("doc_id"), col("source"))
      println(s"[recipe-soak] compiled survivors: ${out.count()}")
      out
    }
    persistedCensus("compiled run")

    // ---- imperative twin ----------------------------------------------
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val imperative = timed("imperative_chain_run") {
      val sampled = corp.filter(Sampling.bucket(col("doc_id")) <
        math.round(0.8 * Sampling.Buckets))
      val decon = Decontamination.decontaminate(sampled, "doc_id",
        "text", bench, "text", 13, 1)
      val landed1 = decon.persist(lvl)
      val labels = Dedup.connectedComponents(
        Dedup.minhashNearDups(landed1, "doc_id", "text", 3, 12, 3, 0.5,
          MaxBucket), "id_a", "id_b")
      val canon = Dedup.keepCanonical(landed1, "doc_id", labels)
      val landed2 = canon.persist(lvl)
      val rates = Sampling.mixturePlan(landed2, "source", "text",
          weights.toMap)
        .select(col("source"), col("sample_rate")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val mixed = Sampling.stratifiedSampleByHash(landed2, "doc_id",
        "source", rates, defaultFraction = 0.0)
      val landed3 = mixed.persist(lvl)
      val w = TextAnalysis.nbWeightsArray(
        TextAnalysis.nbTrainHashed(landed3,
          col("source") === "src_19", "text", ClsDim), ClsDim)
      val gated = landed3.filter(
        TextAnalysis.classifierKeep(col("text"), w, MinScore))
      val out = Dedup.releaseAfterAll(
        gated.select(col("doc_id"), col("source")),
        landed1, landed2, landed3)
      println(s"[recipe-soak] imperative survivors: ${out.count()}")
      out
    }
    persistedCensus("imperative run")

    // ---- equality ------------------------------------------------------
    timed("equality_check") {
      val aNotB = compiled.exceptAll(imperative).count()
      val bNotA = imperative.exceptAll(compiled).count()
      println(s"[recipe-soak] exceptAll compiled-imperative=$aNotB " +
        s"imperative-compiled=$bNotA")
      if (aNotB != 0 || bNotA != 0)
        throw new IllegalStateException(
          "compiled recipe diverges from the imperative chain")
    }
    println("[recipe-soak] PASS: compiled == imperative")
    spark.stop()
  }
}
