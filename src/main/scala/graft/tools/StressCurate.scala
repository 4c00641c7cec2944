package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only end-to-end scale soak of the curate chain
  * (lang-id → gopher quality → exact dedup → minhash/LSH → connected
  * components → domain cap → hash split — the `pipeline_curate_corpus`
  * chain) on a synthetic multi-million-document corpus generated ON DISK
  * first, so the chain reads parquet exactly like production.
  *
  * Usage: runMain graft.tools.StressCurate [nDocs] [workDir]
  * (defaults 5,000,000 docs under /tmp/graft-curate-soak).
  *
  * Corpus shape (all derived from hash(doc_id) — fully distributed
  * generation, no driver-side data):
  *  - ~10% non-English docs (German-ish vocab) → dropped by lang-id;
  *  - ~5% too-short docs (< 50 words) → dropped by gopher rules;
  *  - ~15% exact duplicates (doc shares its content seed with a basis
  *    doc, identical word sequence);
  *  - ~10% near duplicates (same seed + one appended salt word →
  *    high-Jaccard shingle overlap for the minhash sweep);
  *  - 20 sources with a skewed size distribution (the domain-cap and
  *    skew paths see realistic imbalance).
  *
  * Prints one JSON line with per-stage survivor counts, wall seconds,
  * and cluster-style resource totals (shuffle read/write bytes, disk
  * spill, peak single-task execution memory) captured via a task-metrics
  * listener. Numbers are recorded in docs/CURATE_SOAK.md.
  */
object StressCurate {

  /** Accumulates task metrics across the whole run. */
  final class Metrics extends SparkListener {
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val diskSpill = new AtomicLong
    val memSpill = new AtomicLong
    val peakTaskMem = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        diskSpill.addAndGet(m.diskBytesSpilled)
        memSpill.addAndGet(m.memoryBytesSpilled)
        peakTaskMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      }
    }
  }

  private val EnVocab: Seq[String] = Seq(
    "the", "of", "and", "to", "in", "that", "is", "was", "for", "with",
    "market", "system", "people", "report", "water", "science", "music",
    "history", "company", "government", "service", "project", "world",
    "group", "house", "family", "school", "student", "research", "city",
    "model", "table", "range", "energy", "signal", "figure", "method",
    "result", "value", "change", "study", "growth", "policy", "health",
    "record", "number", "public", "member", "season", "review", "design",
    "process", "travel", "garden", "window", "silver", "bridge", "forest",
    "stream", "engine", "letter", "moment", "camera", "branch", "island",
    "office", "market", "player", "ground", "corner", "animal", "doctor")

  private val DeVocab: Seq[String] = Seq(
    "der", "die", "und", "das", "ist", "nicht", "ein", "eine", "mit",
    "von", "zu", "den", "auf", "für", "im", "dem", "sich", "des", "auch",
    "es", "werden", "aus", "wurde", "sind", "einer", "wird", "bei",
    "einem", "nach", "über", "als", "wie", "durch", "zur", "aber")

  def synthesize(spark: SparkSession, nDocs: Long): DataFrame = {
    val vocabEn = array(EnVocab.map(lit): _*)
    val vocabDe = array(DeVocab.map(lit): _*)
    val base = spark.range(nDocs).toDF("doc_id")
      .withColumn("h", abs(xxhash64(col("doc_id"))))
      // class: 0-9 german, 10-14 short, 15-29 exact dup, 30-39 near dup
      .withColumn("cls", pmod(col("h"), lit(100)))
      // duplicate docs draw their content from a basis pool 10x smaller
      .withColumn("seed",
        when(col("cls").between(15, 39), pmod(col("doc_id"), lit(nDocs / 10)))
          .otherwise(col("doc_id")))
      // length derives from the SEED, not the doc's own hash — a
      // duplicate must reproduce its basis doc's exact word sequence,
      // length included (basis docs have seed == doc_id, so this is
      // their own length too)
      .withColumn("n_words",
        when(col("cls").between(10, 14),
          (pmod(col("h"), lit(30)) + 10).cast("int"))  // 10-39 words: short
          .otherwise((pmod(abs(xxhash64(col("seed"))), lit(180)) + 70)
            .cast("int")))  // 70-249 words
      .withColumn("is_de", col("cls") < 10)
      // skewed source mix: floor(sqrt(h % 400)) in [0,19], quadratically
      // weighted toward the high ids — src_19 is ~10% of the corpus,
      // src_0 ~0.25%
      .withColumn("source",
        concat(lit("src_"),
          floor(sqrt(pmod(col("h"), lit(400)).cast("double"))).cast("int")))
    // per-word index sequence -> vocab word chosen by hash(seed, i);
    // German docs draw from the German vocab so lang-id rejects them
    val words = transform(sequence(lit(0), col("n_words") - 1),
      i => when(col("is_de"),
        element_at(vocabDe,
          (pmod(abs(xxhash64(col("seed"), i)), lit(DeVocab.size)) + 1)
            .cast("int")))
        .otherwise(element_at(vocabEn,
          (pmod(abs(xxhash64(col("seed"), i)), lit(EnVocab.size)) + 1)
            .cast("int"))))
    base.withColumn("text0", array_join(words, " "))
      // near-dups perturb the shared basis text with one appended word
      .withColumn("text",
        when(col("cls").between(30, 39),
          concat(col("text0"), lit(" variant"),
            pmod(col("doc_id"), lit(5)).cast("string")))
          .otherwise(col("text0")))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "source", "n_chars")
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 5000000L
    val workDir = if (args.length > 1) args(1) else "/tmp/graft-curate-soak"
    // 0 = exact buckets (the oracle-parity default); >0 caps each LSH
    // band bucket, starring viral clusters instead of squaring them
    val maxBucket = if (args.length > 2) args(2).toInt else 0
    val spark = graft.Sessions.start()
    // the soak's recorded shapes were measured at 64 shuffle partitions
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    import graft.operators.{Dedup, Sampling, TextAnalysis}

    val corpusPath = s"$workDir/documents.parquet"
    if (!new java.io.File(corpusPath).exists()) {
      println(s"[soak] generating $nDocs docs -> $corpusPath")
      synthesize(spark, nDocs).repartition(64)
        .write.mode("overwrite").parquet(corpusPath)
    }
    val m = new Metrics
    spark.sparkContext.addSparkListener(m)

    val t0 = System.nanoTime()
    def secs: Double = (System.nanoTime() - t0) / 1e9
    val stages = scala.collection.mutable.LinkedHashMap[String, (Long, Double)]()
    def mark(name: String, n: Long): Unit = {
      stages(name) = (n, secs)
      println(f"[soak] $name: $n rows at $secs%.1fs " +
        f"(shufW=${m.shuffleWrite.get / 1e9}%.2fGB spill=${m.diskSpill.get / 1e9}%.2fGB)")
    }

    val docs = spark.read.parquet(corpusPath)
    mark("input", docs.count())

    val base = docs.filter(TextAnalysis.langId(col("text")) === "en" &&
      TextAnalysis.gopherKeep(col("text"), minWords = 50))
    val keepExact = Dedup.exact(
      base.select(col("doc_id"),
        TextAnalysis.normalizeForHash(col("text")).as("__norm")),
      "doc_id", "__norm").select(col("keep_id").as("doc_id"))
    val edocs = base.join(keepExact, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    mark("lang+gopher+exact", edocs.count())

    val pairs = Dedup.minhashNearDups(edocs, "doc_id", "text",
      k = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.5,
      maxBucket = if (maxBucket > 0) maxBucket else Int.MaxValue)
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val canon = Dedup.keepCanonical(edocs, "doc_id", labels)
    mark("minhash+cc+canonical", canon.count())

    val capped = Sampling.capPerGroup(canon, "source", "doc_id",
      col("n_chars"), (nDocs / 40).toInt)
    val result = Sampling.hashSplit(capped, "doc_id",
      Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
      .select(col("doc_id"), col("source"), col("split"))
    result.write.mode("overwrite").parquet(s"$workDir/curated.parquet")
    mark("cap+split+write", spark.read.parquet(s"$workDir/curated.parquet").count())
    edocs.unpersist()

    val stagesJson = stages.map { case (k, (n, s)) =>
      s""""$k":{"rows":$n,"at_sec":${f"$s%.1f"}}""" }.mkString(",")
    println(
      s"""{"metric":"curate_soak","n_docs":$nDocs,"max_bucket":$maxBucket,""" +
      s""""total_sec":${f"$secs%.1f"},""" +
      s""""stages":{$stagesJson},""" +
      s""""shuffle_write_gb":${f"${m.shuffleWrite.get / 1e9}%.2f"},""" +
      s""""shuffle_read_gb":${f"${m.shuffleRead.get / 1e9}%.2f"},""" +
      s""""disk_spill_gb":${f"${m.diskSpill.get / 1e9}%.2f"},""" +
      s""""mem_spill_gb":${f"${m.memSpill.get / 1e9}%.2f"},""" +
      s""""peak_task_mem_mb":${f"${m.peakTaskMem.get / 1e6}%.1f"}}""")
    spark.stop()
  }
}
