package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.TextSearch

/** Dev-only scale soak of the text-search family on the same synthetic
  * multi-million-document corpus [[StressCurate]] generates: inverted
  * index build (every term in the 70-word vocab is stopword-class, so
  * the posting cap fires on ALL of them — the worst case), incremental
  * append of a 5% batch, conjunctive ranked retrieval, phrase scan, and
  * the full per-doc tf-idf keyword extraction (the heavy shape: ~55
  * distinct terms × nDocs pair rows through the df join + rank window).
  *
  * Usage: runMain graft.tools.StressSearch [nDocs] [workDir]
  * (defaults 5,000,000 docs under /tmp/graft-search-soak; reuses an
  * existing corpus parquet if present). Numbers are recorded in
  * docs/CURATE_SOAK.md.
  */
object StressSearch {

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 5000000L
    val workDir = if (args.length > 1) args(1) else "/tmp/graft-search-soak"
    val cap = 1000
    val spark = graft.Sessions.start()
    // the soak's recorded shapes were measured at 64 shuffle partitions
    spark.conf.set("spark.sql.shuffle.partitions", "64")

    val corpusPath = s"$workDir/documents.parquet"
    if (!new java.io.File(corpusPath).exists()) {
      println(s"[soak] generating $nDocs docs -> $corpusPath")
      StressCurate.synthesize(spark, nDocs).repartition(64)
        .write.mode("overwrite").parquet(corpusPath)
    }
    val m = new StressCurate.Metrics
    spark.sparkContext.addSparkListener(m)

    val t0 = System.nanoTime()
    def secs: Double = (System.nanoTime() - t0) / 1e9
    val stages = scala.collection.mutable.LinkedHashMap[String, (Long, Double)]()
    var last = 0.0
    def mark(name: String, n: Long): Unit = {
      stages(name) = (n, secs - last)
      println(f"[soak] $name: $n rows, stage ${secs - last}%.1fs " +
        f"(shufW=${m.shuffleWrite.get / 1e9}%.2fGB spill=${m.diskSpill.get / 1e9}%.2fGB)")
      last = secs
      spark.catalog.clearCache() // each stage pays its own persists
    }

    val docs = spark.read.parquet(corpusPath)
    mark("input", docs.count())

    val indexPath = s"$workDir/index.parquet"
    TextSearch.invertedIndex(docs, "doc_id", "text", cap)
      .write.mode("overwrite").parquet(indexPath)
    mark("index_build", spark.read.parquet(indexPath).count())

    // ---- multi-epoch append + rebuild-equality (r13: the curate-soak
    // treatment applied to index maintenance). A 5% batch plus five 1%
    // epochs; after the last, a from-scratch rebuild over base+batches
    // must equal the maintained index EXACTLY — the append-≡-rebuild
    // invariant at soak scale, where posting-cap displacement under
    // append has room to go wrong.
    //
    // Every slice (base, each batch, the rebuild) comes from ONE
    // synthesized universe: synthesize(n)'s dup-basis modulus is n/10,
    // so slicing batches out of different-n universes hands the same
    // doc_id different text and fails equality for tool reasons, not
    // engine reasons (found the hard way in the first r13 run).
    val epochPct = nDocs / 100
    val totalDocs = nDocs + nDocs / 20 + 5 * epochPct
    val allPath = s"$workDir/documents_all.parquet"
    if (!new java.io.File(allPath).exists()) {
      StressCurate.synthesize(spark, totalDocs).repartition(64)
        .write.mode("overwrite").parquet(allPath)
    }
    val all = spark.read.parquet(allPath)
    val idx0 = s"$workDir/index_e0.parquet"
    TextSearch.invertedIndex(all.filter(col("doc_id") < nDocs),
        "doc_id", "text", cap)
      .write.mode("overwrite").parquet(idx0)
    mark("append_base_index", spark.read.parquet(idx0).count())

    var hi = nDocs
    var cur = idx0
    val batchSizes = (nDocs / 20) +: Seq.fill(5)(epochPct)
    batchSizes.zipWithIndex.foreach { case (sz, e) =>
      val next = all.filter(col("doc_id") >= hi && col("doc_id") < hi + sz)
      val out = s"$workDir/index_e${e + 1}.parquet"
      TextSearch.invertedIndexAppend(
          spark.read.parquet(cur), next, "doc_id", "text", cap)
        .write.mode("overwrite").parquet(out)
      hi += sz
      cur = out
      mark(s"index_append_epoch${e + 1} (${sz / 1000}k docs)",
        spark.read.parquet(out).count())
    }
    TextSearch.invertedIndex(all.filter(col("doc_id") < hi),
        "doc_id", "text", cap)
      .write.mode("overwrite").parquet(s"$workDir/index_rebuilt.parquet")
    mark("index_full_rebuild",
      spark.read.parquet(s"$workDir/index_rebuilt.parquet").count())
    val maintained = spark.read.parquet(cur)
    val rebuilt = spark.read.parquet(s"$workDir/index_rebuilt.parquet")
    val diff = maintained.exceptAll(rebuilt).count() +
      rebuilt.exceptAll(maintained).count()
    mark("rebuild_equality_diff_rows", diff)
    assert(diff == 0,
      s"maintained index diverged from rebuild by $diff rows")

    mark("search_topk", TextSearch.searchTopK(docs, "doc_id", "text",
      Seq("market", "water", "music"), 100).count())

    mark("search_from_index", TextSearch.searchTopKFromIndex(
      spark.read.parquet(indexPath), docs, "doc_id", "text",
      Seq("market", "water", "music"), 100).count())

    mark("phrase_search", TextSearch.phraseSearch(docs, "doc_id", "text",
      "the market").count())

    mark("tfidf_keywords", TextSearch.tfidfKeywords(docs, "doc_id",
      "text", 5).count())

    val stagesJson = stages.map { case (k, (n, s)) =>
      s""""$k":{"rows":$n,"stage_sec":${f"$s%.1f"}}""" }.mkString(",")
    println(
      s"""{"metric":"search_soak","n_docs":$nDocs,"cap":$cap,""" +
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
