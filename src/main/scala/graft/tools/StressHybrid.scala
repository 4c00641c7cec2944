package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextSearch}

/** Dev-only scale soak of the hybrid-RRF SERVING path: both retrievers
  * answer from published layouts — the capped inverted index (lexical
  * conjunctive tf·idf top-k) and the cluster-partitioned IVF index
  * (cosine top-k over ~nprobe/nlist of the corpus) — and
  * [[Similarity.rrfFuse]] combines the two ranked lists. The claim
  * under test: fusion is panel-sized, so hybrid latency ≈ the sum of
  * the retrievers' serving latencies plus a constant — it must NOT
  * grow with corpus size beyond what the retrievers themselves pay.
  *
  * The corpus is [[StressCurate.synthesize]] docs with deterministic
  * id-aligned embeddings (the StressProbe lowmatch construction:
  * near-orthogonal hash components, so IVF buckets stay balanced).
  * Index builds are timed separately — they run once per corpus
  * publish; the serving numbers are what scale with query traffic.
  *
  * Usage: runMain graft.tools.StressHybrid [nDocs] [workDir]
  * (defaults 2,000,000 docs under /tmp/graft-hybrid-soak; reuses
  * existing corpus/index parquet if present). Numbers recorded in
  * docs/SEARCH_SOAK.md.
  */
object StressHybrid {

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 2000000L
    val workDir = if (args.length > 1) args(1) else "/tmp/graft-hybrid-soak"
    val spark = graft.Sessions.start()
    // the soak's recorded shapes were measured at 64 shuffle partitions
    spark.conf.set("spark.sql.shuffle.partitions", "64")

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def exists(p: String) = new java.io.File(p).exists()

    // ---- corpus: docs + id-aligned embeddings ------------------------
    val docsPath = s"$workDir/documents.parquet"
    if (!exists(docsPath)) {
      println(s"[hybrid-soak] generating $nDocs docs -> $docsPath")
      StressCurate.synthesize(spark, nDocs).repartition(64)
        .write.mode("overwrite").parquet(docsPath)
    }
    val docs = spark.read.parquet(docsPath).select("doc_id", "text")
    val dim = 64
    val vecPath = s"$workDir/embeddings.parquet"
    if (!exists(vecPath)) {
      val comps = (0 until dim).map { j =>
        ((pmod(xxhash64(col("vec_id"), lit(j)), lit(2000L))
          .cast("double") / 1000.0) - 1.0).cast("float")
      }
      println(s"[hybrid-soak] generating $nDocs vectors -> $vecPath")
      spark.range(nDocs).select(col("id").as("vec_id"))
        .select(col("vec_id"), array(comps: _*).as("embedding"))
        .repartition(64)
        .write.mode("overwrite").parquet(vecPath)
    }
    val emb = spark.read.parquet(vecPath)

    // ---- publish the serving state (timed, but once per corpus) ------
    val invPath = s"$workDir/inverted_index.parquet"
    if (!exists(invPath)) {
      val w = timed(TextSearch.invertedIndex(docs, "doc_id", "text",
          maxPostings = 1000)
        .write.mode("overwrite").parquet(invPath))
      println(f"[hybrid-soak] inverted index build: $w%.1f s")
    }
    val centPath = s"$workDir/centroids.parquet"
    val ivfPath = s"$workDir/ivf_index"
    // gate on BOTH artifacts, and on the IVF job's _SUCCESS marker
    // rather than the directory: Spark creates the output dir before
    // the job commits, so a crash mid-write leaves a present-but-
    // partial ivf_index that a bare exists() would happily serve
    if (!exists(centPath) || !exists(s"$ivfPath/_SUCCESS")) {
      // 256 seeded centroids; cluster-partitioned IVF layout so the
      // probe reads only its nprobe partitions off storage
      val every = math.max(1L, nDocs / 256L)
      val cents = Similarity.seedCentroids(emb, "vec_id", "embedding",
        every = every.toInt)
      cents.write.mode("overwrite").parquet(centPath)
      val w = timed(Similarity.writeIvfIndex(
        Similarity.ivfAssign(emb, spark.read.parquet(centPath),
          "vec_id", "embedding"), ivfPath))
      println(f"[hybrid-soak] IVF assign+publish: $w%.1f s")
    }
    val inv = spark.read.parquet(invPath)
    val cents = spark.read.parquet(centPath)
    val assigned = Similarity.readIvfIndex(spark, ivfPath)

    // ---- serve: lexical alone, vector alone, fused hybrid ------------
    val terms = Seq("market", "water", "music")
    val k = 20
    val qid = 7L
    val qVec = emb.filter(col("vec_id") === qid)
    def lexList() = Similarity.rankTopK(
      TextSearch.searchTopKFromIndex(inv, docs, "doc_id", "text",
          terms, k)
        .select(lit(qid).as("query_id"),
          col("doc_id").cast("long").as("neighbor_id"),
          col("score").cast("double").as("sim")), k)
    def vecList() = Similarity.ivfTopK(assigned, cents, qVec,
      "vec_id", "embedding", k, nprobe = 8)

    (1 to 3).foreach { rep =>
      val lx = timed(lexList().count())
      val vx = timed(vecList().count())
      val hx = timed(
        Similarity.rrfFuse(Seq(lexList(), vecList()), k).count())
      println(f"[hybrid-soak] rep=$rep lexical=$lx%.2f s " +
        f"vector=$vx%.2f s hybrid=$hx%.2f s " +
        f"fusion_overhead=${hx - lx - vx}%.2f s")
    }
    spark.stop()
  }
}
