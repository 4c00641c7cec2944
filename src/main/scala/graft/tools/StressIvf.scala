package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Dev-only scale soak of the trained-IVF serving path at
  * [[StressKmeans]]' scale: train Lloyd centroids on a hash sample,
  * assign the full corpus, publish the cluster-partitioned on-disk
  * index, then run a probed query batch and MEASURE the pruning the
  * layout claims — files/rows touched by an `nprobe`-cluster read vs
  * the full index — plus the probed search wall and a recall audit
  * against brute force for a small query set.
  *
  * Usage: runMain graft.tools.StressIvf [nVectors] [k] [workDir]
  * (defaults 2,000,000 x 64-dim, k=256, /tmp/graft-ivf-soak). Numbers
  * recorded in docs/SEARCH_SOAK.md.
  */
object StressIvf {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val k = if (args.length > 1) args(1).toInt else 256
    val workDir = if (args.length > 2) args(2) else "/tmp/graft-ivf-soak"
    val dim = 64
    val nBlobs = 32
    val nprobe = 8
    val topK = 10
    val nQueries = 64L
    val spark = graft.Sessions.start()

    // StressKmeans' deterministic blob corpus: vector i leans toward
    // direction (i % nBlobs) plus hash-noise — column expressions only
    val noise = (j: Int) =>
      (pmod(xxhash64(col("id"), lit(j)), lit(1000L)).cast("double")
        / 1000.0 - 0.5) * 0.2
    val comps = (0 until dim).map { j =>
      (when(col("id") % nBlobs === j % nBlobs, 1.0).otherwise(0.0)
        + noise(j)).cast("float")
    }
    // MATERIALIZE the synthetic corpus: left as a lazy expression tree,
    // projection collapse pushes the 64-xxhash array construction into
    // every downstream join project — each assign pair would regenerate
    // its vectors (measured ~380µs/row). Real corpora come off parquet;
    // the soak should too.
    val corpusPath = s"$workDir/corpus.parquet"
    if (!new java.io.File(corpusPath).exists()) {
      spark.range(n).select(col("id").as("vec_id"),
          array(comps: _*).as("embedding"))
        .write.mode("overwrite").parquet(corpusPath)
    }
    val corpus = spark.read.parquet(corpusPath)

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      println(f"[ivf-soak] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.1fs")
      a
    }

    // train on a ~100k hash sample (standard practice: centroids from a
    // bounded sample, full corpus assigned once)
    val sampleMod = math.max(1L, n / 100000L)
    val train = corpus.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod))
      === 0)
    val cents = timed("train_centroids(2 Lloyd)") {
      Similarity.trainCentroids(train, "vec_id", "embedding", k,
        iterations = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    println(s"[ivf-soak] trained ${cents.count()} centroids " +
      s"on ${train.count()} sampled vectors")

    val indexPath = s"$workDir/index"
    timed("assign_full_corpus+publish") {
      Similarity.writeIvfIndex(
        Similarity.ivfAssign(corpus, cents, "vec_id", "embedding"),
        indexPath)
    }
    val index = Similarity.readIvfIndex(spark, indexPath)
    val fullFiles = index.inputFiles.length.toLong
    val fullRows = index.count()

    // probed read: the query batch's nprobe nearest clusters, read via
    // the partition column — the serving I/O shape
    val queries = corpus.filter(col("vec_id") < nQueries)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    queries.count()
    val probed = timed("probed_topk_from_index") {
      val res = Similarity.ivfTopK(index, cents, queries, "vec_id",
        "embedding", topK, nprobe)
      res.count()
      res
    }
    // measured pruning: the distinct clusters the query batch's
    // neighbors came from (bounded by nQueries x nprobe)
    val clustersTouched = index
      .join(broadcast(probed.select(col("neighbor_id").as("vec_id"))
        .distinct()), "vec_id")
      .select(col("cluster")).distinct().count()
    println(s"[ivf-soak] index: $fullRows rows, $fullFiles files, " +
      s"$k clusters; neighbors drawn from $clustersTouched clusters")

    // explicit partition-pruned scan measurement: an nprobe-cluster
    // read (the per-query serving I/O) vs the whole index. Files are
    // counted from the cluster directories — DataFrame.inputFiles
    // reports the pre-pruning listing and would read as 100%.
    val sampleClusters = 0L until nprobe.toLong
    val pruned = index.filter(col("cluster").isin(sampleClusters: _*))
    def parquetFilesUnder(dir: java.io.File): Long =
      if (!dir.exists) 0L
      else dir.listFiles.count(_.getName.endsWith(".parquet")).toLong
    val prunedFiles = sampleClusters.map(cl =>
      parquetFilesUnder(new java.io.File(s"$indexPath/cluster=$cl"))).sum
    val prunedRows = pruned.count()
    println(f"[ivf-soak] $nprobe-cluster pruned read: $prunedRows rows " +
      f"($prunedFiles files) vs full $fullRows rows ($fullFiles files) " +
      f"-> ${prunedRows.toDouble / fullRows * 100}%.1f%% of rows, " +
      f"${prunedFiles.toDouble / fullFiles * 100}%.1f%% of files")

    // recall vs brute force on the same query batch
    val exact = timed("brute_force_reference") {
      val e = Similarity.bruteForceTopK(corpus, queries, "vec_id",
        "embedding", topK)
      e.count() // force — the timing must cover the scan, not the plan
      e
    }
    val audit = Similarity.recallAudit(exact, probed)
      .agg(avg(col("recall")).as("mean_recall")).collect()(0).getDouble(0)
    println(f"[ivf-soak] recall@$topK vs brute force: $audit%.3f " +
      f"(nprobe=$nprobe of $k clusters)")
    spark.stop()
  }
}
