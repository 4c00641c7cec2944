package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sink.{DirCommit, IndexLayout}

/** Soak the maintained hierarchical-SemDeDup layout ACROSS a
  * drift-triggered rebuild at corpus scale — the composition the r19
  * curve measured only in parts (publish and probe separately, rebuild
  * only at spec scale). The corpus MOVES mid-soak: epochs below
  * `driftFrom` stream a hash-derived stationary distribution (the
  * bootstrap tree fits it), epochs at/after it stream a strongly
  * shifted one, so the first compaction boundary holding enough
  * shifted mass fires the drift gate and swaps in a rebuilt tree —
  * then the stream keeps going and the next boundary must fold, not
  * rebuild (the new tree FITS the shifted distribution).
  *
  * Per epoch it prints apply wall, a fixed 1k-vector serving-probe
  * wall (the across-the-swap number), the meta's seed generation, the
  * assigned-base file count and layout bytes — the file-count column
  * is the bounded-fan-out evidence (base shards stay = `shards` at any
  * corpus size; the pre-r19 hive layout fanned out n/target dirs).
  *
  * Default geometry: 10 epochs x 100k vectors (dim 64) = 1M vectors ≈
  * factor 500 of the sf0.1 embeddings fixture; compactEvery=3 puts
  * boundaries at epochs 3 (stationary — fold), 6 (3 shifted epochs in
  * corpus — rebuild) and 9 (shifted-but-stationary vs the new tree —
  * fold). Usage:
  *   runMain graft.tools.StressHierRebuild [epochs] [rowsPerEpoch]
  *     [workDir] [compactEvery] [driftFrom]
  */
object StressHierRebuild {

  def main(args: Array[String]): Unit = {
    val epochs = if (args.length > 0) args(0).toInt else 10
    val rows = if (args.length > 1) args(1).toLong else 100000L
    val workDir = if (args.length > 2) args(2)
      else "/tmp/graft-hier-rebuild-soak"
    val compactEvery = if (args.length > 3) args(3).toInt else 3
    val driftFrom = if (args.length > 4) args(4).toInt else 4

    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val dim = 64
    val comps = (0 until dim).map { j =>
      ((pmod(xxhash64(col("vec_id"), lit(j)), lit(2000L))
        .cast("double") / 1000.0) - 1.0).cast("float")
    }
    // the shifted distribution: full per-row hash noise PLUS a fixed
    // direction. The noise term keeps pairwise cosine among shifted
    // rows ~0.5 — far below the 0.9 pair threshold, so the epoch
    // probes stay honest (a noise-free shift makes every shifted row
    // a near-dup of every other and the pre-batch verification emits
    // ~|epoch|² pairs — the first cut of this tool did exactly that
    // and wrote 4 GB of pairs before epoch 5 finished). The fixed
    // term still drags cluster member means off the frozen sub-seeds,
    // which is all the drift gate measures.
    val shiftDir = (0 until dim).map(j =>
      lit(if (j % 2 == 0) 0.7f else -0.35f))
    val shifted = (0 until dim).map(j =>
      (comps(j) + shiftDir(j)).cast("float"))
    def slice(ep: Int): org.apache.spark.sql.DataFrame =
      spark.range(ep * rows, (ep + 1) * rows)
        .select(col("id").as("vec_id"))
        .select(col("vec_id"),
          array((if (ep >= driftFrom) shifted else comps): _*)
            .as("embedding"))

    val probeBatch = spark.range(900000000L, 900001000L)
      .select(col("id").as("vec_id"))
      .select(col("vec_id"), array(comps: _*).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    probeBatch.count()

    val idx = s"$workDir/hier-index"
    val pairs = s"$workDir/hier-pairs"
    val fsys = DirCommit.fs(spark, idx)
    def baseFiles(): (String, Int, Long) = {
      val root = Dedup.readIndexMeta(spark, idx)
      val base = IndexLayout.baseDir(root, IndexLayout.HierarchyAssigned)
      val p = new org.apache.hadoop.fs.Path(s"$idx/$base")
      val n =
        if (!fsys.exists(p)) 0
        else fsys.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
      val bytes = fsys.getContentSummary(
        new org.apache.hadoop.fs.Path(idx)).getLength
      (base, n, bytes)
    }

    var lastGen = ""
    val rebuilds = scala.collection.mutable.ArrayBuffer[Int]()
    (0 until epochs).foreach { ep =>
      val batch = slice(ep)
      val w = timed(graft.streaming.StreamingHierarchyIndex.applyBatch(
        batch, ep.toLong, idx, pairs, "vec_id", "embedding",
        targetClusterSize = 50, shards = 64,
        compactEvery = compactEvery, threshold = 0.9,
        maxClusters = 4096, driftThreshold = 0.05))
      val p = timed(graft.streaming.StreamingHierarchyIndex
        .probe(probeBatch, idx, "vec_id", "embedding", 0.9).count())
      val root = Dedup.readIndexMeta(spark, idx)
      val gen = Dedup.metaStrOpt(root, "centroids_dir")
        .getOrElse("centroids")
      val retired = Dedup.metaStrOpt(root, "retired_dirs").getOrElse("")
      if (gen != lastGen && lastGen.nonEmpty) rebuilds += ep
      lastGen = gen
      val (base, nFiles, bytes) = baseFiles()
      println(f"[hier-rebuild-soak] epoch=$ep apply_sec=$w%.2f " +
        f"probe_sec=$p%.2f gen=$gen base=$base base_files=$nFiles " +
        f"layout_mb=${bytes / 1000000} k1=${Dedup.metaInt(root, "k1")}" +
        (if (retired.nonEmpty) s" retired=[$retired]" else ""))
    }
    println(s"[hier-rebuild-soak] rebuild_epochs=" +
      s"${rebuilds.mkString(",")} (expect exactly one, at the first " +
      s"boundary with shifted mass; later boundaries must fold)")
    require(rebuilds.size == 1,
      s"expected exactly one drift rebuild, saw $rebuilds")
    spark.stop()
  }
}
