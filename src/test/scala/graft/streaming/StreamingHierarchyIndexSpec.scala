package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.operators.{Dedup, Similarity}
import graft.sink.{DirCommit, IndexLayout}

/** StreamingHierarchyIndex: the maintained hierarchical-SemDeDup
  * layout freezes its tree at bootstrap, per-epoch pair output equals
  * a direct pre-batch probe under the SAME frozen seeds, the end-state
  * assignment equals assigning every batch through those seeds,
  * compaction folds the epoch tail without changing answers, a
  * fresh-checkpoint replay is a no-op, and a resized restart fails
  * loudly.
  */
// driver-excluded slow suite (r21): run with SPARK_GRAFT_SLOW_TESTS=1
@graft.tags.Slow
class StreamingHierarchyIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private val schema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")

  private def clusterA(i: Long) =
    Seq(1.0f + i * 0.001f, 0.5f, 0.25f)
  private def clusterB(i: Long) =
    Seq(-1.0f, 0.2f + i * 0.01f, 0.9f)

  private def pairSet(df: DataFrame) =
    df.select(col("new_id"), col("corpus_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Direct probe under the MAINTAINED layout's frozen seeds: assign
    * corpus and batch through the persisted centroid/sub-seed frames
    * and verify exactly — what each epoch's pairs must equal.
    */
  private def direct(idxDir: String, corpusAll: DataFrame,
                     b: DataFrame): Set[(Long, Long)] = {
    val cents = spark.read.parquet(s"$idxDir/centroids")
    val seeds = spark.read.parquet(s"$idxDir/subseeds")
    val asgC = Similarity.assignToSeeds(corpusAll, cents, seeds,
      "vec_id", "embedding")
    val asgB = Similarity.assignToSeeds(b, cents, seeds,
      "vec_id", "embedding")
    pairSet(Dedup.semanticNearDupsAgainst(asgB, asgC, "vec_id",
      "embedding", "cluster", threshold = 0.95))
  }

  private def assignedSet(df: DataFrame) =
    df.select(col("vec_id"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("hierarchy maintainer: frozen tree, per-epoch pairs, " +
      "compaction, replay no-op, resize fails") {
    val dir = Files.createTempDirectory("hier-stream").toString
    val (srcDir, idxDir, pairsDir, ckpt) =
      (s"$dir/in", s"$dir/idx", s"$dir/pairs", s"$dir/ckpt")
    new java.io.File(srcDir).mkdirs()

    val b1 = ((1L to 20L).map(i => (i, clusterA(i))) ++
      (21L to 30L).map(i => (i, clusterB(i))))
      .toDF("vec_id", "embedding")
    val b2 = Seq((100L, clusterA(7L)), (101L, Seq(0.0f, -1.0f, 0.4f)))
      .toDF("vec_id", "embedding")
    val b3 = Seq((200L, clusterA(3L)), (201L, clusterB(5L)))
      .toDF("vec_id", "embedding")
    val probeBatch = Seq((900L, Seq(1.0f, 0.5f, 0.25f)))
      .toDF("vec_id", "embedding")

    def run(target: Int = 8): Unit = {
      val q = StreamingHierarchyIndex.start(spark, s"$srcDir/*",
        schema, idxDir, pairsDir, ckpt, "vec_id", "embedding",
        targetClusterSize = target, shards = 8, compactEvery = 2,
        threshold = 0.95)
      q.processAllAvailable(); q.stop()
    }

    // epoch 0: bootstrap — the first batch sizes the tree (30 rows /
    // target 8 -> k1 = k2 = 2) and both seed levels freeze
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    run()
    assert(graft.sink.IndexLayout.lastApplied(spark, idxDir)
      .contains(0L))
    val root0 = Dedup.readIndexMeta(spark, idxDir)
    assert(Dedup.metaInt(root0, "k1") == 2 &&
      Dedup.metaInt(root0, "k2") == 2,
      "bootstrap must size the tree from the first batch")
    val seeds0 = spark.read.parquet(s"$idxDir/subseeds").collect()

    // epoch 1: pairs equal the direct pre-batch probe under the
    // frozen seeds; the assignment epoch partition rides as an append
    b2.coalesce(1).write.parquet(s"$srcDir/f2")
    run()
    val expect1 = direct(idxDir, b1, b2)
    assert(expect1.nonEmpty, "fixture sanity: the copied vector hits")
    assert(pairSet(spark.read.parquet(s"$pairsDir/epoch=1")) == expect1)
    val fs = DirCommit.fs(spark, idxDir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/assigned_epochs/epoch=1")),
      "assignment epoch partition expected")

    // external probe mid-tail: equals the direct probe over base+tail
    val all12 = b1.unionByName(b2)
    assert(pairSet(StreamingHierarchyIndex.probe(probeBatch, idxDir,
      "vec_id", "embedding", threshold = 0.95)) ==
      direct(idxDir, all12, probeBatch),
      "maintained probe must equal the direct probe")

    // epoch 2: tail reaches compactEvery — fold, re-point, same
    // answers; seeds must be untouched (frozen)
    b3.coalesce(1).write.parquet(s"$srcDir/f3")
    run()
    val root2 = Dedup.readIndexMeta(spark, idxDir)
    assert(IndexLayout.baseDir(root2,
      IndexLayout.HierarchyAssigned) == "assigned_v2")
    assert(IndexLayout.compactedThrough(root2,
      IndexLayout.HierarchyAssigned) == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/assigned_epochs/epoch=1")), "folded epochs cleared")
    assert(spark.read.parquet(s"$idxDir/subseeds").collect()
      .toSet == seeds0.toSet, "sub-seeds must stay frozen")
    val all = all12.unionByName(b3)
    assert(pairSet(spark.read.parquet(s"$pairsDir/epoch=2")) ==
      direct(idxDir, all12, b3))

    // end-state assignment == assigning every batch through the
    // frozen seeds
    val cents = spark.read.parquet(s"$idxDir/centroids")
    val seeds = spark.read.parquet(s"$idxDir/subseeds")
    val endState = IndexLayout.readPostings(spark, idxDir, root2,
      points = None, maxEpochExclusive = None,
      IndexLayout.HierarchyAssigned)
    assert(assignedSet(endState) == assignedSet(
      Similarity.assignToSeeds(all, cents, seeds, "vec_id",
        "embedding")),
      "maintained assignment must equal the frozen-seed rebuild")

    // fresh-checkpoint replay of the same files: every epoch is
    // already applied — the layout and pairs must not change
    val metaBefore = {
      val p = new org.apache.hadoop.fs.Path(idxDir,
        IndexLayout.MetaFile)
      val in = fs.open(p)
      val s = scala.io.Source.fromInputStream(in).mkString
      in.close(); s
    }
    val q2 = StreamingHierarchyIndex.start(spark, s"$srcDir/*",
      schema, idxDir, pairsDir, s"$dir/ckpt2", "vec_id", "embedding",
      targetClusterSize = 8, shards = 8, compactEvery = 2,
      threshold = 0.95)
    q2.processAllAvailable(); q2.stop()
    val metaAfter = {
      val p = new org.apache.hadoop.fs.Path(idxDir,
        IndexLayout.MetaFile)
      val in = fs.open(p)
      val s = scala.io.Source.fromInputStream(in).mkString
      in.close(); s
    }
    assert(metaAfter == metaBefore,
      "replayed epochs must be a layout no-op")
    assert(pairSet(spark.read.parquet(s"$pairsDir/epoch=2")) ==
      direct(idxDir, all12, b3), "replay must not rewrite pairs")

    // a resized restart must fail loudly, not silently re-tree
    Seq((300L, clusterA(9L))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$srcDir/f4")
    val q3 = StreamingHierarchyIndex.start(spark, s"$srcDir/*",
      schema, idxDir, pairsDir, ckpt, "vec_id", "embedding",
      targetClusterSize = 16, shards = 8, compactEvery = 2,
      threshold = 0.95)
    val err = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { q3.processAllAvailable() }
    q3.stop()
    assert(err.getMessage.contains("cannot") ||
      Option(err.getCause).exists(_.getMessage != null &&
        err.getCause.getMessage.contains("cannot")),
      s"resize must name the frozen-tree contract: ${err.getMessage}")
  }

  test("drift past threshold triggers exactly one rebuild; probes " +
      "stay green across the atomic swap; orphan generations heal") {
    val dir = Files.createTempDirectory("hier-drift").toString
    val (srcDir, idxDir, pairsDir, ckpt) =
      (s"$dir/in", s"$dir/idx", s"$dir/pairs", s"$dir/ckpt")
    new java.io.File(srcDir).mkdirs()
    val fs = DirCommit.fs(spark, idxDir)
    def meta() = Dedup.readIndexMeta(spark, idxDir)
    def metaStr(n: String) = Dedup.metaStr(meta(), n)
    def run(): Unit = {
      val q = StreamingHierarchyIndex.start(spark, s"$srcDir/*",
        schema, idxDir, pairsDir, ckpt, "vec_id", "embedding",
        targetClusterSize = 8, shards = 8, compactEvery = 2,
        threshold = 0.95, driftThreshold = 0.03)
      q.processAllAvailable(); q.stop()
    }

    // epoch 0: bootstrap over two tight bundles — baseline recorded
    val b1 = ((1L to 20L).map(i => (i, clusterA(i))) ++
      (21L to 30L).map(i => (i, clusterB(i))))
      .toDF("vec_id", "embedding")
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    run()
    val root0 = meta()
    val baseline0 = Dedup.metaDoubleOpt(root0, "drift_baseline")
    assert(baseline0.isDefined, "bootstrap must record a baseline")
    assert(Dedup.metaStrOpt(root0, "centroids_dir")
      .contains("centroids"))

    // a probe plan resolved against the PRE-swap meta, executed only
    // AFTER the swap — the serving-concurrent-with-maintenance race
    // the r20 grace window closes: its lazy scans point at the old
    // generation's directories, which the rebuild must retain
    val preSwapRoot = root0
    val preSwapAssigned = IndexLayout.readPostings(spark, idxDir,
      preSwapRoot, points = None, maxEpochExclusive = None,
      IndexLayout.HierarchyAssigned)

    // epochs 1-2: the corpus MOVES — batches in a direction neither
    // bundle occupies drag cluster member means off their frozen
    // sub-seeds; epoch 2 is a compaction boundary, so the gate fires
    // there and must rebuild (once). The rebuild must not pin a
    // corpus-sized copy in the block manager (the pre-r20
    // localCheckpoint spelling): at most the two bounded seed-frame
    // checkpoints may appear as new persistent RDDs.
    def driftRow(i: Long) = (400L + i, Seq(0.05f, -0.9f, -0.4f))
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 2).foreach { e =>
      (1L to 10L).map(i => driftRow(e * 100 + i))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.parquet(s"$srcDir/drift$e")
      run()
    }
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(leaked.size <= 2,
      s"rebuild must not pin corpus-sized frames (only the two bounded " +
        s"seed checkpoints may linger): leaked RDD ids $leaked")
    val root2 = meta()
    assert(metaStr("centroids_dir") == "centroids_v2" &&
      metaStr("subseeds_dir") == "subseeds_v2",
      s"drift past threshold must swap in a rebuilt tree: " +
        s"${Dedup.metaStrOpt(root2, "centroids_dir")}")
    assert(IndexLayout.baseDir(root2,
      IndexLayout.HierarchyAssigned) == "assigned_v2",
      "the rebuild subsumes the fold")
    // 50 rows / target 8 -> k = 3: the rebuild re-sizes from the full
    // current corpus, not the bootstrap count
    assert(Dedup.metaInt(root2, "k1") == 3,
      s"rebuild must re-derive sqrt sizing, got k1=" +
        s"${Dedup.metaInt(root2, "k1")}")
    // the swap is atomic and complete: every meta-referenced dir
    // exists. The SUPERSEDED generation is retained under the grace
    // window (recorded in retired_dirs, collected at the next
    // compaction boundary) so in-flight probes that resolved the old
    // meta can still run — the pre-swap plan above must execute green
    // AFTER the swap.
    for (d <- Seq("centroids_v2", "subseeds_v2", "assigned_v2"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/$d")),
        s"meta points at $d which does not exist")
    val retired = Dedup.metaStrOpt(root2, "retired_dirs")
      .map(_.split(',').toSet).getOrElse(Set.empty)
    assert(retired == Set("assigned_v0", "centroids", "subseeds"),
      s"rebuild must record the superseded generation, got $retired")
    for (d <- retired)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/$d")),
        s"retired generation $d must survive until the next boundary")
    assert(preSwapAssigned.count() == 30,
      "a probe plan resolved before the swap must still execute " +
        "(grace window) - its scans read the retired generation")
    // the new baseline belongs to the new tree, and the end-state
    // assignment IS the new tree's assignment of the full corpus
    val newCents = spark.read.parquet(s"$idxDir/centroids_v2")
    val newSeeds = spark.read.parquet(s"$idxDir/subseeds_v2")
    val all = b1.unionByName((1 to 2).flatMap(e =>
        (1L to 10L).map(i => driftRow(e * 100 + i)))
      .toDF("vec_id", "embedding"))
    val endState = IndexLayout.readPostings(spark, idxDir, root2,
      points = None, maxEpochExclusive = None,
      IndexLayout.HierarchyAssigned)
    assert(assignedSet(endState) == assignedSet(
      Similarity.assignToSeeds(all, newCents, newSeeds, "vec_id",
        "embedding")),
      "rebuilt assignment must equal the new tree over the full corpus")

    // probe green across the swap: a near-dup of a bootstrap-corpus
    // member still pairs, served through the REBUILT tree
    val probeBatch = Seq((900L, Seq(1.0f, 0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    val asgC = Similarity.assignToSeeds(all, newCents, newSeeds,
      "vec_id", "embedding")
    val asgB = Similarity.assignToSeeds(probeBatch, newCents, newSeeds,
      "vec_id", "embedding")
    val expect = pairSet(Dedup.semanticNearDupsAgainst(asgB, asgC,
      "vec_id", "embedding", "cluster", threshold = 0.95))
    assert(expect.nonEmpty, "fixture sanity: the probe vector hits")
    assert(pairSet(StreamingHierarchyIndex.probe(probeBatch, idxDir,
      "vec_id", "embedding", threshold = 0.95)) == expect,
      "probe through the swapped meta must serve the new tree")

    // epochs 3-4: stationary batches (near-dups of corpus rows) — the
    // next compaction boundary must NOT rebuild again (exactly once),
    // and crash-window orphan generations heal at that boundary
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idxDir/centroids_v99"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idxDir/subseeds_v99"))
    (3 to 4).foreach { e =>
      Seq((600L + e, clusterA(5L))).toDF("vec_id", "embedding")
        .coalesce(1).write.parquet(s"$srcDir/f$e")
      run()
    }
    val root4 = meta()
    assert(metaStr("centroids_dir") == "centroids_v2",
      "a stationary corpus must not rebuild a second time")
    assert(IndexLayout.baseDir(root4,
      IndexLayout.HierarchyAssigned) == "assigned_v4",
      "the ordinary fold must still run at the boundary")
    for (d <- Seq("centroids_v99", "subseeds_v99"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/$d")),
        s"orphan generation $d must heal at the maintainer boundary")
    // the grace window ENDS at this boundary: the fold's meta drops
    // the retired fields and the superseded generation is collected
    assert(Dedup.metaStrOpt(root4, "retired_dirs").isEmpty,
      "the boundary fold must drop the grace-window fields")
    for (d <- Seq("assigned_v0", "centroids", "subseeds"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/$d")),
        s"retired generation $d must be collected at the next boundary")
  }
}
