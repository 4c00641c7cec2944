package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.operators.Dedup
import graft.sink.{DirCommit, IndexLayout}

/** StreamingBandedEmbeddingIndex: the two-table maintained layout
  * (postings + id-sorted vector sidecar) answers every probe exactly
  * like a direct probe with the SAME frozen planes over the same
  * vectors, per-epoch pair output equals the pre-batch probe,
  * compaction folds BOTH epoch tails without changing answers, the
  * verification never touches the caller's corpus frame, and crash
  * windows repair idempotently.
  */
// driver-excluded slow suite (r21): run with SPARK_GRAFT_SLOW_TESTS=1
@graft.tags.Slow
class StreamingBandedEmbeddingIndexSpec extends SparkSpecBase {
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

  /** Direct probe with the MAINTAINED layout's frozen planes. */
  private def direct(idxDir: String, corpusAll: DataFrame,
                     b: DataFrame) = {
    val planes = spark.read.parquet(s"$idxDir/planes")
    val idx = Dedup.EmbeddingIndex(planes,
      Dedup.embSignWithPlanes(corpusAll, planes, "vec_id", "embedding"),
      numPlanes = 8, bandBits = 4)
    pairSet(Dedup.embeddingNearDupsAgainst(b, corpusAll, idx,
      "vec_id", "embedding", threshold = 0.95))
  }

  private def poisoned(n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      array(lit(0.0f), lit(0.0f), lit(0.0f)).as("embedding"))

  test("banded embedding maintainer: append == rebuild over two " +
      "tables, compaction, crash windows") {
    val dir = Files.createTempDirectory("bandemb-stream").toString
    val (srcDir, idxDir, pairsDir, ckpt) =
      (s"$dir/in", s"$dir/idx", s"$dir/pairs", s"$dir/ckpt")
    new java.io.File(srcDir).mkdirs()

    val b1 = ((1L to 20L).map(i => (i, clusterA(i))) ++
      (21L to 30L).map(i => (i, clusterB(i)))).toDF("vec_id", "embedding")
    val b2 = Seq((100L, clusterA(7L)), (101L, Seq(0.0f, -1.0f, 0.4f)))
      .toDF("vec_id", "embedding")
    val b3 = Seq((200L, clusterA(3L)), (201L, clusterB(5L)))
      .toDF("vec_id", "embedding")
    val probeBatch = Seq((900L, Seq(1.0f, 0.5f, 0.25f)))
      .toDF("vec_id", "embedding")

    def run(): Unit = {
      val q = StreamingBandedEmbeddingIndex.start(spark, s"$srcDir/*",
        schema, idxDir, pairsDir, ckpt, "vec_id", "embedding",
        numPlanes = 8, bandBits = 4, shards = 16, compactEvery = 2,
        threshold = 0.95)
      q.processAllAvailable(); q.stop()
    }

    // epoch 0: bootstrap (planes frozen from b1, both bases written)
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    run()
    assert(graft.sink.IndexLayout.lastApplied(spark, idxDir)
      .contains(0L))
    // the probe must source vectors from the maintained sidecar: the
    // corpusEmb argument is poisoned with zero vectors
    val m0 = pairSet(Dedup.embeddingNearDupsAgainstBandedIndex(
      probeBatch, poisoned(31L), idxDir, "vec_id", "embedding",
      threshold = 0.95))
    assert(m0.nonEmpty && m0 == direct(idxDir, b1, probeBatch),
      "bootstrap layout must serve the probe from its own tables")

    // epoch 1 across a restart: pairs equal the pre-batch probe; both
    // epoch partitions ride as appends
    b2.coalesce(1).write.parquet(s"$srcDir/f2")
    run()
    val expect1 = direct(idxDir, b1, b2)
    assert(expect1.nonEmpty, "fixture sanity: the copied vector hits")
    assert(pairSet(spark.read.parquet(s"$pairsDir/epoch=1")) == expect1)
    val fs = DirCommit.fs(spark, idxDir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/epochs/epoch=1")), "postings epoch partition expected")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/vectors_epochs/epoch=1")),
      "vectors epoch partition expected")
    val all12 = b1.unionByName(b2)
    assert(pairSet(Dedup.embeddingNearDupsAgainstBandedIndex(
        probeBatch, poisoned(31L), idxDir, "vec_id", "embedding",
        threshold = 0.95)) == direct(idxDir, all12, probeBatch),
      "mid-tail maintained probe must equal the direct probe")

    // epoch 2: both tails reach compactEvery — fold, re-point, same
    // answers
    b3.coalesce(1).write.parquet(s"$srcDir/f3")
    run()
    val root = IndexLayout.readMeta(spark, idxDir)
    assert(IndexLayout.baseDir(root) == "postings_v2")
    assert(IndexLayout.baseDir(root, IndexLayout.Vectors) ==
      "vectors_v2")
    assert(IndexLayout.compactedThrough(root) == 2L &&
      IndexLayout.compactedThrough(root, IndexLayout.Vectors) == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/epochs/epoch=1")), "folded postings epochs cleared")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/vectors_epochs/epoch=1")),
      "folded vectors epochs cleared")
    val all = all12.unionByName(b3)
    val maintained = pairSet(Dedup.embeddingNearDupsAgainstBandedIndex(
      probeBatch, poisoned(31L), idxDir, "vec_id", "embedding",
      threshold = 0.95))
    assert(maintained == direct(idxDir, all, probeBatch),
      "post-compaction probe must equal the direct probe")

    // replay of an applied epoch is a no-op
    StreamingBandedEmbeddingIndex.applyBatch(b3, 2L, idxDir, pairsDir,
      "vec_id", "embedding", 8, 4, 16, 2, 0.95)
    assert(pairSet(Dedup.embeddingNearDupsAgainstBandedIndex(
      probeBatch, poisoned(31L), idxDir, "vec_id", "embedding",
      threshold = 0.95)) == maintained, "replay must be a no-op")

    // crash window: meta promoted, postings partition missing (the
    // replay key) — re-apply repairs BOTH tables
    val b4 = Seq((300L, clusterA(9L))).toDF("vec_id", "embedding")
    StreamingBandedEmbeddingIndex.applyBatch(b4, 3L, idxDir, pairsDir,
      "vec_id", "embedding", 8, 4, 16, 99, 0.95)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$idxDir/epochs/epoch=3"), true)
    StreamingBandedEmbeddingIndex.applyBatch(b4, 3L, idxDir, pairsDir,
      "vec_id", "embedding", 8, 4, 16, 99, 0.95)
    assert(pairSet(Dedup.embeddingNearDupsAgainstBandedIndex(
        probeBatch, poisoned(31L), idxDir, "vec_id", "embedding",
        threshold = 0.95)) ==
      direct(idxDir, all.unionByName(b4), probeBatch),
      "replayed epoch must heal the missing postings partition")

    // param drift fails loudly
    val e = intercept[IllegalArgumentException] {
      StreamingBandedEmbeddingIndex.applyBatch(b4, 4L, idxDir,
        pairsDir, "vec_id", "embedding", 8, 2, 16, 99, 0.95)
    }
    assert(e.getMessage.contains("cannot re-plane or re-band"),
      e.getMessage)
  }

  test("taking over a batch-published layout without the vector " +
      "sidecar fails loudly (r16)") {
    // a layout whose num_planes/band_bits validate but that was
    // published without writeIndexVectors has nothing for the
    // maintainer's verification to read — pre-r16 every epoch
    // silently emitted zero pairs until the first vectors compaction
    // crashed on the missing base dir
    val dir = Files.createTempDirectory("bandemb-nosidecar").toString
    val corpus = (1L to 20L).map(i => (i, clusterA(i)))
      .toDF("vec_id", "embedding")
    Dedup.writeBandedEmbeddingIndex(
      Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
        numPlanes = 8, bandBits = 4), dir, shards = 8)
    val batch = Seq((100L, clusterA(5L))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      StreamingBandedEmbeddingIndex.applyBatch(batch, 1L, dir,
        s"$dir/pairs", "vec_id", "embedding", 8, 4, 8, 99, 0.95)
    }
    assert(e.getMessage.contains("no range-sorted vector sidecar"),
      e.getMessage)
    // publishing the sidecar cures it
    Dedup.writeIndexVectors(corpus, dir, "vec_id", "embedding",
      shards = 8)
    StreamingBandedEmbeddingIndex.applyBatch(batch, 1L, dir,
      s"$dir/pairs", "vec_id", "embedding", 8, 4, 8, 99, 0.95)
    assert(pairSet(spark.read.parquet(s"$dir/pairs/epoch=1")).nonEmpty,
      "with the sidecar published the takeover epoch emits pairs")
  }
}
