package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.operators.Dedup
import graft.sink.{DirCommit, IndexLayout}

/** StreamingBandedSignatureIndex: the maintained banded layout answers
  * every probe exactly like a from-scratch batch publish over the same
  * documents (append ≡ rebuild), per-epoch pair output equals the
  * batch probe against the pre-batch corpus, compaction folds the
  * epoch tail without changing answers, and every crash window repairs
  * idempotently.
  */
// driver-excluded slow suite (r21): run with SPARK_GRAFT_SLOW_TESTS=1
@graft.tags.Slow
class StreamingBandedSignatureIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private val phrase = "alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val schema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")

  private def sigsOf(docs: DataFrame) =
    Dedup.minhashSignatures(docs, "doc_id", "text")

  private def pairSet(df: DataFrame) =
    df.select(col("new_id"), col("corpus_id"), col("sig_agreement"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  test("banded maintainer: append == rebuild, pairs = batch probe, " +
      "compaction preserves answers") {
    val dir = Files.createTempDirectory("bandidx-stream").toString
    val (srcDir, idxDir, pairsDir, ckpt) =
      (s"$dir/in", s"$dir/idx", s"$dir/pairs", s"$dir/ckpt")
    new java.io.File(srcDir).mkdirs()

    val b1 = (1L to 20L).map(i => (i, s"$phrase corpus tail $i"))
    val b2 = Seq((100L, s"$phrase corpus tail 7"),
      (101L, "novel unrelated content with nothing shared at all here"))
    val b3 = Seq((200L, s"$phrase corpus tail 7"),
      (201L, s"$phrase corpus tail 3"))
    val probeBatch = Seq((900L, s"$phrase corpus tail 3"))
      .toDF("doc_id", "text")

    // epoch 0: bootstrap — the batch IS the base layout
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f1")
    val q1 = StreamingBandedSignatureIndex.start(spark, s"$srcDir/*",
      schema, idxDir, pairsDir, ckpt, "doc_id", "text",
      compactEvery = 2)
    q1.processAllAvailable(); q1.stop()
    assert(graft.sink.IndexLayout.lastApplied(spark, idxDir)
      .contains(0L))
    assert(pairSet(Dedup.minhashNearDupsAgainstBandedIndex(probeBatch,
        idxDir, "doc_id", "text")) ==
      pairSet(Dedup.minhashNearDupsAgainst(probeBatch,
        sigsOf(b1.toDF("doc_id", "text")), "doc_id", "text")),
      "bootstrap layout must serve the probe")

    // epoch 1 across a restart: pairs must equal the batch probe
    // against epoch 0's corpus; the append lands as an epoch partition
    b2.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f2")
    val q2 = StreamingBandedSignatureIndex.start(spark, s"$srcDir/*",
      schema, idxDir, pairsDir, ckpt, "doc_id", "text",
      compactEvery = 2)
    q2.processAllAvailable(); q2.stop()
    val expect1 = pairSet(Dedup.minhashNearDupsAgainst(
      b2.toDF("doc_id", "text"), sigsOf(b1.toDF("doc_id", "text")),
      "doc_id", "text"))
    assert(expect1.nonEmpty, "fixture sanity: the echo must collide")
    assert(pairSet(spark.read.parquet(s"$pairsDir/epoch=1")) == expect1)
    val fs = DirCommit.fs(spark, idxDir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$idxDir/epochs/epoch=1")),
      "epoch 1 must ride as an append partition (tail below " +
        "compactEvery)")
    // append == rebuild, served mid-tail: maintained probe equals both
    // the direct probe and a from-scratch banded publish over the
    // union corpus
    val all12 = (b1 ++ b2).toDF("doc_id", "text")
    val rebuilt12 = Files.createTempDirectory("bandidx-rb12").toString
    Dedup.writeBandedSignatureIndex(sigsOf(all12), "doc_id", rebuilt12,
      shards = 16)
    val maintained12 = pairSet(Dedup.minhashNearDupsAgainstBandedIndex(
      probeBatch, idxDir, "doc_id", "text"))
    assert(maintained12 == pairSet(Dedup.minhashNearDupsAgainstBandedIndex(
        probeBatch, rebuilt12, "doc_id", "text")),
      "maintained layout must equal the batch rebuild")
    assert(maintained12 == pairSet(Dedup.minhashNearDupsAgainst(
        probeBatch, sigsOf(all12), "doc_id", "text")),
      "maintained layout must equal the direct probe")

    // epoch 2: the tail reaches compactEvery — compaction must fold it
    // into a fresh base, re-point the meta, and change no answer
    b3.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f3")
    val q3 = StreamingBandedSignatureIndex.start(spark, s"$srcDir/*",
      schema, idxDir, pairsDir, ckpt, "doc_id", "text",
      compactEvery = 2)
    q3.processAllAvailable(); q3.stop()
    val root3 = IndexLayout.readMeta(spark, idxDir)
    assert(IndexLayout.postingsDir(root3) == "postings_v2",
      "compaction must re-point the base")
    assert(IndexLayout.compactedThrough(root3) == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$idxDir/epochs/epoch=1")),
      "folded epoch partitions must be cleared")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$idxDir/postings_v0")),
      "the superseded base must be cleared")
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    val maintained = pairSet(Dedup.minhashNearDupsAgainstBandedIndex(
      probeBatch, idxDir, "doc_id", "text"))
    assert(maintained == pairSet(Dedup.minhashNearDupsAgainst(
        probeBatch, sigsOf(all), "doc_id", "text")),
      "post-compaction probe must equal the direct probe")
    assert(pairSet(spark.read.parquet(s"$pairsDir/epoch=2")) ==
      pairSet(Dedup.minhashNearDupsAgainst(b3.toDF("doc_id", "text"),
        sigsOf(all12), "doc_id", "text")),
      "epoch 2 pairs must probe the PRE-batch corpus")

    // at-least-once replay of an applied epoch is a no-op
    StreamingBandedSignatureIndex.applyBatch(b3.toDF("doc_id", "text"),
      2L, idxDir, pairsDir, "doc_id", "text", 3, 12, 3, 64, 2, 0.5)
    assert(pairSet(Dedup.minhashNearDupsAgainstBandedIndex(probeBatch,
      idxDir, "doc_id", "text")) == maintained, "replay must be a no-op")

    // crash window 1: meta promoted (last_epoch=3), partition rename
    // never happened — replay must repair
    val b4 = Seq((300L, s"$phrase corpus tail 5")).toDF("doc_id", "text")
    StreamingBandedSignatureIndex.applyBatch(b4, 3L, idxDir, pairsDir,
      "doc_id", "text", 3, 12, 3, 64, 99, 0.5)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$idxDir/epochs/epoch=3"), true)
    StreamingBandedSignatureIndex.applyBatch(b4, 3L, idxDir, pairsDir,
      "doc_id", "text", 3, 12, 3, 64, 99, 0.5)
    val allWith4 = (b1 ++ b2 ++ b3 ++ Seq((300L,
      s"$phrase corpus tail 5"))).toDF("doc_id", "text")
    assert(pairSet(Dedup.minhashNearDupsAgainstBandedIndex(probeBatch,
        idxDir, "doc_id", "text")) ==
      pairSet(Dedup.minhashNearDupsAgainst(probeBatch, sigsOf(allWith4),
        "doc_id", "text")),
      "replayed epoch must heal the missing partition")

    // crash window 2: orphan compaction dir (written, meta never
    // promoted) — the next epoch's entry heal clears it
    val orphan = new org.apache.hadoop.fs.Path(s"$idxDir/postings_v99")
    fs.mkdirs(orphan)
    val b5 = Seq((400L, s"$phrase corpus tail 9")).toDF("doc_id", "text")
    StreamingBandedSignatureIndex.applyBatch(b5, 4L, idxDir, pairsDir,
      "doc_id", "text", 3, 12, 3, 64, 99, 0.5)
    assert(!fs.exists(orphan), "orphan base dirs must be healed")

    // param drift: a restarted stream with different banding must fail
    val e = intercept[IllegalArgumentException] {
      StreamingBandedSignatureIndex.applyBatch(b5, 5L, idxDir, pairsDir,
        "doc_id", "text", 3, 12, 4, 64, 99, 0.5)
    }
    assert(e.getMessage.contains("cannot re-shingle or re-band"),
      e.getMessage)
  }
}
