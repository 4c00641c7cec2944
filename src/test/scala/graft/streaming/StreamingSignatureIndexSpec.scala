package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.operators.Dedup

/** StreamingSignatureIndex: the maintained published index equals a
  * from-scratch signature build after every epoch, the OR-maintained
  * Bloom equals the full publish-time build, per-epoch pair output
  * equals the batch probe, and every crash window repairs idempotently.
  */
// driver-excluded slow suite (r21): run with SPARK_GRAFT_SLOW_TESTS=1
@graft.tags.Slow
class StreamingSignatureIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private val phrase = "alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val schema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")

  private def sigsOf(docs: DataFrame) =
    Dedup.minhashSignatures(docs, "doc_id", "text")

  private def sigSet(df: DataFrame) =
    df.select((col("doc_id") +: (0 until 12).map(i => col(s"sig_$i"))): _*)
      .collect().map(_.toSeq).toSet

  private def pairSet(df: DataFrame) =
    df.select(col("new_id"), col("corpus_id"), col("sig_agreement"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  test("maintained index = full rebuild per epoch; pairs = batch probe") {
    val dir = Files.createTempDirectory("sigidx-stream").toString
    val (srcDir, idxDir, pairsDir, ckpt) =
      (s"$dir/in", s"$dir/idx", s"$dir/pairs", s"$dir/ckpt")
    new java.io.File(srcDir).mkdirs()

    val b1 = (1L to 20L).map(i => (i, s"$phrase corpus tail $i"))
    val b2 = Seq((100L, s"$phrase corpus tail 7"),
      (101L, "novel unrelated content with nothing shared at all here"))
    val b3 = Seq((200L, s"$phrase corpus tail 7"),
      (201L, s"$phrase corpus tail 3"))

    // epoch 0 (bootstrap: nothing to probe)
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f1")
    val q1 = StreamingSignatureIndex.start(spark, s"$srcDir/*", schema,
      idxDir, pairsDir, ckpt, "doc_id", "text")
    q1.processAllAvailable(); q1.stop()
    val idx1 = Dedup.readSignatureIndex(spark, idxDir)
    assert(sigSet(idx1.sigs) == sigSet(sigsOf(b1.toDF("doc_id", "text"))))
    assert(graft.sink.IndexLayout.lastApplied(spark, idxDir)
      .contains(0L))
    assert(idx1.bloomBits.sameElements(
      Dedup.buildMinhashBandBloom(sigsOf(b1.toDF("doc_id", "text")))),
      "OR-maintained Bloom must equal the publish-time build")

    // epoch 1 across a restart: pairs must equal the batch probe
    // against epoch 0's signatures
    b2.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f2")
    val q2 = StreamingSignatureIndex.start(spark, s"$srcDir/*", schema,
      idxDir, pairsDir, ckpt, "doc_id", "text")
    q2.processAllAvailable(); q2.stop()
    val expectPairs = pairSet(Dedup.minhashNearDupsAgainst(
      b2.toDF("doc_id", "text"), sigsOf(b1.toDF("doc_id", "text")),
      "doc_id", "text"))
    assert(expectPairs.nonEmpty, "fixture sanity: the echo must collide")
    assert(pairSet(spark.read.parquet(s"$pairsDir/epoch=1")) ==
      expectPairs)
    val all12 = (b1 ++ b2).toDF("doc_id", "text")
    val idx2 = Dedup.readSignatureIndex(spark, idxDir)
    assert(sigSet(idx2.sigs) == sigSet(sigsOf(all12)))
    assert(idx2.bloomBits.sameElements(
      Dedup.buildMinhashBandBloom(sigsOf(all12))))

    // epoch 2, then: an index probe through the PUBLISHED layout must
    // equal the direct probe against a from-scratch signature table
    b3.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f3")
    val q3 = StreamingSignatureIndex.start(spark, s"$srcDir/*", schema,
      idxDir, pairsDir, ckpt, "doc_id", "text")
    q3.processAllAvailable(); q3.stop()
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    val idx3 = Dedup.readSignatureIndex(spark, idxDir)
    assert(sigSet(idx3.sigs) == sigSet(sigsOf(all)))
    val probeBatch = Seq((900L, s"$phrase corpus tail 3"))
      .toDF("doc_id", "text")
    assert(pairSet(Dedup.minhashNearDupsAgainstIndex(probeBatch, idx3,
        "doc_id", "text")) ==
      pairSet(Dedup.minhashNearDupsAgainst(probeBatch, sigsOf(all),
        "doc_id", "text")),
      "published-layout probe must equal the direct probe")

    // at-least-once replay of an applied epoch is a no-op
    StreamingSignatureIndex.applyBatch(b3.toDF("doc_id", "text"), 2L,
      idxDir, pairsDir, "doc_id", "text", 3, 12, 3, 0.5,
      Int.MaxValue, 5, 1 << 16)
    assert(sigSet(Dedup.readSignatureIndex(spark, idxDir).sigs) ==
      sigSet(sigsOf(all)), "replay must be a no-op")

    // crash window 1: meta promoted, partition rename never happened —
    // replay must repair (probe is partition-filtered, OR idempotent)
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$idxDir/signatures/epoch=2"), true)
    StreamingSignatureIndex.applyBatch(b3.toDF("doc_id", "text"), 2L,
      idxDir, pairsDir, "doc_id", "text", 3, 12, 3, 0.5,
      Int.MaxValue, 5, 1 << 16)
    val healed = Dedup.readSignatureIndex(spark, idxDir)
    assert(sigSet(healed.sigs) == sigSet(sigsOf(all)))
    assert(healed.bloomBits.sameElements(
      Dedup.buildMinhashBandBloom(sigsOf(all))),
      "re-OR of a replayed epoch must not change the Bloom")

    // crash window 2: meta stuck at .next (delete/rename window) —
    // the next apply recovers it before reading
    fs.rename(new org.apache.hadoop.fs.Path(idxDir, "_index_meta.json"),
      new org.apache.hadoop.fs.Path(idxDir, "_index_meta.json.next"))
    StreamingSignatureIndex.applyBatch(b3.toDF("doc_id", "text"), 2L,
      idxDir, pairsDir, "doc_id", "text", 3, 12, 3, 0.5,
      Int.MaxValue, 5, 1 << 16)
    assert(graft.sink.IndexLayout.lastApplied(spark, idxDir)
      .contains(2L), "meta must be recovered from the .next window")
  }

  test("reader survives the meta-promotion window; param drift fails") {
    val dir = Files.createTempDirectory("sigidx-guard").toString
    val (idxDir, pairsDir) = (s"$dir/idx", s"$dir/pairs")
    val b1 = (1L to 10L).map(i => (i, s"$phrase corpus tail $i"))
    StreamingSignatureIndex.applyBatch(b1.toDF("doc_id", "text"), 0L,
      idxDir, pairsDir, "doc_id", "text", 3, 12, 3, 0.5,
      Int.MaxValue, 5, 1 << 16)
    val before = sigSet(Dedup.readSignatureIndex(spark, idxDir).sigs)
    // the promotion window (primary deleted, .next not yet renamed):
    // the scaladoc promises readers work "at any time", so a reader
    // here must fall back to the .next staging file instead of failing
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(idxDir, "_index_meta.json"),
      new org.apache.hadoop.fs.Path(idxDir, "_index_meta.json.next"))
    assert(sigSet(Dedup.readSignatureIndex(spark, idxDir).sigs) == before,
      "reader inside the promotion window must see the .next sidecar")
    // a stream restarted with different layout knobs must fail loudly
    // (applyBatch first recovers the .next window, then validates) —
    // not silently extend the index with the old layout
    val e = intercept[IllegalArgumentException] {
      StreamingSignatureIndex.applyBatch(b1.toDF("doc_id", "text"), 1L,
        idxDir, pairsDir, "doc_id", "text", 3, 12, 4, 0.5,
        Int.MaxValue, 5, 1 << 16)
    }
    assert(e.getMessage.contains("cannot re-shingle or re-band"),
      e.getMessage)
  }
}
