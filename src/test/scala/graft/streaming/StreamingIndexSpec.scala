package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.operators.TextSearch

/** StreamingIndex: continuously maintained inverted index with the
  * applied-batch marker committed atomically with the table.
  */
// driver-excluded slow suite (r21): run with SPARK_GRAFT_SLOW_TESTS=1
@graft.tags.Slow
class StreamingIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private val schema = "doc_id BIGINT, text STRING"
  private val Cap = 3

  private def readIdx(path: String) =
    spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  private def rebuilt(docs: org.apache.spark.sql.DataFrame) =
    TextSearch.invertedIndex(docs, "doc_id", "text", Cap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  test("index equals a full rebuild after every epoch; replay skips") {
    val dir = Files.createTempDirectory("sindex").toString
    val srcDir = s"$dir/in"
    val table = s"$dir/idx"
    val ckpt = s"$dir/ckpt"
    new java.io.File(srcDir).mkdirs()

    val b1 = Seq((1L, "t alpha"), (2L, "t beta"), (3L, "t"), (4L, "t"))
    val b2 = Seq((0L, "t gamma"), (7L, "t alpha"))
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f1")
    val q1 = StreamingIndex.start(spark, s"$srcDir/*",
      org.apache.spark.sql.types.StructType.fromDDL(schema),
      table, ckpt, "doc_id", "text", Cap)
    q1.processAllAvailable(); q1.stop()
    assert(readIdx(table) == rebuilt(b1.toDF("doc_id", "text")))
    assert(graft.sink.DirCommit.lastApplied(table).contains(0L))

    // epoch 2 across a restart: capped term "t" must re-admit doc 0
    b2.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f2")
    val q2 = StreamingIndex.start(spark, s"$srcDir/*",
      org.apache.spark.sql.types.StructType.fromDDL(schema),
      table, ckpt, "doc_id", "text", Cap)
    q2.processAllAvailable(); q2.stop()
    val all = (b1 ++ b2).toDF("doc_id", "text")
    assert(readIdx(table) == rebuilt(all))
    assert(readIdx(table).contains(("t", 6L, 0L, 0L)))
    assert(graft.sink.DirCommit.lastApplied(table).contains(1L))

    // at-least-once replay of an applied epoch must not double df
    StreamingIndex.applyBatch(b2.toDF("doc_id", "text"), batchId = 1L,
      table, "doc_id", "text", Cap)
    assert(readIdx(table) == rebuilt(all), "replay must be a no-op")

    // crash inside the swap window: table retired to .old, nothing
    // promoted — next epoch resumes the swap instead of bootstrapping
    val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(table),
      new org.apache.hadoop.fs.Path(table + ".old"))
    StreamingIndex.applyBatch(b2.toDF("doc_id", "text"), batchId = 1L,
      table, "doc_id", "text", Cap)
    assert(readIdx(table) == rebuilt(all),
      "recovered swap must preserve the index and skip the applied epoch")
    // a genuinely new epoch applies on the recovered table
    StreamingIndex.applyBatch(Seq((9L, "omega t")).toDF("doc_id", "text"),
      batchId = 2L, table, "doc_id", "text", Cap)
    val all3 = (b1 ++ b2 ++ Seq((9L, "omega t"))).toDF("doc_id", "text")
    assert(readIdx(table) == rebuilt(all3))

    // maintained BM25 stats equal the from-scratch corpus totals after
    // every append/replay/crash (r16): totals add exactly, the replay
    // skip keeps them un-doubled, the swap keeps them atomic
    val fromScratch = TextSearch.bm25CorpusStats(all3, "doc_id", "text")
      .head()
    val maintained = StreamingIndex.readBm25Stats(spark, table).head()
    assert(maintained.getLong(0) == fromScratch.getLong(0) &&
      maintained.getLong(1) == fromScratch.getLong(1),
      s"maintained stats $maintained must equal rebuild $fromScratch")

    // and the served BM25 equals the from-scratch operator when the
    // query terms' dfs fit the cap
    val served = TextSearch.searchTopKBm25FromIndex(
        spark.read.parquet(table),
        StreamingIndex.readBm25Stats(spark, table),
        all3, "doc_id", "text", Seq("omega"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = TextSearch.searchTopKBm25(all3, "doc_id", "text",
        Seq("omega"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served.nonEmpty && served == direct,
      s"index-served BM25 must equal from-scratch: $served vs $direct")
  }

  test("pre-sidecar tables never gain partial BM25 stats; backfill " +
      "seeds the true totals and maintenance resumes (r16)") {
    val dir = Files.createTempDirectory("sindex-up").toString
    val table = s"$dir/idx"
    val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val b1 = Seq((1L, "t alpha beta"), (2L, "t gamma"))
    val b2 = Seq((3L, "t delta"))
    val b3 = Seq((4L, "t epsilon zeta"))
    // simulate a pre-r16 table: apply an epoch, then strip the sidecar
    StreamingIndex.applyBatch(b1.toDF("doc_id", "text"), 0L, table,
      "doc_id", "text", Cap)
    fs.delete(new org.apache.hadoop.fs.Path(table, "_bm25_stats.json"),
      false)
    // a later epoch must NOT seed a partial sidecar (it would count
    // only post-upgrade batches and readBm25Stats would serve wrong
    // totals with no signal)
    StreamingIndex.applyBatch(b2.toDF("doc_id", "text"), 1L, table,
      "doc_id", "text", Cap)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(table, "_bm25_stats.json")),
      "upgrade epoch must not write a partial stats sidecar")
    val e = intercept[IllegalStateException](
      StreamingIndex.readBm25Stats(spark, table))
    assert(e.getMessage.contains("backfillBm25Stats"), e.getMessage)
    // backfill from the true indexed corpus, then maintenance resumes
    StreamingIndex.backfillBm25Stats(spark, table,
      (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
    StreamingIndex.applyBatch(b3.toDF("doc_id", "text"), 2L, table,
      "doc_id", "text", Cap)
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    val fromScratch = TextSearch.bm25CorpusStats(all, "doc_id", "text")
      .head()
    val maintained = StreamingIndex.readBm25Stats(spark, table).head()
    assert(maintained.getLong(0) == fromScratch.getLong(0) &&
      maintained.getLong(1) == fromScratch.getLong(1),
      s"post-backfill stats $maintained must equal rebuild $fromScratch")
  }
}
