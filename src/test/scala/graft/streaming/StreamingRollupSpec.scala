package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sink.{CrashPoints, DirCommit}

/** StreamingRollup: continuously maintained sum/count rollup with the
  * applied-batch marker committed atomically with the table.
  */
class StreamingRollupSpec extends CrashPoints {
  import spark.implicits._

  private val schema = "k STRING, v DOUBLE, op STRING"

  private def readRollup(path: String) =
    spark.read.parquet(path)
      .select("k", "n_rows", "sum_val").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDecimal(2).doubleValue()))).toMap

  test("rollup stays current across checkpointed restarts; replay skips") {
    val dir = Files.createTempDirectory("srollup").toString
    val srcDir = s"$dir/in"
    val table = s"$dir/rollup"
    val ckpt = s"$dir/ckpt"
    new java.io.File(srcDir).mkdirs()

    Seq(("a", 1.0, "I"), ("a", 2.0, "I"), ("b", 5.0, "I"))
      .toDF("k", "v", "op")
      .coalesce(1).write.parquet(s"$srcDir/f1")
    val q1 = StreamingRollup.start(spark, s"$srcDir/*", // glob over files
      org.apache.spark.sql.types.StructType.fromDDL(schema),
      table, ckpt, Seq("k"), "v")
    q1.processAllAvailable(); q1.stop()
    assert(readRollup(table) == Map("a" -> ((2L, 3.0)), "b" -> ((1L, 5.0))))
    assert(DirCommit.lastApplied(table).contains(0L))

    // second epoch: an update to a (D old + I new) and b fully deleted
    Seq(("a", 2.0, "D"), ("a", 6.0, "I"), ("b", 5.0, "D"))
      .toDF("k", "v", "op")
      .coalesce(1).write.parquet(s"$srcDir/f2")
    val q2 = StreamingRollup.start(spark, s"$srcDir/*",
      org.apache.spark.sql.types.StructType.fromDDL(schema),
      table, ckpt, Seq("k"), "v")
    q2.processAllAvailable(); q2.stop()
    // a: rows 2-1+1=2, sum 3-2+6=7; b vanished
    assert(readRollup(table) == Map("a" -> ((2L, 7.0))))
    assert(DirCommit.lastApplied(table).contains(1L))

    // at-least-once replay of an ALREADY-APPLIED epoch is a no-op: the
    // marker committed with the table wins over the re-delivered batch
    val replay = Seq(("a", 6.0, "I")).toDF("k", "v", "op")
    StreamingRollup.applyBatch(replay, batchId = 1L, table,
      Seq("k"), "v", "op")
    assert(readRollup(table) == Map("a" -> ((2L, 7.0))),
      "replayed epoch must not double-apply")
    // a genuinely NEW epoch does apply
    StreamingRollup.applyBatch(replay, batchId = 2L, table,
      Seq("k"), "v", "op")
    assert(readRollup(table) == Map("a" -> ((3L, 13.0))))

    // crash INSIDE the swap's rename window: the table sits retired at
    // .old with nothing promoted. The next epoch must resume the swap
    // (recovering history + marker), not bootstrap from empty
    val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(table),
      new org.apache.hadoop.fs.Path(table + ".old"))
    StreamingRollup.applyBatch(replay, batchId = 2L, table,
      Seq("k"), "v", "op")
    assert(readRollup(table) == Map("a" -> ((3L, 13.0))),
      "recovered swap must preserve history and skip the applied epoch")
    StreamingRollup.applyBatch(replay, batchId = 3L, table,
      Seq("k"), "v", "op")
    assert(readRollup(table) == Map("a" -> ((4L, 19.0))))
  }

  test("unknown op tags fail loudly instead of silently vanishing") {
    val dir = Files.createTempDirectory("srollup-op").toString
    val table = s"$dir/rollup"
    val bad = Seq(("a", 1.0, "U")).toDF("k", "v", "op")
    val ex = intercept[Exception] {
      StreamingRollup.applyBatch(bad, batchId = 0L, table,
        Seq("k"), "v", "op")
    }
    assert(ex.getMessage.contains("unknown op tag") ||
      Option(ex.getCause).exists(
        _.getMessage.contains("unknown op tag")), ex.toString)
  }

  test("any crash in an epoch's commit, then a replay, gives the " +
    "no-crash rollup and marker") {
    val e0 = Seq(("a", 1.0, "I"), ("b", 5.0, "I")).toDF("k", "v", "op")
    val e1 = Seq(("a", 1.0, "D"), ("a", 4.0, "I"), ("c", 2.0, "I"))
      .toDF("k", "v", "op")
    val n = everyCrashPoint(
      d => StreamingRollup.applyBatch(e0, 0L, s"$d/r", Seq("k"), "v", "op"),
      d => StreamingRollup.applyBatch(e1, 1L, s"$d/r", Seq("k"), "v", "op"),
      d => spark.read.parquet(s"$d/r"),
      d => DirCommit.lastApplied(s"$d/r"))
    assert(n >= 4, s"only $n crash points")
  }
}
