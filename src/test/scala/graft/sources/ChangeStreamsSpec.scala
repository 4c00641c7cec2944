package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpecBase
import graft.sink.MergeSink
import graft.streaming.StreamingMerge

/** ChangeStreams: landed Mongo change-stream decode + update-refetch
  * (change_streams.py:73-230).
  */
class ChangeStreamsSpec extends SparkSpecBase {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("_id", LongType),
    StructField("v", StringType)))

  private val fixture = Seq(
    """{"_id":{"_data":"82A1"},"operationType":"insert","clusterTime":"2024-01-01T00:00:01Z","ns":{"db":"d","coll":"c"},"documentKey":{"_id":1},"fullDocument":{"_id":1,"v":"a"}}""",
    """{"_id":{"_data":"82A2"},"operationType":"insert","clusterTime":"2024-01-01T00:00:02Z","ns":{"db":"d","coll":"c"},"documentKey":{"_id":2},"fullDocument":{"_id":2,"v":"b"}}""",
    // update: only the documentKey id is known at event time
    """{"_id":{"_data":"82A3"},"operationType":"update","clusterTime":"2024-01-01T00:00:03Z","ns":{"db":"d","coll":"c"},"documentKey":{"_id":1}}""",
    // a later delete of a buffered update wins (id=2: update then delete)
    """{"_id":{"_data":"82A4"},"operationType":"update","clusterTime":"2024-01-01T00:00:04Z","ns":{"db":"d","coll":"c"},"documentKey":{"_id":2}}""",
    """{"_id":{"_data":"82A5"},"operationType":"delete","clusterTime":"2024-01-01T00:00:05Z","ns":{"db":"d","coll":"c"},"documentKey":{"_id":2}}""",
    // other collection + rename op: skipped, token still advances
    """{"_id":{"_data":"82A6"},"operationType":"insert","clusterTime":"2024-01-01T00:00:06Z","ns":{"db":"d","coll":"other"},"documentKey":{"_id":9},"fullDocument":{"_id":9}}""",
    """{"_id":{"_data":"82A7"},"operationType":"rename","clusterTime":"2024-01-01T00:00:07Z","ns":{"db":"d","coll":"c"}}"""
  ).toDF("payload")

  test("insert carries the document; update carries only the id") {
    val out = ChangeStreams.decode(fixture, "payload", "d", "c", rowSchema)
      .orderBy("_cs_token")
      .select("_id", "v", "op")
      .as[(Long, Option[String], String)].collect().toSeq
    assert(out == Seq(
      (1L, Some("a"), "c"), (2L, Some("b"), "c"),
      (1L, None, "u"), (2L, None, "u"), (2L, None, "d")))
  }

  test("update-buffer refetch + last-write-wins merge converges") {
    val decoded = ChangeStreams.decode(fixture, "payload", "d", "c",
      rowSchema)
    // "the collection" at flush time: id=1 was updated to a2 upstream
    val source = Seq((1L, "a2"), (2L, "b")).toDF("_id", "v")
    val refetched = StreamingMerge.refetchUpdates(decoded, source, "_id")
    val dir = java.nio.file.Files.createTempDirectory("cs").toString
    MergeSink.flush(spark,
      StreamingMerge.applyEnvelope(refetched), s"$dir/t", Seq("_id"),
      "_cs_token", hardDelete = true)
    val merged = spark.read.parquet(s"$dir/t")
    val rows = merged.select("_id", "v")
      .as[(Option[Long], Option[String])].collect().toSet
    // id=1 refetched as a2; id=2's buffered update is beaten by the later
    // delete (the reference discards the buffered id)
    assert(rows == Set((Some(1L), Some("a2"))))
  }

  test("resume token advances over skipped events") {
    assert(ChangeStreams.nextResumeToken(fixture, "payload")
      .contains("82A7"))
  }

  test("resume token max orders by (length, value), not lexicographically") {
    // KeyString-encoded tokens are hex strings of VARYING length (they
    // grow with the clusterTime/documentKey payload), and a longer token
    // is the later one. Plain lexicographic max would pick "FF" here and
    // bookmark a stale position.
    val toks = Seq(
      """{"_id":{"_data":"FF"},"operationType":"insert","clusterTime":"2024-01-01T00:00:01Z","ns":{"db":"d","coll":"c"},"documentKey":{"_id":1},"fullDocument":{"_id":1,"v":"a"}}""",
      """{"_id":{"_data":"0100"},"operationType":"insert","clusterTime":"2024-01-01T00:00:02Z","ns":{"db":"d","coll":"c"},"documentKey":{"_id":2},"fullDocument":{"_id":2,"v":"b"}}"""
    ).toDF("payload")
    assert(ChangeStreams.nextResumeToken(toks, "payload").contains("0100"))
  }
}
