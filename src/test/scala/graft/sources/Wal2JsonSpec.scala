package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpecBase
import graft.sink.MergeSink
import graft.streaming.StreamingMerge

/** Wal2Json.decode: wal2json v2 protocol semantics
  * (logical_replication.py:380-497).
  */
class Wal2JsonSpec extends SparkSpecBase {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("amount", DoubleType)))

  private val fixture = Seq(
    (1L, """{"action":"B"}"""),
    (2L, """{"action":"I","schema":"public","table":"t","columns":[{"name":"id","type":"bigint","value":1},{"name":"name","type":"text","value":"say \"hi\"\nok"},{"name":"amount","type":"double precision","value":1.5}]}"""),
    (3L, """{"action":"I","schema":"public","table":"t","columns":[{"name":"id","type":"bigint","value":2},{"name":"name","type":"text","value":null},{"name":"amount","type":"double precision","value":2.5}]}"""),
    (4L, """{"action":"C"}"""),
    (5L, """{"action":"B"}"""),
    // update carries an extra column the declared schema doesn't know yet
    (6L, """{"action":"U","schema":"public","table":"t","columns":[{"name":"id","type":"bigint","value":1},{"name":"name","type":"text","value":"renamed"},{"name":"amount","type":"double precision","value":9.25},{"name":"new_col","type":"integer","value":7}]}"""),
    // delete: identity only (replica-identity key values)
    (7L, """{"action":"D","schema":"public","table":"t","identity":[{"name":"id","type":"bigint","value":2}]}"""),
    // non-selected table + non-row actions: skipped, but advance the LSN
    (8L, """{"action":"I","schema":"public","table":"other","columns":[{"name":"id","type":"bigint","value":99}]}"""),
    (9L, """{"action":"M","prefix":"wal2json","content":"ignored"}"""),
    (10L, """{"action":"T","schema":"public","table":"t"}"""),
    (11L, """{"action":"C"}""")).toDF("lsn", "payload")

  test("decode: I/U/D typed rows; B/C/M/T and other tables skipped") {
    val out = Wal2Json.decode(fixture, "payload", "lsn", "public", "t",
      rowSchema).orderBy("_sdc_lsn")
      .as[(Option[Long], Option[String], Option[Double], String, Long)]
      .collect()
    assert(out.length == 4)
    assert(out(0) == ((Some(1L), Some("say \"hi\"\nok"), Some(1.5), "c", 2L)))
    assert(out(1) == ((Some(2L), None, Some(2.5), "c", 3L)))
    assert(out(2) == ((Some(1L), Some("renamed"), Some(9.25), "u", 6L)))
    // delete decodes identity columns; non-identity columns are null
    assert(out(3) == ((Some(2L), None, None, "d", 7L)))
  }

  test("decode: single-parse header selection keeps its edge semantics " +
      "(r20 struct-IN rewrite)") {
    // lines engineered to PASS the raw string prefilter (they contain
    // the action/table literals) but that the parsed-header selection
    // must still drop: a selected table name under a DIFFERENT schema,
    // and a malformed line (header parses to nulls). The struct-IN
    // compares the whole parsed header, so null/mismatched fields fail
    // the membership exactly as they failed the old per-field conjuncts.
    val tricky = Seq(
      (20L, """{"action":"I","schema":"audit","table":"t","columns":[{"name":"id","type":"bigint","value":7}]}"""),
      (21L, """not json but mentions "action":"I" and "table":"t" anyway"""),
      (22L, """{"action":"I","schema":"public","table":"t","columns":[{"name":"id","type":"bigint","value":8}]}"""))
      .toDF("lsn", "payload")
    val out = Wal2Json.decode(tricky, "payload", "lsn", "public", "t",
      rowSchema).select("id", "_sdc_lsn")
      .as[(Option[Long], Long)].collect()
    assert(out.toSeq == Seq((Some(8L), 22L)))
  }

  test("detectNewColumns diffs payload vs declared schema") {
    val fresh = Wal2Json.detectNewColumns(fixture, "payload", "public", "t",
      rowSchema).as[String].collect().toSet
    assert(fresh == Set("new_col"))
  }

  test("nextLsn advances over skipped messages too") {
    // the last message is a commit for a busy non-selected stream: the
    // slot bookmark must still advance past it
    assert(Wal2Json.nextLsn(fixture, "lsn").contains(11L))
  }

  test("decode -> envelope -> merge replays to the expected final table") {
    val decoded = Wal2Json.decode(fixture, "payload", "lsn", "public", "t",
      rowSchema)
    val batch = StreamingMerge.applyEnvelope(decoded)
    val dir = java.nio.file.Files.createTempDirectory("wal2json").toString
    MergeSink.flush(spark, batch, s"$dir/t", Seq("id"),
      "_sdc_lsn", hardDelete = true)
    val merged = spark.read.parquet(s"$dir/t")
    val rows = merged.select("id", "name", "amount")
      .as[(Option[Long], Option[String], Option[Double])].collect().toSeq
    // id=2 inserted then deleted; id=1 inserted then updated
    assert(rows == Seq((Some(1L), Some("renamed"), Some(9.25))))
  }
}
