package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpecBase
import graft.sink.MergeSink

/** BinlogRows: landed MySQL row-event decode semantics
  * (binlog.py:496-560).
  */
class BinlogRowsSpec extends SparkSpecBase {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  private val fixture = Seq(
    // multi-row write event (one INSERT ... VALUES (...),(...))
    """{"event_type":"write_rows","schema":"db","table":"t","timestamp":"2024-01-01T00:00:01Z","log_file":"mysql-bin.000001","log_pos":100,"rows":[{"values":{"id":1,"v":"a"}},{"values":{"id":2,"v":"b"}}]}""",
    // update carries before+after; after wins
    """{"event_type":"update_rows","schema":"db","table":"t","timestamp":"2024-01-01T00:00:02Z","log_file":"mysql-bin.000001","log_pos":200,"rows":[{"before_values":{"id":1,"v":"a"},"after_values":{"id":1,"v":"a2"}}]}""",
    // delete tombstones from values + event timestamp
    """{"event_type":"delete_rows","schema":"db","table":"t","timestamp":"2024-01-01T00:00:03Z","log_file":"mysql-bin.000001","log_pos":300,"rows":[{"values":{"id":2,"v":"b"}}]}""",
    // rotated file: later despite smaller pos; carries a new column and a
    // dropped-column marker
    """{"event_type":"write_rows","schema":"db","table":"t","timestamp":"2024-01-01T00:00:04Z","log_file":"mysql-bin.000002","log_pos":4,"rows":[{"values":{"id":3,"v":"c","extra":"x","__dropped_col_1__":null}}]}""",
    // non-selected table + non-row event: skipped, still advance position
    """{"event_type":"write_rows","schema":"db","table":"other","log_file":"mysql-bin.000002","log_pos":50,"rows":[{"values":{"id":9}}]}""",
    """{"event_type":"rotate","schema":null,"table":null,"log_file":"mysql-bin.000002","log_pos":90,"rows":[]}"""
  ).toDF("payload")

  test("write/update/delete decode with per-event row ordering") {
    val out = BinlogRows.decode(fixture, "payload", "db", "t", rowSchema)
      .orderBy("_binlog_seq")
      .select("id", "v", "op", "_binlog_seq.row_idx")
      .as[(Long, String, String, Int)].collect().toSeq
    assert(out == Seq(
      (1L, "a", "c", 0), (2L, "b", "c", 1),
      (1L, "a2", "u", 0), (2L, "b", "d", 0), (3L, "c", "c", 0)))
  }

  test("delete rows carry the event timestamp as _sdc_deleted_at") {
    val dels = BinlogRows.decode(fixture, "payload", "db", "t", rowSchema)
      .filter(col("op") === "d")
    assert(dels.count() == 1)
    assert(!dels.select("_sdc_deleted_at").head().isNullAt(0))
    val nonDels = BinlogRows.decode(fixture, "payload", "db", "t", rowSchema)
      .filter(col("op") =!= "d" && col("_sdc_deleted_at").isNotNull)
    assert(nonDels.count() == 0)
  }

  test("schema diff sees new columns, ignores __dropped_col_N__") {
    val fresh = BinlogRows.detectNewColumns(fixture, "payload", "db", "t",
      rowSchema).as[String].collect().toSet
    assert(fresh == Set("extra"))
  }

  test("file+pos bookmark advances across rotation and skipped events") {
    assert(BinlogRows.nextPosition(fixture, "payload")
      .contains(("mysql-bin.000002", 90L)))
  }

  test("decoded stream merges to the expected final table") {
    val decoded = BinlogRows.decode(fixture, "payload", "db", "t", rowSchema)
    val dir = java.nio.file.Files.createTempDirectory("binlog").toString
    MergeSink.flush(spark, decoded, s"$dir/t", Seq("id"),
      "_binlog_seq", hardDelete = true)
    val merged = spark.read.parquet(s"$dir/t")
    val rows = merged.select("id", "v")
      .as[(Option[Long], Option[String])].collect().toSet
    // id=1 updated, id=2 deleted, id=3 inserted post-rotation
    assert(rows == Set((Some(1L), Some("a2")), (Some(3L), Some("c"))))
  }
}
