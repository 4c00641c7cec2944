package graft.sink

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class BucketedMergeSpec extends SparkSpecBase {
  import spark.implicits._

  test("bucketed target co-locates the merge join (no Exchange on the " +
    "target side) and upserts correctly") {
    val t = "graft_bucketed_t1"
    Seq("", "_stage").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $t$s"))

    val b1 = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("id", "v", "seq")
    MergeSink.flushBucketed(spark, b1, t, Seq("id"), "seq", numBuckets = 4)
    assert(spark.table(t).count() == 3)

    val b2 = Seq((2L, "b2", 2L), (4L, "d", 2L)).toDF("id", "v", "seq")

    // the merge join against the bucketed target must not re-shuffle the
    // target: its side of the SortMergeJoin reads bucketed files directly
    val target = spark.table(t)
    val plan = MergeSink.merge(target, b2, Seq("id"))
      .queryExecution.executedPlan.toString
    val bucketedScan = plan.contains("Bucketed: true") ||
      plan.contains("SelectedBucketsCount")
    assert(bucketedScan, s"expected bucketed scan in plan:\n$plan")

    MergeSink.flushBucketed(spark, b2, t, Seq("id"), "seq", numBuckets = 4)
    val out = spark.table(t).orderBy("id")
      .select("id", "v").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
  }

  test("a kill between the two promote renames loses no row") {
    val t = "graft_bucketed_t2"
    Seq("", "_stage", "_retired").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $t$s"))
    val b1 = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("id", "v", "seq")
    MergeSink.flushBucketed(spark, b1, t, Seq("id"), "seq", numBuckets = 4)
    // the state a kill leaves after the first rename of the promote:
    // the table retired, the stage not yet renamed into its place
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}_retired")

    val b2 = Seq((2L, "b2", 2L), (4L, "d", 2L)).toDF("id", "v", "seq")
    MergeSink.flushBucketed(spark, b2, t, Seq("id"), "seq", numBuckets = 4)
    val out = spark.table(t).orderBy("id")
      .select("id", "v").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
    assert(!spark.catalog.tableExists(s"${t}_retired"))
  }
}
