package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.sink.MergeSink

/** LandingTap: file-backed fake tap exercising the fetch → land →
  * spark.read.json → merge pipeline and incremental bookmarks.
  */
class LandingTapSpec extends SparkSpecBase {
  import spark.implicits._

  /** Fake REST tap: "pages" are a fixed record set filtered by bookmark,
    * landed one JSON-lines file per page of 2.
    */
  private class FakeIssuesTap extends LandingTap {
    val records: Seq[(Long, String, String)] = Seq(
      (1L, "2024-01-01", "open"), (2L, "2024-01-02", "open"),
      (3L, "2024-01-03", "closed"), (4L, "2024-01-04", "open"),
      (5L, "2024-01-05", "closed"))
    var fetches = 0

    override def streamName: String = "issues"

    override def fetchTo(landingDir: String,
                         bookmark: Option[String]): Option[String] = {
      fetches += 1
      Files.createDirectories(Paths.get(landingDir))
      val fresh = records.filter(r => bookmark.forall(b => r._2 > b))
      fresh.grouped(2).zipWithIndex.foreach { case (page, i) =>
        val lines = page.map { case (id, upd, st) =>
          s"""{"id":$id,"updated_at":"$upd","state":"$st"}"""
        }.mkString("", "\n", "\n")
        Files.write(Paths.get(s"$landingDir/page-$fetches-$i.jsonl"),
          lines.getBytes("UTF-8"))
      }
      if (fresh.isEmpty) None else Some(fresh.map(_._2).max)
    }
  }

  test("full sync lands all records; incremental lands only fresh ones") {
    val tap = new FakeIssuesTap
    val dir = Files.createTempDirectory("landing").toString

    val (df1, bm1) = LandingTap.sync(spark, tap, s"$dir/1", None)
    assert(df1.count() == 5)
    assert(bm1.contains("2024-01-05"))

    // nothing new: no files land, bookmark unchanged (None)
    val dir2 = s"$dir/2"
    val bm2 = tap.fetchTo(dir2, bm1)
    assert(bm2.isEmpty)

    // one new record upstream
    val tap2 = new FakeIssuesTap {
      override val records: Seq[(Long, String, String)] =
        new FakeIssuesTap().records :+ ((6L, "2024-01-06", "open"))
    }
    val (df3, bm3) = LandingTap.sync(spark, tap2, s"$dir/3", bm1)
    assert(df3.select("id").as[Long].collect().toSet == Set(6L))
    assert(bm3.contains("2024-01-06"))
  }

  test("landed stream merges into a target like any other source") {
    val tap = new FakeIssuesTap
    val dir = Files.createTempDirectory("landing-m").toString
    val (df, _) = LandingTap.sync(spark, tap, s"$dir/land", None)
    val tablePath = s"$dir/issues"
    MergeSink.flush(spark, df.withColumn("_seq", lit(1L)), tablePath,
      Seq("id"), "_seq")
    // a later page updates issue 1's state
    val upd = Seq((1L, "2024-01-07", "closed", 2L))
      .toDF("id", "updated_at", "state", "_seq")
    MergeSink.flush(spark, upd, tablePath, Seq("id"), "_seq")
    val merged = spark.read.parquet(tablePath)
    assert(merged.count() == 5)
    assert(merged.filter(col("id") === 1L).select("state")
      .as[String].head() == "closed")
  }
}
