package graft.sink

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** flushPartitioned: incremental merges rewrite ONLY the PK-hash partitions
  * the batch touches; every other partition's files stay byte-identical.
  */
class PartitionedMergeSpec extends SparkSpecBase {
  import spark.implicits._

  private def fileStates(tablePath: String): Map[String, (Long, Long)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(tablePath), true)
    val b = Map.newBuilder[String, (Long, Long)]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        b += st.getPath.toString ->
          ((st.getLen, st.getModificationTime))
    }
    b.result()
  }

  private def bucketOf(path: String): Int = {
    val m = s"${MergeSink.PartCol}=(\\d+)".r
      .findFirstMatchIn(path)
    m.map(_.group(1).toInt).getOrElse(sys.error(s"no bucket in $path"))
  }

  /** Task counts of the stages that wrote output while `body` ran. A
    * marker job run after `body` flushes the ordered listener queue.
    */
  private def writeStageTasks(body: => Unit): Seq[Int] = {
    val tasks = new ConcurrentLinkedQueue[Int]()
    val marker = s"pmerge-layout-${System.nanoTime}"
    val markerSeen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (Option(e.stageInfo.taskMetrics)
            .exists(_.outputMetrics.recordsWritten > 0))
          tasks.add(e.stageInfo.numTasks)
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).map(_.getProperty("spark.jobGroup.id"))
            .contains(marker)) markerSeen.countDown()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobGroup(marker, "flush the listener queue")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(markerSeen.await(30, TimeUnit.SECONDS),
        "marker job never reached the listener")
    } finally spark.sparkContext.removeSparkListener(l)
    tasks.asScala.toSeq
  }

  /** `.parquet` files per `__p=<b>` directory of the layout. */
  private def filesPerBucket(tablePath: String): Map[Int, Int] =
    fileStates(tablePath).keys.groupBy(bucketOf).view.mapValues(_.size).toMap

  test("layout writes run at most one task per core, one file per bucket") {
    val dir = Files.createTempDirectory("pmerge-layout").toString
    val tablePath = s"$dir/t"
    val numParts = 64
    val cores = spark.sparkContext.defaultParallelism
    assert(cores < numParts)
    def touched(df: DataFrame): Long =
      df.select(MergeSink.pkBucket(Seq("id"), numParts)).distinct().count()
    def flushChecked(what: String, batch: DataFrame): Unit = {
      val tasks = writeStageTasks(MergeSink.flushPartitioned(spark, batch,
        tablePath, Seq("id"), "seq", numParts = numParts))
      assert(tasks.nonEmpty, s"$what: no stage wrote output")
      assert(tasks.forall(_ <= cores),
        s"$what: write stages ran $tasks tasks on $cores cores")
      val files = filesPerBucket(tablePath)
      assert(files.nonEmpty && files.values.forall(_ == 1),
        s"$what: every bucket must hold exactly one file: $files")
    }

    // bootstrap: commitWhole over the deduped batch
    val initial = (1L to 2000L).map(i => (i, s"v$i", 1L))
      .toDF("id", "v", "seq")
    flushChecked("bootstrap", initial)
    assert(filesPerBucket(tablePath).size == numParts)

    // whole-layout merge: at least 3/4 of the buckets touched
    val wide = (1L to 400L).map(i => (i * 7, s"w$i", 2L))
      .toDF("id", "v", "seq")
    assert(touched(wide) >= numParts * 3 / 4)
    flushChecked("whole-layout merge", wide)

    // per-bucket merge: more buckets than cores, fewer than 3/4
    val narrow = (3001L to 3012L).map(i => (i, s"n$i", 3L))
      .toDF("id", "v", "seq")
    val n = touched(narrow)
    assert(n > cores && n < numParts * 3 / 4, s"narrow batch touched $n")
    flushChecked("per-bucket merge", narrow)

    assert(spark.read.parquet(tablePath).count() == 2000 + 400 - 285 + 12)
  }

  test("incremental flush leaves untouched partitions byte-identical") {
    val dir = Files.createTempDirectory("pmerge").toString
    val tablePath = s"$dir/t"
    val initial = (1L to 200L).map(i => (i, s"v$i", 1L))
      .toDF("id", "v", "seq")
    MergeSink.flushPartitioned(spark, initial, tablePath, Seq("id"), "seq",
      numParts = 8)
    val before = fileStates(tablePath)
    assert(before.nonEmpty)

    // small batch: 3 keys → at most 3 touched buckets
    val batch = Seq((5L, "v5-new", 2L), (6L, "v6-new", 2L),
      (201L, "v201", 2L)).toDF("id", "v", "seq")
    val touched = batch
      .select(MergeSink.pkBucket(Seq("id"), 8).as("b"))
      .distinct().as[Int].collect().toSet
    assert(touched.size < 8, "test batch must not touch every bucket")

    MergeSink.flushPartitioned(spark, batch, tablePath,
      Seq("id"), "seq", numParts = 8)
    val merged = spark.read.parquet(tablePath).drop(MergeSink.PartCol)

    // contents: updated keys win, new key inserted, others untouched
    val got = merged.orderBy("id").as[(Long, String, Long)].collect()
    assert(got.length == 201)
    assert(got.find(_._1 == 5L).get._2 == "v5-new")
    assert(got.find(_._1 == 6L).get._2 == "v6-new")
    assert(got.find(_._1 == 201L).get._2 == "v201")
    assert(got.find(_._1 == 7L).get._2 == "v7")

    // files: untouched buckets byte-identical (same path, length, mtime);
    // touched buckets rewritten
    val after = fileStates(tablePath)
    val beforeUntouched = before.filterNot(kv => touched(bucketOf(kv._1)))
    val afterUntouched = after.filterNot(kv => touched(bucketOf(kv._1)))
    assert(beforeUntouched == afterUntouched,
      "untouched partitions' files must not change")
    val beforeTouchedPaths = before.keySet -- beforeUntouched.keySet
    val afterTouchedPaths = after.keySet -- afterUntouched.keySet
    assert((beforeTouchedPaths & afterTouchedPaths).isEmpty,
      "touched partitions must be rewritten (fresh files)")
  }

  test("wide batches take the whole-layout fallback and stay correct") {
    val dir = Files.createTempDirectory("pmerge-wide").toString
    val tablePath = s"$dir/t"
    val initial = (1L to 200L).map(i => (i, s"v$i", 1L))
      .toDF("id", "v", "seq")
    MergeSink.flushPartitioned(spark, initial, tablePath, Seq("id"), "seq",
      numParts = 8)
    // 100 random keys over 8 buckets touch (nearly) all of them: the
    // degenerate case routes through one whole-layout write + one swap
    // keys 102,104,...,300: 50 update existing rows, 50 are new
    val wide = (1L to 100L).map(i => (100L + i * 2, s"w${100 + i * 2}", 2L))
      .toDF("id", "v", "seq")
    val touched = wide.select(MergeSink.pkBucket(Seq("id"), 8).as("b"))
      .distinct().count()
    assert(touched >= 6, s"test batch should be wide, touched=$touched")
    MergeSink.flushPartitioned(spark, wide, tablePath,
      Seq("id"), "seq", numParts = 8)
    val merged = spark.read.parquet(tablePath).drop(MergeSink.PartCol)
    assert(merged.count() == 250)
    assert(merged.filter(col("id") === 104L).select("v")
      .as[String].head() == "w104")
    assert(merged.filter(col("id") === 3L).select("v")
      .as[String].head() == "v3")
    // layout still partitioned (future incremental flushes keep working)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$tablePath/${MergeSink.PartCol}=0")))
  }

  test("hard delete can empty a bucket; replay converges") {
    val dir = Files.createTempDirectory("pmerge2").toString
    val tablePath = s"$dir/t"
    val initial = Seq((1L, "a", 1L, null: String), (2L, "b", 1L, null: String))
      .toDF("id", "v", "seq", "_sdc_deleted_at")
    MergeSink.flushPartitioned(spark, initial, tablePath, Seq("id"), "seq",
      numParts = 4)
    val tomb = Seq((1L, "a", 2L, "2024-01-01"))
      .toDF("id", "v", "seq", "_sdc_deleted_at")
    MergeSink.flushPartitioned(spark, tomb, tablePath, Seq("id"), "seq",
      numParts = 4, hardDelete = true)
    // at-least-once replay of the same tombstone batch
    MergeSink.flushPartitioned(spark, tomb, tablePath, Seq("id"), "seq",
      numParts = 4, hardDelete = true)
    val out = spark.read.parquet(tablePath).select("id").as[Long].collect()
    assert(out.toSeq == Seq(2L))
  }

  test("schema evolution falls back to full rewrite and stays correct") {
    val dir = Files.createTempDirectory("pmerge3").toString
    val tablePath = s"$dir/t"
    val b1 = Seq((1L, "a", 1L)).toDF("id", "v", "seq")
    MergeSink.flushPartitioned(spark, b1, tablePath, Seq("id"), "seq",
      numParts = 4)
    val b2 = Seq((2L, "b", 2L, 9.5)).toDF("id", "v", "seq", "extra")
    MergeSink.flushPartitioned(spark, b2, tablePath,
      Seq("id"), "seq", numParts = 4)
    val merged = spark.read.parquet(tablePath).drop(MergeSink.PartCol)
    assert(merged.columns.contains("extra"))
    assert(merged.filter(col("id") === 1L).select("extra").head().isNullAt(0))
    assert(merged.count() == 2)
  }
}
