package graft.sink

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.streaming.{FlushPolicy, StreamingMerge}

class SinksSpec extends SparkSpecBase {
  import spark.implicits._

  test("csv sink writes gzip csv with header (target-s3-csv shape)") {
    val dir = Files.createTempDirectory("csvsink").toString + "/out"
    Sinks.csvAppend(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir)
    val files = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".csv.gz"))
    assert(files.nonEmpty)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 2 && back.columns.toSeq == Seq("id", "v"))
  }

  test("writeSplit bounds file count and rows per file (split_gzip)") {
    val dir = Files.createTempDirectory("split").toString + "/out"
    val df = spark.range(1000).toDF("id")
    Sinks.writeSplit(df, dir, targetFiles = 4, maxRecordsPerFile = 200)
    val files = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet"))
    // 4 partitions x 250 rows, split at 200 -> 8 files
    assert(files.length >= 4 && files.length <= 20)
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("flush policy maps batching knobs to triggers") {
    import org.apache.spark.sql.streaming.Trigger
    assert(FlushPolicy().trigger == Trigger.AvailableNow())
    assert(FlushPolicy(batchWaitLimitSeconds = Some(30)).trigger ==
      Trigger.ProcessingTime(30000L))
    assert(FlushPolicy(batchSizeRows = 5000).kafkaOptions(
      "maxOffsetsPerTrigger") == "5000")
    assert(FlushPolicy(batchSizeRows = 1000)
      .fileOptions(avgRowsPerFile = 100)("maxFilesPerTrigger") == "10")
  }

  test("mongo-style update refetch joins ids back to the source") {
    val source = Seq((1L, "doc1-v2", 10), (2L, "doc2", 20))
      .toDF("_id", "doc", "x")
    val batch = Seq(
      (1L, "u", null.asInstanceOf[String], 0),   // update: id only
      (3L, "d", null.asInstanceOf[String], 0),   // delete tombstone
      (4L, "c", "doc4", 40))                     // insert carries doc
      .toDF("_id", "op", "doc", "x")
    val out = StreamingMerge.refetchUpdates(batch, source, "_id")
      .orderBy("_id").select("_id", "op", "doc").collect()
    assert(out(0).getString(2) == "doc1-v2") // refetched full doc
    assert(out(1).getString(1) == "d")
    assert(out(2).getString(2) == "doc4")
  }

  test("compactFiles rewrites a fragmented dir losslessly, atomically") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("compact").toString + "/t"
    val df = (1L to 500L).map(i => (i, s"row$i")).toDF("id", "v")
    df.repartition(20).write.parquet(dir)
    val (before, after) = Sinks.compactFiles(spark, dir, 1000L)
    assert(before == 20, s"fragmented layout had $before files")
    assert(after == 1, s"compacted layout has $after files")
    val back = spark.read.parquet(dir)
    assert(back.count() == 500L)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    // no leftover staging/retired dirs (DirCommit's t.stage and t.old)
    val names = new java.io.File(dir).getParentFile.list().toSet
    assert(names == Set("t"), names.toString)
  }

  test("writeRangeSorted: disjoint shard ranges; readRange prunes files") {
    val dir = Files.createTempDirectory("rsort").toString + "/t"
    val df = (0L until 1000L).map(i => ((i * 7919) % 1000, s"v$i"))
      .toDF("id", "v") // scrambled input order
    val manifest = Sinks.writeRangeSorted(df, dir, "id", shards = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    assert(manifest.length == 8)
    // shard ranges are disjoint and ordered
    manifest.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"overlapping shard ranges: $a vs $b")
    }
    // range read returns exactly the filter result...
    val got = Sinks.readRange(spark, dir, "id", 200L, 300L)
    assert(got.select("id").as[Long].collect().toSet ==
      (200L until 300L).toSet)
    // ...while opening only the overlapping shard files
    val full = spark.read.parquet(dir)
    assert(got.inputFiles.length < full.inputFiles.length,
      s"range read opened all ${full.inputFiles.length} files")
    // empty range reads nothing
    assert(Sinks.readRange(spark, dir, "id", 5000L, 6000L).isEmpty)
  }

  test("writeRangeSorted fails loudly on all-null sort keys") {
    val dir = Files.createTempDirectory("rsort-null").toString + "/t"
    val df = Seq[(java.lang.Long, String)]((null, "a"), (null, "b"))
      .toDF("id", "v")
    val ex = intercept[IllegalStateException] {
      Sinks.writeRangeSorted(df, dir, "id", shards = 2)
    }
    assert(ex.getMessage.contains("null id bounds"),
      s"error must name the null-bound column: ${ex.getMessage}")
  }

  test("writeRangeSorted rejects a non-integral sortCol up front") {
    val dir = Files.createTempDirectory("rsort-str").toString + "/t"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val ex = intercept[IllegalArgumentException] {
      Sinks.writeRangeSorted(df, dir, "v", shards = 2)
    }
    assert(ex.getMessage.contains("must be integral") &&
      ex.getMessage.contains("string"),
      s"error must name the type problem: ${ex.getMessage}")
    // and nothing was written — the check fires before the write
    assert(!new java.io.File(dir).exists())
  }

  test("readRange accepts pre-r13 string-bound manifests") {
    val dir = Files.createTempDirectory("rsort-legacy").toString + "/t"
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    Sinks.writeRangeSorted(df, dir, "id", shards = 2)
    // rewrite the manifest with the old string-valued bounds
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val mp = new org.apache.hadoop.fs.Path(dir, "_range_index.json")
    val in = fs.open(mp)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val legacy = json.replaceAll("\"lo\":(-?\\d+)", "\"lo\":\"$1\"")
      .replaceAll("\"hi\":(-?\\d+)", "\"hi\":\"$1\"")
    val out = fs.create(mp, true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    assert(Sinks.readRange(spark, dir, "id", 10L, 20L)
      .select("id").as[Long].collect().toSet == (10L until 20L).toSet)
  }
}
