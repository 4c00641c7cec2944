package graft.planner

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.json4s.JLong
import graft.SparkSpecBase
import graft.spec._
import graft.state.Bookmarks

class PlannerSpec extends SparkSpecBase {
  import spark.implicits._

  test("routing: no bookmark -> snapshot; bookmark -> incremental; " +
    "log_based -> streaming") {
    val inc = StreamSpec("s-t", "t", Seq("id"),
      ReplicationMethod.Incremental, Some("id"))
    assert(Planner.plan(inc, Bookmarks.empty) == Planner.InitialSnapshot)
    val withBm = Bookmarks.empty.updated("s-t",
      Map("replication_key_value" -> JLong(5L)))
    assert(Planner.plan(inc, withBm) == Planner.IncrementalFrom(JLong(5L)))
    val cdc = inc.copy(replicationMethod = ReplicationMethod.LogBased)
    assert(Planner.plan(cdc, Bookmarks.empty) == Planner.StreamingCdc)
  }

  test("two-run incremental pipeline: snapshot then delta-only upsert") {
    val dir = Files.createTempDirectory("planner").toString
    val src = s"$dir/src"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "seq")
      .write.parquet(src)
    val pipeline = PipelineSpec("p1",
      Seq(StreamSpec("s-t", "t", Seq("id"),
        ReplicationMethod.Incremental, Some("seq"))),
      targetPath = s"$dir/tgt", statePath = s"$dir/state.json")
    // run 1: initial snapshot, bookmark = max(seq) = 20
    val st1 = Planner.run(spark, pipeline, _ => src)
    assert(st1.replicationKeyValue("s-t").contains(JLong(20L)))
    assert(spark.read.parquet(s"$dir/tgt/t").count() == 2)
    // new source rows arrive (seq 30) + an update of id=2 (seq 25)
    Seq((2L, "b2", 25L), (3L, "c", 30L)).toDF("id", "v", "seq")
      .write.mode("append").parquet(src)
    // run 2: incremental picks up seq >= 20 only and upserts
    val st2 = Planner.run(spark, pipeline, _ => src)
    assert(st2.replicationKeyValue("s-t").contains(JLong(30L)))
    val out = spark.read.parquet(s"$dir/tgt/t")
      .orderBy("id").select("id", "v").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // metadata columns present
    val cols = spark.read.parquet(s"$dir/tgt/t").columns.toSet
    assert(cols.contains("_sdc_extracted_at") &&
      cols.contains("_sdc_deleted_at"))
  }

  test("bookmark capture rides the merge scan — no second source scan") {
    // unique dir-name marker so executed plans that scan the source are
    // identifiable in the listener
    val dir = Files.createTempDirectory("plannerscan").toString
    val src = s"$dir/src"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "seq")
      .write.parquet(src)
    val pipeline = PipelineSpec("p1",
      Seq(StreamSpec("s-t", "t", Seq("id"),
        ReplicationMethod.Incremental, Some("seq"))),
      targetPath = s"$dir/tgt", statePath = s"$dir/state.json")
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    // count plans that READ the source: the write above that created it
    // also names the dir, and listener delivery is async, so its event
    // can arrive after the listener is registered
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("FileScan") && p.contains(src)) scans.incrementAndGet()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val st = Planner.run(spark, pipeline, _ => src)
      // bookmark still captured correctly, via the observed metric
      assert(st.replicationKeyValue("s-t").contains(JLong(20L)))
      // listener delivery is async: wait for the first event, then drain
      val deadline = System.currentTimeMillis + 10000
      while (System.currentTimeMillis < deadline && scans.get == 0)
        Thread.sleep(100)
      Thread.sleep(1000)
      assert(scans.get == 1,
        s"source was scanned ${scans.get} times; expected exactly 1")
    } finally spark.listenerManager.unregister(listener)
  }

  test("selected columns hold on every load path: snapshot, " +
    "incremental and partial sync") {
    val dir = Files.createTempDirectory("plannersel").toString
    val src = s"$dir/src/t.parquet"
    Seq((1L, "a", 10L, "s1"), (2L, "b", 20L, "s2"))
      .toDF("id", "v", "seq", "secret").write.parquet(src)
    val pipeline = PipelineSpec("sel",
      Seq(StreamSpec("s-t", "t", Seq("id"), ReplicationMethod.Incremental,
        Some("seq"), selectedColumns = Some(Seq("id", "v", "seq")))),
      targetPath = s"$dir/tgt", statePath = s"$dir/state.json")
    def dataColumns: Set[String] =
      spark.read.parquet(s"$dir/tgt/t").columns.toSet
        .filterNot(c => c.startsWith("_sdc_") ||
          c == graft.sink.MergeSink.PartCol)
    Planner.run(spark, pipeline, t => s"$dir/src/$t.parquet")
    assert(dataColumns == Set("id", "v", "seq"), "after the snapshot")

    Seq((2L, "b2", 25L, "s3"), (3L, "c", 30L, "s4"))
      .toDF("id", "v", "seq", "secret").write.mode("append").parquet(src)
    Planner.run(spark, pipeline, t => s"$dir/src/$t.parquet")
    assert(dataColumns == Set("id", "v", "seq"), "after the incremental")

    val specPath = s"$dir/pipeline.json"
    Files.writeString(java.nio.file.Paths.get(specPath),
      s"""{"id": "sel", "source_dir": "$dir/src",
         | "target_path": "$dir/tgt", "state_path": "$dir/state.json",
         | "streams": [{"name": "s-t", "table": "t",
         |   "key_properties": ["id"], "replication_method": "INCREMENTAL",
         |   "replication_key": "seq",
         |   "selected_columns": ["id", "v", "seq"]}]}""".stripMargin)
    val stateFile = java.nio.file.Paths.get(s"$dir/state.json")
    val stateBefore = Files.readString(stateFile)
    graft.cli.Cli.run(spark, Seq("partial_sync", specPath, "t", "seq",
      "1", "25"))
    assert(dataColumns == Set("id", "v", "seq"), "after the partial sync")
    val out = spark.read.parquet(s"$dir/tgt/t").orderBy("id")
      .select("id", "v").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // partial sync leaves the bookmark where the last run put it
    assert(Files.readString(stateFile) == stateBefore)
  }

  test("no main source but Planner masks a stream") {
    // one load path per stream: a second caller of Masking.applyAll is
    // a forked copy of Planner's scan -> mask -> sink step
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val masking = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => new String(Files.readAllBytes(f), "UTF-8")
        .contains("Masking.applyAll("))
      .toSeq
    assert(masking == Seq(root.resolve("graft/planner/Planner.scala")))
  }
}
