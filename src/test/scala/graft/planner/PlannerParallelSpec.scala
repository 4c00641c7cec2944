package graft.planner

import java.nio.file.Files
import org.json4s.JLong
import graft.SparkSpecBase
import graft.spec._
import graft.state.Bookmarks

class PlannerParallelSpec extends SparkSpecBase {
  import spark.implicits._

  test("parallel per-table sync replicates all streams and bookmarks") {
    val dir = Files.createTempDirectory("par").toString
    val tables = (1 to 4).map(i => s"t$i")
    tables.zipWithIndex.foreach { case (t, i) =>
      Seq((1L, s"$t-a", i.toLong), (2L, s"$t-b", i + 10L))
        .toDF("id", "v", "seq").write.parquet(s"$dir/src/$t.parquet")
    }
    val pipeline = PipelineSpec("par",
      tables.map(t => StreamSpec(s"s-$t", t, Seq("id"),
        ReplicationMethod.Incremental, Some("seq"))),
      targetPath = s"$dir/tgt", statePath = s"$dir/state.json")
    val state = Planner.run(spark, pipeline,
      t => s"$dir/src/$t.parquet", parallelism = 4)
    tables.foreach { t =>
      assert(spark.read.parquet(s"$dir/tgt/$t").count() == 2)
      assert(state.get(s"s-$t").nonEmpty)
    }
    // state file holds all four bookmarks
    assert(Bookmarks.load(s"$dir/state.json").bookmarks.size == 4)
  }

  test("parallel run: a failed stream alerts and logs .failed, the rest " +
    "sync and save bookmarks, and the stop marker stops later streams") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch,
      TimeUnit}
    val dir = Files.createTempDirectory("parfail").toString
    val first = Seq("missing", "g1", "g2", "g3")
    val late = Seq("late1", "late2")
    (first.tail ++ late).foreach { t =>
      Seq((1L, s"$t-a", 1L), (2L, s"$t-b", 2L)).toDF("id", "v", "seq")
        .write.parquet(s"$dir/src/$t.parquet")
    }
    val pipeline = PipelineSpec("pf",
      (first ++ late).map(t => StreamSpec(s"s-$t", t, Seq("id"),
        ReplicationMethod.Incremental, Some("seq"))),
      targetPath = s"$dir/tgt", statePath = s"$dir/state.json")
    // four threads take the first four streams; once all four are inside
    // their sync, the stop marker appears, so the two queued streams find
    // it when they would start
    val started = new CountDownLatch(first.size)
    val marker = java.nio.file.Paths.get(Planner.stopMarkerPath(pipeline))
    def sourcePathFor(t: String): String = {
      started.countDown()
      assert(started.await(120, TimeUnit.SECONDS), "first wave never met")
      Files.writeString(marker, "stop")
      s"$dir/src/$t.parquet"
    }
    val alerted = new ConcurrentLinkedQueue[String]()
    // a local property the caller sets reaches every job the pool runs
    val sc = spark.sparkContext
    val jobTags = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobTags.add(String.valueOf(e.properties.getProperty("graft.phase")))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.phase", "pf")
    val state =
      try Planner.run(spark, pipeline, sourcePathFor,
        onError = (stream, _) => alerted.add(stream),
        logDir = Some(s"$dir/logs"), parallelism = 4)
      finally {
        sc.setLocalProperty("graft.phase", null)
        org.apache.spark.sql.graftbridge.ListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(!jobTags.isEmpty && jobTags.toArray.forall(_ == "pf"),
      jobTags.toArray.distinct.mkString(","))
    assert(alerted.toArray.toSeq == Seq("s-missing"))
    def exists(n: String) = Files.exists(java.nio.file.Paths.get(n))
    assert(exists(s"$dir/logs/pf-s-missing.log.failed"))
    first.tail.foreach { t =>
      assert(exists(s"$dir/logs/pf-s-$t.log.success"), t)
      assert(spark.read.parquet(s"$dir/tgt/$t").count() == 2, t)
    }
    late.foreach { t =>
      assert(!exists(s"$dir/tgt/$t"), s"$t synced after the stop marker")
      Seq("running", "success", "failed").foreach(st =>
        assert(!exists(s"$dir/logs/pf-s-$t.log.$st"), s"$t log .$st"))
    }
    val saved = Bookmarks.load(s"$dir/state.json")
    assert(saved.bookmarks.keySet == first.tail.map(t => s"s-$t").toSet)
    assert(state.bookmarks.keySet == saved.bookmarks.keySet)
  }

  test("a failed stream alerts and is skipped; the rest still sync") {
    val dir = Files.createTempDirectory("alert").toString
    Seq((1L, "x", 1L)).toDF("id", "v", "seq")
      .write.parquet(s"$dir/src/good.parquet")
    val pipeline = PipelineSpec("al",
      Seq(
        StreamSpec("s-missing", "missing", Seq("id"),
          ReplicationMethod.Incremental, Some("seq")),
        StreamSpec("s-good", "good", Seq("id"),
          ReplicationMethod.Incremental, Some("seq"))),
      targetPath = s"$dir/tgt", statePath = s"$dir/state.json")
    var alerted = List.empty[String]
    val state = Planner.run(spark, pipeline, t => s"$dir/src/$t.parquet",
      onError = (stream, _) => alerted ::= stream)
    assert(alerted == List("s-missing"))
    assert(state.get("s-good").nonEmpty && state.get("s-missing").isEmpty)
    assert(spark.read.parquet(s"$dir/tgt/good").count() == 1)
  }

  test("alert handlers fire on a failed stream; logs rename to .failed") {
    val dir = Files.createTempDirectory("alerts").toString
    Seq((1L, "x", 1L)).toDF("id", "v", "seq")
      .write.parquet(s"$dir/src/good.parquet")
    val pipeline = PipelineSpec("al2",
      Seq(
        StreamSpec("s-bad", "missing", Seq("id"),
          ReplicationMethod.Incremental, Some("seq")),
        StreamSpec("s-good", "good", Seq("id"),
          ReplicationMethod.Incremental, Some("seq"))),
      targetPath = s"$dir/tgt", statePath = s"$dir/state.json")
    val alertFile = s"$dir/alerts.log"
    val sender = new Alerts.AlertSender(
      Map("file" -> Map("path" -> alertFile)))
    Planner.run(spark, pipeline, t => s"$dir/src/$t.parquet",
      onError = Alerts.onError(sender), logDir = Some(s"$dir/logs"))
    // the handler fired exactly once, with level + stream + cause
    val alerts = new String(Files.readAllBytes(
      java.nio.file.Paths.get(alertFile)), "UTF-8").linesIterator.toSeq
    assert(alerts.size == 1 && alerts.head.startsWith("[error]") &&
      alerts.head.contains("s-bad"), alerts.mkString("\n"))
    // log lifecycle: .failed for the bad stream, .success for the good,
    // no .running leftovers (commands.py:532-546 semantics)
    def exists(n: String) =
      Files.exists(java.nio.file.Paths.get(s"$dir/logs/$n"))
    assert(exists("al2-s-bad.log.failed"), "failed log rename")
    assert(exists("al2-s-good.log.success"), "success log rename")
    assert(!exists("al2-s-bad.log.running") &&
      !exists("al2-s-good.log.running"), "no running leftovers")
  }

  test("a throwing alert handler never aborts the run or loses state") {
    val dir = Files.createTempDirectory("alertthrow").toString
    Seq((1L, "x", 1L)).toDF("id", "v", "seq")
      .write.parquet(s"$dir/src/good.parquet")
    val pipeline = PipelineSpec("at",
      Seq(
        StreamSpec("s-bad", "missing", Seq("id"),
          ReplicationMethod.Incremental, Some("seq")),
        StreamSpec("s-good", "good", Seq("id"),
          ReplicationMethod.Incremental, Some("seq"))),
      targetPath = s"$dir/tgt", statePath = s"$dir/state.json")
    // handler type configured but not implemented -> onError throws;
    // the run must still sync the good stream and save its bookmark
    val sender = new Alerts.AlertSender(Map("victorops" -> Map.empty))
    val old = System.err
    System.setErr(new java.io.PrintStream(
      new java.io.ByteArrayOutputStream(), true, "UTF-8"))
    val state =
      try Planner.run(spark, pipeline, t => s"$dir/src/$t.parquet",
        onError = Alerts.onError(sender))
      finally System.setErr(old)
    assert(state.get("s-good").nonEmpty, "good stream must still sync")
    assert(spark.read.parquet(s"$dir/tgt/good").count() == 1)
    assert(graft.state.Bookmarks.load(s"$dir/state.json")
      .get("s-good").nonEmpty, "state must be saved despite the throw")
  }

  test("AlertSender registry: unconfigured and unimplemented types") {
    val sender = new Alerts.AlertSender(Map("stderr" -> Map.empty))
    intercept[Alerts.NotConfiguredAlertHandlerException] {
      sender.sendToHandler("file", "m")
    }
    val custom = new Alerts.AlertSender(Map("webhook" -> Map.empty))
    intercept[Alerts.NotImplementedAlertHandlerException] {
      custom.sendToHandler("webhook", "m")
    }
    // the registry seam: plugging a custom handler type in makes it live
    var got = List.empty[String]
    val plugged = new Alerts.AlertSender(
      Map("webhook" -> Map("url" -> "https://example.invalid")),
      Alerts.registryWith("webhook" -> (cfg => new Alerts.AlertHandler {
        override def send(message: String, level: String,
                          exc: Option[Throwable]): Unit =
          got ::= s"$level|${cfg("url")}|$message"
      })))
    assert(plugged.sendToAllHandlers("boom") == 1)
    assert(got == List("error|https://example.invalid|boom"))
  }

  test("full-table rerun replaces the table (ACTIVATE_VERSION swap)") {
    val dir = Files.createTempDirectory("ft").toString
    Seq((1L, "v1"), (2L, "v1")).toDF("id", "v")
      .write.parquet(s"$dir/src1.parquet")
    val pipeline = PipelineSpec("ft",
      Seq(StreamSpec("s-t", "t", Seq("id"), ReplicationMethod.FullTable)),
      targetPath = s"$dir/tgt", statePath = s"$dir/state.json")
    Planner.run(spark, pipeline, _ => s"$dir/src1.parquet")
    assert(spark.read.parquet(s"$dir/tgt/t").count() == 2)
    // new version of the table has different rows; stale ones must go
    Seq((3L, "v2")).toDF("id", "v").write.parquet(s"$dir/src2.parquet")
    Planner.run(spark, pipeline, _ => s"$dir/src2.parquet")
    val out = spark.read.parquet(s"$dir/tgt/t").select("id").as[Long]
      .collect()
    assert(out.toSeq == Seq(3L))
  }
}
