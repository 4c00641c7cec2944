package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery,
  StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.planner.Planner
import graft.sink.MergeSink
import graft.sources.{Sources, Wal2Json}
import graft.spec._
import graft.streaming.StreamingMerge
import graft.transform.{Masking, Metadata}

/** The benchmark's program side: drives one workload through the public
  * API on generated inputs and writes what it measured, plus where its
  * outputs are, to a JSON file. Output checks run afterwards, apart from
  * the program (check.py).
  *
  * Usage: perfbench.Main <params.json>
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  /** The program's default PK-hash layout of a target table. */
  val Buckets = 64
  val AccountSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("balance", LongType), StructField("tier", StringType)))
  val Orders: StreamSpec = StreamSpec("public-orders", "orders", Seq("id"),
    ReplicationMethod.Incremental, Some("updated_at"),
    transformations = Seq(Transformation("email", "HASH"),
      Transformation("card", "MASK-STRING-SKIP-ENDS-3")))
  val Accounts: StreamSpec = StreamSpec("public-accounts", "accounts",
    Seq("id"), ReplicationMethod.LogBased)
  val CurateQueries: Seq[String] = Seq("more_like_this",
    "pipeline_curate_corpus", "dedup_minhash_precision",
    "dedup_minhash_against_bloomed")

  final case class Params(json: JValue) {
    def str(k: String): String = (json \ k).extract[String]
    def int(k: String): Int = (json \ k).extract[Int]
    def size(set: String, k: String): Int = (json \ set \ k).extract[Int]
    def fact(k: String): Long = (json \ "main_facts" \ k).extract[Long]
    val workload: String = str("workload")
    val traced: Boolean = (json \ "trace").extract[Boolean]
    val work: String = str("work")
  }

  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val outputs = mutable.LinkedHashMap.empty[String, JValue]
  private var attempted = 0L
  private var setupS = 0.0
  /** Streaming progress of the timed small commits. */
  private val progress = mutable.ArrayBuffer.empty[Map[String, Long]]

  def main(args: Array[String]): Unit = {
    val p = Params(JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(args(0))), "UTF-8")))
    val canary = if (p.traced) Tracer.canary() else 0.0
    if (p.traced) PerLayer.foreach(metrics(_) = 0.0)
    mark("start")
    val spark = session(p)
    mark("session")
    val tracer = new Tracer(spark, p.traced)
    CountingLocalFileSystem.root = s"${p.work}/run/"
    // `train` runs a tiny instance of every workload in one process, so
    // that the class-data archive written at its exit covers them all
    val runs =
      if (p.workload == "train") (p.json \ "runs").children.map(Params)
      else Seq(p)
    try {
      runs.foreach { r =>
        r.workload match {
          case "replicate" => replicate(spark, r, tracer)
          case "curate_ops" => curate(spark, r, tracer)
        }
      }
    } finally spark.stop()
    metrics("host.canary_s") = canary
    metrics("setup_s") = setupS
    val reported =
      if (p.traced) PerLayer.toSet
      else Set("setup_s", "rows_per_s", "cpu_s_per_op")
    metrics.filterInPlace((k, _) => reported(k))
    val doc = JObject(
      "attempted" -> JLong(attempted),
      "metrics" -> JObject(metrics.toList.map { case (k, v) =>
        k -> JDouble(v) }),
      "outputs" -> JObject(outputs.toList))
    Files.write(Paths.get(p.str("out")),
      JsonMethods.compact(JsonMethods.render(doc)).getBytes("UTF-8"))
  }

  def session(p: Params): SparkSession = {
    val cores = p.int("cores").toString
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${p.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${p.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (p.traced)
      b.config("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def uptime: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** A progress line on stderr, stamped with seconds since process start. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] $uptime%8.3f $what")

  /** Marks the end of set-up: process start to the first timed step. */
  private def setupDone(spark: SparkSession): Unit = {
    settle(spark)
    setupS = uptime
    mark("set-up done")
  }

  /** Between samples: drop cached data and collect garbage. */
  private def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def per(x: Double, n: Long): Double = if (n == 0) 0.0 else x / n

  private def copyInto(file: String, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val f = Paths.get(file)
    Files.copy(f, Paths.get(dir).resolve(f.getFileName),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def listFiles(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.toString).toSeq.sorted
    finally s.close()
  }

  /** Planner.run, failing loudly: a stream that fails is only alerted by
    * the planner, which then carries on.
    */
  private def plannerRun(spark: SparkSession, pipe: PipelineSpec,
                         sourceDir: String): Unit = {
    val failures = mutable.ArrayBuffer.empty[Throwable]
    Planner.run(spark, pipe, t => s"$sourceDir/$t",
      onError = (_, e) => failures += e)
    failures.headOption.foreach(e => throw e)
  }

  /** Drain the slot at `logDir` with AvailableNow, `filesPerTrigger`
    * segments per micro-batch; returns the progress of every micro-batch
    * that read data.
    */
  private def drainSlot(spark: SparkSession, logDir: String, dir: String,
                        filesPerTrigger: Int)
      : Seq[StreamingQueryProgress] = {
    val q: StreamingQuery = StreamingMerge.startWalSlot(spark, logDir,
      "public", "accounts", AccountSchema, s"$dir/target/accounts",
      s"$dir/checkpoint", Seq("id"), hardDelete = true,
      trigger = Trigger.AvailableNow(), targetPartitions = Buckets,
      maxFilesPerTrigger = Some(filesPerTrigger),
      slotFile = Some(s"$dir/slot/confirmed_flush_lsn"))
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    q.recentProgress.filter(_.numInputRows > 0).toSeq
  }

  private def durations(p: StreamingQueryProgress): Map[String, Long] =
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap

  // ---- replicate -------------------------------------------------------

  /** Run `body` as one operation of phase `name` (timed when `tr` is
    * given), then log the phase.
    */
  private def phase[T](tr: Option[Tracer], name: String, ops: Int = 1)
                      (body: => T): T = {
    val out = tr match {
      case Some(t) =>
        attempted += ops
        t.op(name, ops)(body)._1
      case None => body
    }
    mark(name)
    out
  }

  /** The orders stream into fresh targets under `dir`: the snapshot, then
    * an INCREMENTAL run after each change file under `in` lands.
    */
  private def ordersRuns(spark: SparkSession, in: String, dir: String,
                         tr: Option[Tracer]): Unit = {
    val source = s"$dir/source"
    copyInto(s"$in/source/orders/part-00000.parquet", s"$source/orders")
    val pipe = PipelineSpec("bench", Seq(Orders), s"$dir/target",
      s"$dir/state/orders.json", hardDelete = true,
      targetPartitions = Buckets)
    phase(tr, "snapshot")(plannerRun(spark, pipe, source))
    listFiles(s"$in/orders_changes").foreach { f =>
      copyInto(f, s"$source/orders")
      phase(tr, "incremental")(plannerRun(spark, pipe, source))
    }
  }

  /** Set-up runs the orders stream on the small input set, then seeds the
    * accounts target of the LOG_BASED stream: its initial sync, then the
    * set-up segments, one micro-batch each. The first batch after the sync
    * always takes the sink's one-time schema migration (the sync writes no
    * `_sdc_lsn` column), so it stays out of the timed part; that rewrite
    * runs the merge, layout write and swap of the whole-layout path the
    * timed backlog batch takes, and the second batch takes the per-bucket
    * swap the timed small commits take. Each timed round then runs the
    * orders stream into fresh targets, drains a backlog of segments as one
    * large micro-batch, and small segments one per micro-batch.
    */
  def replicate(spark: SparkSession, p: Params, tracer: Tracer): Unit = {
    val run = s"${p.work}/run"
    val in = p.str("main")
    ordersRuns(spark, p.str("warm"), s"$run/warm", None)
    val cdc = s"$run/cdc"
    plannerRun(spark, PipelineSpec("bench-cdc", Seq(Accounts),
      s"$cdc/target", s"$cdc/state/accounts.json", hardDelete = true,
      targetPartitions = Buckets), s"$in/source")
    mark("cdc initial sync")
    // the slot's log: segments land in it while no query runs
    val log = s"$cdc/wal"
    val segs = p.json \ "main_facts" \ "segments"
    def land(names: Seq[String]): Unit =
      names.foreach(n => copyInto(s"$in/wal/$n", log))
    (segs \ "setup").extract[Seq[String]].foreach { n =>
      land(Seq(n))
      drainSlot(spark, log, cdc, 1)
      mark(s"set-up segment $n")
    }
    setupDone(spark)
    val tr = Some(tracer)
    val rounds = (segs \ "rounds").extract[Seq[Map[String, Seq[String]]]]
    val dirs = rounds.zipWithIndex.map { case (r, i) =>
      val dir = s"$run/r$i"
      ordersRuns(spark, in, dir, tr)
      land(r("backlog"))
      val big = phase(tr, "cdc")(drainSlot(spark, log, cdc, r("backlog").size))
      require(big.size == 1, s"backlog took ${big.size} micro-batches")
      // a micro-batch reaches foreachBatch as an already planned RDD, so
      // the slot scan is not in the sink's plans: its lines come from the
      // streaming progress
      tracer.stats("cdc").walLines += big.map(_.numInputRows).sum
      land(r("small"))
      val ps = phase(tr, "trickle", r("small").size)(
        drainSlot(spark, log, cdc, 1))
      require(ps.size == r("small").size,
        s"expected ${r("small").size} micro-batches, saw ${ps.size}")
      if (p.traced) progress ++= ps.map(durations)
      settle(spark)
      dir
    }
    outputs("rounds") = JArray(dirs.map(JString(_)).toList)
    outputs("cdc") = JString(cdc)
    val n = rounds.size
    val snapRows = n.toLong * p.size("main_sizes", "snapshot_rows")
    val changeRows = n.toLong * p.size("main_sizes", "change_files") *
      p.size("main_sizes", "change_rows")
    val backlogEvents = n * p.fact("backlog_events")
    val trickleEvents = n * p.fact("trickle_events")
    val all = tracer.total("snapshot", "incremental", "cdc", "trickle")
    endToEnd(snapRows + changeRows + backlogEvents + trickleEvents, all)
    if (p.traced) {
      val snap = tracer.stats("snapshot")
      val inc = tracer.stats("incremental")
      val cdcSt = tracer.stats("cdc")
      val trickle = tracer.stats("trickle")
      val changed = tracer.total("incremental", "cdc")
      val planner = tracer.total("snapshot", "incremental")
      metrics("replicate.snapshot_rows_per_s") = snapRows / snap.wallS
      metrics("replicate.incremental_rows_per_s") = changeRows / inc.wallS
      metrics("replicate.cdc_events_per_s") = backlogEvents / cdcSt.wallS
      metrics("replicate.bytes_written_per_change") =
        per(changed.writeBytes, changeRows + backlogEvents)
      metrics("replicate.trickle_commit_s") =
        median(progress.map(_("triggerExecution") / 1e3).toSeq)
      metrics("replicate.trickle_bytes_written_per_event") =
        per(trickle.writeBytes, trickleEvents)
      metrics("sources.rows_scanned") = per(inc.sourceRows, inc.ops)
      metrics("sources.files_read") = per(inc.sourceFiles, inc.ops)
      metrics("sources.bytes_read") = per(inc.sourceBytes, inc.ops)
      metrics("sources.scan_stage_cpu_s") =
        per(snap.scanStageCpuNs / 1e9, snap.ops)
      metrics("transform.mask_s") = maskSeconds(spark, p)
      metrics("decode.lines_in") = per(cdcSt.walLines, cdcSt.ops)
      metrics("decode.rows_out") = per(cdcSt.decodeRows, cdcSt.ops)
      metrics("decode.stage_cpu_s") =
        per(cdcSt.decodeStageCpuNs / 1e9, cdcSt.ops)
      metrics("sink.target_rows_read") = per(changed.targetRows, changed.ops)
      metrics("sink.dedup_shuffle_bytes") =
        per(changed.dedupShuffle, changed.ops)
      metrics("sink.merge_shuffle_bytes") =
        per(changed.mergeShuffle, changed.ops)
      metrics("sink.rows_written") = per(changed.writeRows, changed.ops)
      metrics("sink.files_written") = per(changed.writeFiles, changed.ops)
      metrics("sink.bytes_written") = per(changed.writeBytes, changed.ops)
      metrics("sink.rewrite_ratio") =
        per(changed.writeRows, changeRows + backlogEvents)
      // the bucket counts that select the sink's path: at least 3/4 of
      // the buckets take the whole-layout rewrite, fewer the per-bucket swap
      val wal = (names: Seq[String]) =>
        touchedBuckets(spark, slotKeys(spark, names.map(n => s"$in/wal/$n")))
      metrics("sink.touched_buckets") =
        median(rounds.flatMap(_("small")).map(n => wal(Seq(n)).toDouble))
      metrics("sink.backlog_touched_buckets") =
        median(rounds.map(r => wal(r("backlog")).toDouble))
      metrics("sink.change_touched_buckets") =
        median(listFiles(s"$in/orders_changes").map(f =>
          touchedBuckets(spark, spark.read.parquet(f)).toDouble))
      metrics("sink.fs_renames") = per(trickle.fsRenames, trickle.ops)
      metrics("sink.fs_deletes") = per(trickle.fsDeletes, trickle.ops)
      metrics("sink.fs_list_calls") = per(trickle.fsLists, trickle.ops)
      metrics("sink.listing_jobs") = per(trickle.listingJobs, trickle.ops)
      metrics("planner.run_s") = per(planner.wallS, planner.ops)
      metrics("planner.sql_actions") = per(planner.sqlActions, planner.ops)
      metrics("sink.backlog_sql_actions") =
        per(cdcSt.sqlActions, cdcSt.ops)
      def med(f: Map[String, Long] => Long): Double =
        median(progress.map(d => f(d).toDouble).toSeq)
      def at(k: String)(d: Map[String, Long]): Long = d.getOrElse(k, 0L)
      metrics("streaming.trigger_ms") = med(at("triggerExecution"))
      metrics("streaming.add_batch_ms") = med(at("addBatch"))
      metrics("streaming.latest_offset_ms") = med(at("latestOffset"))
      metrics("streaming.get_batch_ms") = med(at("getBatch"))
      metrics("streaming.query_planning_ms") = med(at("queryPlanning"))
      metrics("streaming.wal_commit_ms") = med(at("walCommit"))
      metrics("streaming.commit_offsets_ms") = med(at("commitOffsets"))
      metrics("streaming.overhead_ms") =
        med(d => at("triggerExecution")(d) - at("addBatch")(d))
      metrics("streaming.commit_jobs") = per(trickle.jobs, trickle.ops)
      metrics("streaming.commit_tasks") = per(trickle.tasks, trickle.ops)
      trickle.jobShapes.foreach { case (shape, n) =>
        mark(f"per small commit: ${per(n, trickle.ops)}%.2f x $shape")
      }
      sparkMetrics(all)
    }
  }

  /** Masking + system columns over the snapshot input, minus the plain
    * scan, both written to the noop sink; medians of three.
    */
  private def maskSeconds(spark: SparkSession, p: Params): Double = {
    val df = Sources.fullTable(spark, s"${p.str("main")}/source/orders")
    def time(d: DataFrame): Double = {
      settle(spark)
      val t0 = System.nanoTime()
      d.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val masked = Metadata.withSystemColumns(
      Masking.applyAll(df, Orders.transformations))
    val (plain, mask) = (0 until 3).map(_ => (time(df), time(masked))).unzip
    median(mask) - median(plain)
  }

  /** The account rows the slot segments `files` carry. */
  private def slotKeys(spark: SparkSession, files: Seq[String]): DataFrame = {
    val parts = split(col("value"), "\t", 2)
    val lines = spark.read.text(files: _*).select(
      parts.getItem(0).cast("long").as("lsn"), parts.getItem(1).as("payload"))
    Wal2Json.decode(lines, "payload", "lsn", "public", "accounts",
      AccountSchema)
  }

  /** Distinct target buckets the `id` keys of `df` fall in. */
  private def touchedBuckets(spark: SparkSession, df: DataFrame): Long =
    df.select(MergeSink.pkBucket(Seq("id"), Buckets)).distinct().count()

  // ---- curate_ops ------------------------------------------------------

  def curate(spark: SparkSession, p: Params, tracer: Tracer): Unit = {
    val in = p.str("main")
    // the warm-up pass writes each result for the oracle comparison
    val out = s"${p.work}/run/curate"
    CurateQueries.foreach { q =>
      SparkEntry.queries(q)(spark, in).write.parquet(s"$out/$q")
      settle(spark)
      mark(s"warm $q")
    }
    outputs("results") = JString(out)
    outputs("oracle_sql") = JObject(CurateQueries.toList.map(q =>
      q -> JString(SparkEntry.oracleSql(q))))
    setupDone(spark)
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    // round-robin passes, so a slow spell of the host hits every query
    (0 until p.int("passes")).foreach { _ =>
      CurateQueries.foreach { q =>
        val (_, s) = tracer.op(s"op:$q") {
          SparkEntry.queries(q)(spark, in)
            .write.format("noop").mode("overwrite").save()
        }
        times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
        attempted += 1
        settle(spark)
      }
    }
    val ops = tracer.total(CurateQueries.map("op:" + _): _*)
    endToEnd(ops.ops * p.size("main_sizes", "documents"), ops)
    if (p.traced) {
      sparkMetrics(ops)
      CurateQueries.foreach { q =>
        val s = tracer.stats(s"op:$q")
        metrics(s"operators.$q.s") = median(times(q).toSeq)
        metrics(s"operators.$q.jobs") = per(s.jobs, s.ops)
        metrics(s"operators.$q.sql_actions") = per(s.sqlActions, s.ops)
        metrics(s"operators.$q.shuffle_bytes") = per(s.shuffleWrite, s.ops)
        metrics(s"operators.$q.executor_cpu_s") = per(s.cpuNs / 1e9, s.ops)
        metrics(s"operators.$q.driver_floor_s") =
          per(s.driverFloorMs / 1e3, s.ops)
      }
    }
  }

  // ---- metric groups ---------------------------------------------------

  /** The end-to-end metrics of every workload: input rows (documents for
    * the curation queries) per second of timed work, and the CPU seconds
    * per timed operation of every thread of the process but the JIT
    * compiler's. JIT work falls from pass to pass for minutes after
    * set-up (on curate_ops from about half of the process's CPU time in
    * the first timed pass to a third in the sixth), so counting it would
    * make the metric follow the JVM's warm-up rather than the program.
    */
  private def endToEnd(rows: Long, s: PhaseStats): Unit = {
    metrics("rows_per_s") = rows / s.wallS
    metrics("cpu_s_per_op") = (s.processCpuS - s.jitCpuS) / s.ops
  }

  /** Every per-layer metric, zero until the workload that moves it sets
    * it: a layer a workload does not exercise reads 0.
    */
  val PerLayer: Seq[String] = Seq(
    "replicate.snapshot_rows_per_s", "replicate.incremental_rows_per_s",
    "replicate.cdc_events_per_s", "replicate.bytes_written_per_change",
    "replicate.trickle_commit_s", "replicate.trickle_bytes_written_per_event",
    "sources.rows_scanned", "sources.files_read", "sources.bytes_read",
    "sources.scan_stage_cpu_s", "transform.mask_s",
    "decode.lines_in", "decode.rows_out", "decode.stage_cpu_s",
    "sink.target_rows_read", "sink.dedup_shuffle_bytes",
    "sink.merge_shuffle_bytes", "sink.rows_written", "sink.files_written",
    "sink.bytes_written", "sink.rewrite_ratio", "sink.touched_buckets",
    "sink.backlog_touched_buckets", "sink.change_touched_buckets",
    "sink.backlog_sql_actions",
    "sink.fs_renames", "sink.fs_deletes", "sink.fs_list_calls",
    "sink.listing_jobs", "planner.run_s", "planner.sql_actions",
    "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.latest_offset_ms", "streaming.get_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.overhead_ms",
    "streaming.commit_jobs", "streaming.commit_tasks",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_s",
    "spark.executor_run_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.peak_exec_mem_mb", "spark.driver_floor_s",
    "jvm.process_cpu_s", "jvm.jit_cpu_s", "jvm.gc_cpu_s",
    "jvm.driver_cpu_s") ++
    CurateQueries.flatMap(q => Seq("s", "jobs", "sql_actions",
      "shuffle_bytes", "executor_cpu_s", "driver_floor_s")
      .map(m => s"operators.$q.$m")) :+ "host.canary_s"

  private def sparkMetrics(s: PhaseStats): Unit = {
    metrics("spark.jobs") = per(s.jobs, s.ops)
    metrics("spark.stages") = per(s.stages, s.ops)
    metrics("spark.tasks") = per(s.tasks, s.ops)
    metrics("spark.executor_cpu_s") = per(s.cpuNs / 1e9, s.ops)
    metrics("spark.executor_run_s") = per(s.runMs / 1e3, s.ops)
    metrics("spark.gc_s") = per(s.gcMs / 1e3, s.ops)
    metrics("spark.shuffle_write_bytes") = per(s.shuffleWrite, s.ops)
    metrics("spark.spill_bytes") = per(s.spill, s.ops)
    metrics("spark.peak_exec_mem_mb") = s.peakMem / 1048576.0
    metrics("spark.driver_floor_s") = per(s.driverFloorMs / 1e3, s.ops)
    // where the process's CPU time goes: Spark tasks, JIT compilation,
    // garbage collection, and the rest (driver-side threads: planning,
    // scheduling, streaming, listeners; and threads that have ended)
    metrics("jvm.process_cpu_s") = per(s.processCpuS, s.ops)
    metrics("jvm.jit_cpu_s") = per(s.jitCpuS, s.ops)
    metrics("jvm.gc_cpu_s") = per(s.gcCpuS, s.ops)
    metrics("jvm.driver_cpu_s") = per(s.processCpuS - s.cpuNs / 1e9 -
      s.jitCpuS - s.gcCpuS, s.ops)
  }
}
