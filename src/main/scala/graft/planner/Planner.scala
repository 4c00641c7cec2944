package graft.planner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JValue, JLong, JInt, JString, JDouble, JDecimal}
import graft.spec._
import graft.state.Bookmarks
import graft.sources.Sources
import graft.sink.MergeSink
import graft.transform.{Masking, Metadata}
import scala.jdk.CollectionConverters._

/** Stream router — the engine's `run_tap` (pipelinewise.py:1149-1316).
  *
  * Reproduces the snapshot-vs-incremental planning rule
  * (`create_filtered_tap_properties` pipelinewise.py:171-367,
  * `_is_initial_sync_required` :2010-2046):
  *   - no bookmark for the stream  -> full snapshot (FastSync analogue)
  *   - bookmark present            -> incremental with pushed predicate
  *   - LOG_BASED                   -> Structured Streaming query
  *     (graft.streaming.StreamingMerge); batch fallback applies the
  *     change-log with last-write-wins semantics.
  *
  * Each plan ends in an idempotent PK merge + atomic publish, so replayed
  * batches (at-least-once delivery) converge — the same guarantee the
  * reference gets from PK dedup + MERGE.
  */
object Planner {

  sealed trait SyncPlan
  case object InitialSnapshot extends SyncPlan
  final case class IncrementalFrom(bookmark: JValue) extends SyncPlan
  case object StreamingCdc extends SyncPlan

  def plan(stream: StreamSpec, state: Bookmarks): SyncPlan =
    stream.replicationMethod match {
      case ReplicationMethod.LogBased => StreamingCdc
      case ReplicationMethod.FullTable => InitialSnapshot
      case ReplicationMethod.Incremental =>
        state.replicationKeyValue(stream.name) match {
          case Some(b) => IncrementalFrom(b)
          case None    => InitialSnapshot
        }
    }

  private def jvalueToAny(j: JValue): Any = j match {
    case JLong(v)    => v
    case JInt(v)     => v.toLong
    case JDouble(v)  => v
    case JDecimal(v) => v
    case JString(v)  => v
    case other       => other.toString
  }

  /** Run one batch sync of one stream from a parquet source dir into the
    * pipeline's target dir; returns the updated state.
    */
  private def runStream(spark: SparkSession, pipeline: PipelineSpec,
                        stream: StreamSpec, sourcePath: String,
                        state: Bookmarks): Bookmarks = {
    stream.validate()
    val scanned = plan(stream, state) match {
      case IncrementalFrom(b) =>
        Sources.incremental(spark, sourcePath,
          stream.replicationKey.get, Some(jvalueToAny(b)))
      // snapshot, or the LOG_BASED batch fallback: the source read as an
      // accumulated change log
      case _ => Sources.fullTable(spark, sourcePath)
    }
    // single-pass bookmark capture: max(replication_key) rides the merge
    // scan as an observed metric instead of a second full scan of the
    // source (Dataset.observe -> CollectMetrics; at 100 TB the saved scan
    // is the whole table)
    val observation = stream.replicationKey
      .map(k => k -> org.apache.spark.sql.Observation())
    load(spark, pipeline, stream, observation.fold(scanned) {
      case (k, obs) => scanned.observe(obs, max(col(k)).as("__max_rk"))
    }, replace = stream.replicationMethod == ReplicationMethod.FullTable)
    // read the observed max captured during the load's action — NOT
    // Sources.nextBookmark, which would scan the source again
    observation.flatMap { case (k, obs) =>
      Option(obs.get.getOrElse("__max_rk", null)).map(k -> _)
    }.fold(state) { case (k, v) =>
      val jv: JValue = v match {
        case l: Long => JLong(l)
        case i: Int => JLong(i.toLong)
        case d: Double => JDouble(d)
        case s: String => JString(s)
        case ts: java.sql.Timestamp => JString(ts.toString)
        case dt: java.sql.Date => JString(dt.toString)
        case other => JString(String.valueOf(other))
      }
      state.updated(stream.name, Map(
        "replication_key" -> JString(k), "replication_key_value" -> jv))
    }
  }

  /** Ranged re-sync of one stream (`partial_sync_table`,
    * pipelinewise.py:1723-1867): the source rows with `column` in
    * [start, end] go through the stream's load step and are merged into
    * the target — never a replace — and the bookmark is left as it is.
    */
  def partialSync(spark: SparkSession, pipeline: PipelineSpec,
                  stream: StreamSpec, sourcePath: String, column: String,
                  start: String, end: String): Unit = {
    stream.validate()
    load(spark, pipeline, stream, Sources.fullTable(spark, sourcePath)
      .filter(col(column).between(start, end)), replace = false)
  }

  /** The one load step every plan ends in: column selection, masking and
    * system columns on whatever was scanned, then the sink. `replace` is
    * ACTIVATE_VERSION semantics: a full-table (re)sync REPLACES the table
    * via atomic staged swap — stale rows from prior versions are dropped
    * (tap full_table.py:98-103; fastsync's SWAP WITH). Otherwise keyed
    * streams take the partitioned incremental path — per-flush I/O is
    * proportional to the batch's key spread, not the target size (the
    * 100 TB steady-state merge) — and no-PK streams append.
    */
  private def load(spark: SparkSession, pipeline: PipelineSpec,
                   stream: StreamSpec, scanned: DataFrame,
                   replace: Boolean): Unit = {
    val selected = stream.selectedColumns
      .fold(scanned)(cs => scanned.select(cs.map(col): _*))
    val rows = Metadata.withSystemColumns(
      Masking.applyAll(selected, stream.transformations))
    val pks = stream.keyProperties
    val orderCol = stream.replicationKey.getOrElse(Metadata.ExtractedAt)
    val tablePath = s"${pipeline.targetPath}/${stream.table}"
    if (replace)
      MergeSink.publish(
        if (pks.nonEmpty) MergeSink.dedupLastWins(rows, pks, orderCol)
        else rows, tablePath)
    else if (pks.nonEmpty)
      MergeSink.flushPartitioned(spark, rows, tablePath, pks, orderCol,
        pipeline.targetPartitions, pipeline.hardDelete)
    else
      MergeSink.flush(spark, rows, tablePath, pks, orderCol,
        pipeline.hardDelete)
  }

  /** Stop-marker path for a pipeline: `stop_tap` writes it and every
    * stream checks it before it starts (the reference SIGTERMs the tap
    * process; our unit of graceful interruption is the stream boundary,
    * where state is consistent).
    */
  def stopMarkerPath(pipeline: PipelineSpec): String =
    pipeline.statePath + ".stop"

  /** Run all selected streams, `parallelism` at a time. Parallel per-table
    * sync is the FastSync process pool (mysql_to_snowflake.py:225-233,
    * pool = min(config, cpu_count)) as concurrent Spark jobs on the
    * driver: each stream's job graph is submitted from its own thread and
    * the scheduler interleaves their tasks. Pool threads start from the
    * calling thread, so they inherit its Spark local properties.
    *
    * Every stream runs the same body: stop-marker check, status log, the
    * sync with its errors isolated, then its bookmark merged into the
    * shared state under one lock and offered to the throttled writer
    * (the reference throttles state writes; per-stream granularity is our
    * micro-batch commit cadence). The state is flushed and saved once
    * after the last stream.
    */
  def run(spark: SparkSession, pipeline: PipelineSpec,
          sourcePathFor: String => String,
          onError: (String, Throwable) => Unit = defaultAlert,
          logDir: Option[String] = None,
          parallelism: Int = 1): Bookmarks = {
    val stateLock = new Object
    var state = Bookmarks.load(pipeline.statePath)
    val writer = new Bookmarks.ThrottledWriter(pipeline.statePath)
    val stopMarker = java.nio.file.Paths.get(stopMarkerPath(pipeline))
    java.nio.file.Files.deleteIfExists(stopMarker)
    def runOne(s: StreamSpec): Unit =
      if (!java.nio.file.Files.exists(stopMarker)) {
        // log/alert IO must NEVER abort replication: a full disk or a
        // throwing alert handler still leaves the loop running, the state
        // flushed, and the remaining streams synced
        def quietly(what: String)(body: => Unit): Unit =
          try body catch { case e: Throwable =>
            System.err.println(s"[graft] $what failed: ${e.getMessage}") }
        var log: Option[StreamLog] = None
        quietly("stream log init") {
          log = logDir.map(new StreamLog(_, pipeline.id, s.name))
        }
        try {
          val synced = runStream(spark, pipeline, s, sourcePathFor(s.table),
            stateLock.synchronized(state))
          stateLock.synchronized {
            synced.get(s.name).foreach(v => state = state.updated(s.name, v))
            writer.offer(state)
          }
          quietly("stream log")(log.foreach(_.success()))
        } catch {
          // a failed stream alerts and is skipped; the run continues and
          // its bookmark is untouched, so the next run retries it
          // (reference: send_alert + .failed log, pipelinewise.py:120,
          // commands.py:532-543)
          case e: Throwable =>
            quietly("stream log")(log.foreach(_.fail(e)))
            quietly("alert dispatch")(onError(s.name, e))
        }
      }
    val threads = math.min(parallelism, pipeline.streams.size)
    if (threads <= 1) pipeline.streams.foreach(runOne)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val tasks: Seq[java.util.concurrent.Callable[Unit]] =
        pipeline.streams.map(s => () => runOne(s))
      try pool.invokeAll(tasks.asJava) finally pool.shutdown()
    }
    writer.flush()
    state.save(pipeline.statePath)
    state
  }

  /** Per-stream log-file status lifecycle, mirroring the reference's
    * `log_file_with_status` naming and rename dance (commands.py:472-546):
    * the log is written as `<name>.log.running` and renamed to
    * `.log.success` / `.log.failed` when the stream finishes — the file
    * EXTENSION is the stream's status, so `ls *.failed` is the triage
    * surface and a crash leaves `.running` behind as evidence.
    */
  private final class StreamLog(dir: String, pipeline: String,
                                stream: String) {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    private val base = s"$dir/$pipeline-$stream.log"
    private val running = Paths.get(base + ".running")
    Files.createDirectories(Paths.get(dir))
    Files.deleteIfExists(running)
    append(s"stream=$stream start=${System.currentTimeMillis()}\n")

    private def append(line: String): Unit =
      Files.write(running, line.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)

    private def finish(status: String): Unit =
      Files.move(running, Paths.get(base + "." + status),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

    def success(): Unit = { append("status=success\n"); finish("success") }

    def fail(e: Throwable): Unit = {
      append(s"status=failed error=${e.getMessage}\n")
      finish("failed")
    }
  }

  private def defaultAlert(stream: String, e: Throwable): Unit =
    System.err.println(s"[graft-alert] stream $stream failed: ${e.getMessage}")
}
