package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What one phase of a workload did, summed over its operations. */
final class PhaseStats {
  var ops = 0L
  var wallS = 0.0
  /** CPU time of the whole process (every thread), in seconds. */
  var processCpuS = 0.0
  /** CPU time of the JVM's JIT-compiler and GC threads, in seconds. */
  var jitCpuS, gcCpuS = 0.0
  var sqlActions = 0L
  // Spark runtime, from the SparkListener (traced runs only)
  var jobs, stages, tasks, listingJobs = 0L
  var cpuNs, runMs, gcMs, shuffleWrite, spill, peakMem = 0L
  var scanStageCpuNs, decodeStageCpuNs = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  // SQL metrics of executed plans, from the QueryExecutionListener
  var sourceRows, sourceFiles, sourceBytes, targetRows = 0L
  var walLines, decodeRows = 0L
  var dedupShuffle, mergeShuffle = 0L
  var writeRows, writeFiles, writeBytes = 0L
  // filesystem calls under the target root (traced runs only)
  var fsRenames, fsDeletes, fsLists = 0L
  /** Jobs by kind and task count, e.g. "listing job of 64 tasks". */
  val jobShapes = mutable.TreeMap.empty[String, Long]

  /** Wall time not covered by any running stage, in ms. */
  def driverFloorMs: Long = {
    var covered, end = 0L
    var start = Long.MinValue
    stageSpans.sortBy(_._1).foreach { case (s, e) =>
      if (start == Long.MinValue || s > end) {
        if (start != Long.MinValue) covered += end - start
        start = s; end = e
      } else end = math.max(end, e)
    }
    if (start != Long.MinValue) covered += end - start
    math.max(0L, (wallS * 1e3).toLong - covered)
  }

  def +=(o: PhaseStats): Unit = {
    ops += o.ops; wallS += o.wallS; processCpuS += o.processCpuS
    jitCpuS += o.jitCpuS; gcCpuS += o.gcCpuS
    sqlActions += o.sqlActions
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    listingJobs += o.listingJobs; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem)
    scanStageCpuNs += o.scanStageCpuNs
    decodeStageCpuNs += o.decodeStageCpuNs
    stageSpans ++= o.stageSpans
    sourceRows += o.sourceRows; sourceFiles += o.sourceFiles
    sourceBytes += o.sourceBytes; targetRows += o.targetRows
    walLines += o.walLines; decodeRows += o.decodeRows
    dedupShuffle += o.dedupShuffle; mergeShuffle += o.mergeShuffle
    writeRows += o.writeRows; writeFiles += o.writeFiles
    writeBytes += o.writeBytes
    fsRenames += o.fsRenames; fsDeletes += o.fsDeletes; fsLists += o.fsLists
  }
}

/** Attributes everything the program does to named phases, measured from
  * outside it: wall and CPU time always, and, when `traced`, the SQL
  * metrics of each executed plan, task and stage metrics, and filesystem
  * call counts. Events arrive asynchronously, so every phase boundary
  * first drains the listener bus.
  */
final class Tracer(spark: SparkSession, traced: Boolean) {
  val phases = mutable.LinkedHashMap.empty[String, PhaseStats]
  private val idle = new PhaseStats
  @volatile private var current = idle
  private val seenMetrics = mutable.Set.empty[Long]

  def stats(name: String): PhaseStats =
    phases.getOrElseUpdate(name, new PhaseStats)

  def total(names: String*): PhaseStats = {
    val t = new PhaseStats
    names.flatMap(phases.get).foreach(t += _)
    t
  }

  /** Run `body` as one operation of phase `name`; returns its result and
    * its wall time in seconds.
    */
  def op[T](name: String, ops: Int = 1)(body: => T): (T, Double) = {
    PerfbenchBus.drain(spark.sparkContext)
    val st = stats(name)
    val fs0 = CountingLocalFileSystem.snapshot()
    current = st
    val (jit0, gc0) = Tracer.vmThreadCpuS()
    val cpu0 = Tracer.processCpuNs()
    val t0 = System.nanoTime()
    val out = body
    val secs = (System.nanoTime() - t0) / 1e9
    st.processCpuS += (Tracer.processCpuNs() - cpu0) / 1e9
    val (jit1, gc1) = Tracer.vmThreadCpuS()
    st.jitCpuS += jit1 - jit0
    st.gcCpuS += gc1 - gc0
    if (traced) System.err.println(f"[perfbench] op $name: wall $secs%.2f s" +
      f", process CPU ${(Tracer.processCpuNs() - cpu0) / 1e9}%.2f s" +
      f", JIT ${jit1 - jit0}%.2f s, GC ${gc1 - gc0}%.2f s")
    st.wallS += secs
    st.ops += ops
    PerfbenchBus.drain(spark.sparkContext)
    current = idle
    val fs1 = CountingLocalFileSystem.snapshot()
    st.fsRenames += fs1._1 - fs0._1
    st.fsDeletes += fs1._2 - fs0._2
    st.fsLists += fs1._3 - fs0._3
    (out, secs)
  }

  if (traced) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val st = current
      if (st ne idle) {
        st.sqlActions += 1
        walk(qe.executedPlan, "none", st)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  })

  if (traced) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val st = current
      if (st ne idle) {
        st.jobs += 1
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        val listing = desc.exists(_.startsWith("Listing leaf files"))
        if (listing) st.listingJobs += 1
        val shape = (if (listing) "listing job" else "job") +
          s" of ${e.stageInfos.map(_.numTasks).sum} tasks"
        st.jobShapes(shape) = st.jobShapes.getOrElse(shape, 0L) + 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = current
      if (st ne idle) {
        val si = e.stageInfo
        val m = si.taskMetrics
        st.stages += 1
        st.tasks += si.numTasks
        if (m != null) {
          st.cpuNs += m.executorCpuTime
          st.runMs += m.executorRunTime
          st.gcMs += m.jvmGCTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          val rdds = si.rddInfos.map(_.name)
          if (rdds.contains("FileScanRDD")) st.scanStageCpuNs += m.executorCpuTime
          if (rdds.contains("DataSourceRDD"))
            st.decodeStageCpuNs += m.executorCpuTime
        }
        for (s <- si.submissionTime; c <- si.completionTime)
          st.stageSpans += ((s, c))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = current
      if ((st ne idle) && e.taskMetrics != null)
        st.peakMem = math.max(st.peakMem, e.taskMetrics.peakExecutionMemory)
    }
  })

  private def value(p: SparkPlan, name: String): Long =
    p.metrics.get(name).filter(m => seenMetrics.add(m.id)).map(_.value)
      .getOrElse(0L)


  /** Walk an executed plan (through adaptive stages and cached relations)
    * and add its SQL metrics to `st`. `ctx` names the nearest ancestor
    * that gives a shuffle its purpose: the dedup window, or the merge
    * join and layout write. Each metric is counted once, however many
    * plans share it.
    */
  private def walk(p: SparkPlan, ctx: String, st: PhaseStats): Unit =
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, ctx, st)
      case q: QueryStageExec => walk(q.plan, ctx, st)
      case _: ReusedExchangeExec => ()
      case m: InMemoryTableScanExec =>
        walk(m.relation.cachedPlan, ctx, st)
      case _ =>
        p match {
          case s: FileSourceScanExec =>
            // the benchmark lays sources out under `source/` directories
            // and targets under `target/` ones
            val roots = s.relation.location.rootPaths.map(_.toUri.getPath)
            if (roots.exists(_.contains("/source/"))) {
              st.sourceRows += value(s, "numOutputRows")
              st.sourceFiles += value(s, "numFiles")
              st.sourceBytes += value(s, "filesSize")
            } else if (roots.exists(_.contains("/target/")))
              st.targetRows += value(s, "numOutputRows")
          // a micro-batch's decoded rows enter the sink's plans as an
          // existing RDD
          case r: RDDScanExec => st.decodeRows += value(r, "numOutputRows")
          case e: ShuffleExchangeExec =>
            val b = value(e, "shuffleBytesWritten")
            if (ctx == "dedup") st.dedupShuffle += b
            else if (ctx == "merge") st.mergeShuffle += b
          case w: DataWritingCommandExec =>
            st.writeRows += value(w, "numOutputRows")
            st.writeFiles += value(w, "numFiles")
            st.writeBytes += value(w, "numOutputBytes")
          case _ =>
        }
        val childCtx = p match {
          case _: WindowExec => "dedup"
          case _: SortMergeJoinExec | _: ShuffledHashJoinExec |
               _: BroadcastHashJoinExec | _: DataWritingCommandExec => "merge"
          case _ => ctx
        }
        p.children.foreach(walk(_, childCtx, st))
    }
}

object Tracer {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  /** Linux's USER_HZ, the unit of the CPU times in /proc. */
  private val ClockTicks = 100.0

  /** CPU seconds used so far by this process's JIT-compiler threads (and
    * the code-cache sweeper) and by its GC threads (and the VM thread,
    * which runs the pauses), read from /proc/self/task; zeros where that
    * is missing. The JVM runs with a fixed set of compiler threads, so
    * none of these threads ends and takes its count with it.
    */
  def vmThreadCpuS(): (Double, Double) = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    var jit, gc = 0L
    if (tasks != null) tasks.foreach { t =>
      try {
        val comm = read(new java.io.File(t, "comm")).trim
        val isJit = comm.contains("CompilerThre") || comm == "Sweeper thread"
        val isGc = comm.startsWith("GC Thread") || comm.startsWith("G1 ") ||
          comm == "VM Thread"
        if (isJit || isGc) {
          val stat = read(new java.io.File(t, "stat"))
          // fields after the parenthesised name; utime and stime are the
          // 14th and 15th of the line
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          val ticks = f(11).toLong + f(12).toLong
          if (isJit) jit += ticks else gc += ticks
        }
      } catch { case _: java.io.IOException => () } // thread just ended
    }
    (jit / ClockTicks, gc / ClockTicks)
  }

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** A fixed single-threaded integer loop: its time tracks host speed. */
  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }
}
