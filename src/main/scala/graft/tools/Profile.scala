package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graftbridge.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

/** Profiler for one registry query, a development tool.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query> [plan|executed|jobs]
  *
  *  - `plan` (default): the formatted physical plan the planner intends.
  *  - `executed`: a cold pass (planning, codegen), then a timed steady
  *    pass through the noop sink; prints the operator counts of the
  *    plans that pass EXECUTED (post-AQE, summed over its SQL actions)
  *    and its wall time.
  *  - `jobs`: the same two passes; prints every Spark stage and job of
  *    the steady pass, then every SQL action's executed plan with its
  *    operator counts. A composed operator's eager boundaries
  *    (`Dedup.releaseAfter`'s localCheckpoint, Observations) are actions
  *    of their own, so this shows the stage plans they ran, which the
  *    final plan (a checkpoint scan) hides.
  *
  * The listener bus is drained before and after the steady pass, so
  * every event printed belongs to it.
  */
object Profile {

  private val Modes = Seq("plan", "executed", "jobs")

  def main(args: Array[String]): Unit = {
    val mode = if (args.length > 2) args(2) else "plan"
    if (args.length < 2 || args.length > 3 || !Modes.contains(mode) ||
        !graft.SparkEntry.queries.contains(args(1))) {
      System.err.println("usage: graft.tools.Profile <sfDir> <query> " +
        "[plan|executed|jobs]  (query: a graft.SparkEntry.queries name)")
      sys.exit(2)
    }
    val spark = graft.Sessions.start(
      graft.Sessions.builder().appName("graft-profile"))
    try run(spark, args(0), args(1), mode, println)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, name: String, mode: String,
          out: String => Unit): Unit = {
    val query = () => graft.SparkEntry.queries(name)(spark, sfDir)
    mode match {
      case "plan" =>
        out(s"===== $name =====")
        val df = query()
        if (df.queryExecution.executedPlan.toString.contains("ExistingRDD"))
          out("NOTE: query materializes eagerly (releaseAfter " +
            "localCheckpoint); the plan below only scans the checkpoint - " +
            "the `jobs` mode shows the stage plans that built it")
        out(df.queryExecution.explainString(FormattedMode))
      case "executed" =>
        val (secs, actions) = steadyPass(spark, query, None)
        val total = Operators.map { case (k, _) =>
          k -> actions.map(a => counts(a._3)(k)).sum }.toMap
        out(s"[executed] $name actions=${actions.size} ${show(total)}" +
          f" steady_sec=$secs%.3f")
      case "jobs" =>
        val lines = ArrayBuffer.empty[String]
        var taskMs = 0L
        val listener = new SparkListener {
          private val started =
            scala.collection.mutable.Map.empty[Int, Long]
          override def onJobStart(e: SparkListenerJobStart): Unit =
            started(e.jobId) = e.time
          override def onStageCompleted(e: SparkListenerStageCompleted)
              : Unit = {
            val si = e.stageInfo
            val wall = (for (s <- si.submissionTime; c <- si.completionTime)
              yield (c - s) / 1e3).getOrElse(-1.0)
            taskMs += si.taskMetrics.executorRunTime
            lines += f"[stage] id=${si.stageId}%4d wall=$wall%7.3fs tasks=${
              si.numTasks}%3d run=${si.taskMetrics.executorRunTime / 1e3}%7.2fs ${
              si.name.take(90)}"
          }
          override def onJobEnd(e: SparkListenerJobEnd): Unit =
            started.remove(e.jobId).foreach { t0 =>
              lines += f"[job] id=${e.jobId}%4d wall=${
                (e.time - t0) / 1e3}%7.3fs"
            }
        }
        val (secs, actions) = steadyPass(spark, query, Some(listener))
        lines.foreach(out)
        actions.foreach { case (func, ns, plan) =>
          out(f"[action] $func wall=${ns / 1e9}%7.3fs ${show(counts(plan))}")
          out(plan.toString)
        }
        out(f"[pass] $name wall=$secs%7.3fs taskTime=${taskMs / 1e3}%8.2fs")
    }
  }

  /** Executed-plan operators counted by `executed` and `jobs`, by node
    * name (`exchanges` counts shuffle, broadcast and reused exchanges).
    */
  private val Operators: Seq[(String, String => Boolean)] = Seq(
    "scans" -> (_.startsWith("Scan parquet")),
    "exchanges" -> (_.endsWith("Exchange")),
    "reused" -> (_ == "ReusedExchange"),
    "inmem" -> (_ == "InMemoryTableScan"),
    "bhj" -> (_ == "BroadcastHashJoin"),
    "smj" -> (_ == "SortMergeJoin"),
    "window" -> (_ == "Window"))

  /** Every node of an executed plan: of an adaptive plan only the final
    * one (its printed form repeats the initial plan, which would count
    * each operator twice), the plans inside its query stages, the plans
    * behind in-memory scans and subqueries.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def counts(plan: SparkPlan): Map[String, Int] = {
    val names = nodes(plan).map(_.nodeName)
    Operators.map { case (k, is) => k -> names.count(is) }.toMap
  }

  private def show(counts: Map[String, Int]): String =
    Operators.map { case (k, _) => s"$k=${counts(k)}" }.mkString(" ")

  /** Runs the query through the noop sink twice, a cold pass and then a
    * steady one, and returns the steady pass's wall seconds and the
    * (action, duration ns, executed plan) of every SQL action it ran.
    * `listener` hears the steady pass only.
    */
  private def steadyPass(spark: SparkSession, query: () => DataFrame,
                         listener: Option[SparkListener])
      : (Double, Seq[(String, Long, SparkPlan)]) = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      query().write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      secs
    }
    pass()
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val actions = ArrayBuffer.empty[(String, Long, SparkPlan)]
    val qel = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution,
                             ns: Long): Unit =
        actions += ((func, ns, qe.executedPlan))
      override def onFailure(func: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    listener.foreach(sc.addSparkListener)
    try {
      val secs = pass()
      ListenerBus.drain(sc)
      (secs, actions.toSeq)
    } finally {
      spark.listenerManager.unregister(qel)
      listener.foreach(sc.removeSparkListener)
    }
  }
}
