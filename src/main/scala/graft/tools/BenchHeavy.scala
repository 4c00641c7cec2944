package graft.tools

/** Spot-bench an arbitrary subset of the registry queries against an
  * arbitrary fixture dir — the [[graft.Bench]] measurement protocol
  * (cold pass excluded, per-query medians, contention detection)
  * without the fixed headline list, for scale soaks over
  * [[ScaleUp]]-generated fixtures.
  *
  * Usage: runMain graft.tools.BenchHeavy <sfDir> <q1,q2,...> [iters]
  */
object BenchHeavy {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BenchHeavy <sfDir> <query,query,...> [iters]")
    // "headline" expands to the full graft.Bench headline set — the
    // r16 full-factor-10 anchor run (BASELINE.md) uses it
    val (sfDir, names) = (args(0),
      if (args(1) == "headline") graft.SparkEntry.benchQueries
      else args(1).split(",").toSeq)
    val iters = if (args.length > 2) args(2).toInt else 3
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): " +
      unknown.mkString(", "))
    // A/B knob for the forced-vs-adaptive comparison: a huge threshold
    // makes the planner broadcast the SF-scaling join sides the r14
    // hint audit stopped hinting — approximating the pre-audit plans
    // so their scale behavior can be measured instead of argued
    val autoBroadcast =
      sys.env.getOrElse("SPARK_GRAFT_AUTOBROADCAST", "10485760")
    val spark = graft.Sessions.start(
      graft.Sessions.builder().appName("graft-bench-heavy"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autoBroadcast)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
      autoBroadcast)
    val (json, summary, failed) = graft.Bench.run(spark, sfDir, iters,
      names, graft.SparkEntry.queries)
    println(json)
    spark.stop()
    println(summary)
    if (failed.nonEmpty) {
      System.err.println(s"bench-heavy failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
