package graft.tools

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpecBase

/** Each `graft.tools.Profile` mode prints its marker lines. */
class ProfileSpec extends SparkSpecBase {

  private def profile(mode: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    Profile.run(spark, sfDir, "q1_pricing_summary", mode, out += _)
    out.toSeq.flatMap(_.split("\n"))
  }

  test("plan: the formatted physical plan") {
    val lines = profile("plan")
    assert(lines.head == "===== q1_pricing_summary =====")
    assert(lines.contains("== Physical Plan =="), lines.mkString("\n"))
    assert(lines.exists(_.contains("Scan parquet")))
  }

  test("executed: operator counts of the steady pass's plans") {
    val lines = profile("executed")
    val summary = lines.filter(_.startsWith("[executed] "))
    assert(summary.size == 1, lines.mkString("\n"))
    val fields = summary.head.split(" ").drop(2).map { kv =>
      val Array(k, v) = kv.split("="); k -> v }.toMap
    assert(fields("actions").toInt >= 1)
    // q1 reads lineitem once: AQE's printed plan repeats its initial
    // plan, and counting that too would read 2
    assert(fields("scans") == "1", summary.head)
    assert(fields("steady_sec").toDouble > 0)
  }

  test("jobs: the steady pass's stages, jobs and actions") {
    val lines = profile("jobs")
    val all = lines.mkString("\n")
    assert(lines.exists(_.startsWith("[stage] ")), all)
    assert(lines.exists(_.startsWith("[job] ")), all)
    assert(lines.exists(_.startsWith("[action] ")), all)
    assert(lines.exists(_.contains("AdaptiveSparkPlan isFinalPlan=true")),
      all)
    assert(lines.last.startsWith("[pass] q1_pricing_summary wall="), all)
  }
}
