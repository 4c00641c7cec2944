package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR,
  * prints ONE compact JSON line {"metric":...,"queries":{...}} on
  * stdout (sized to survive the harness's 2 KB stdout-tail capture with
  * every per-query median intact) AND writes the same JSON plus the
  * prose methodology note to SPARK_GRAFT_BENCH_OUT (default
  * /root/repo/bench_out.json) so the full record survives log-prefix
  * mangling.
  *
  * Measurement: one cold pass (plan + janino codegen compile — excluded),
  * then SPARK_GRAFT_BENCH_ITERS (default 3) steady-state passes; the
  * reported per-query number is the lower-middle pass by wall — the
  * median at the default odd iteration count, and always a REAL pass
  * (single runs on sub-second queries carry ±40% scheduler noise).
  * Every pass is preceded by a host-speed canary (BenchEnv.canary);
  * `queries_canary_units` divides each number of record by its own
  * pass's all-cores canary wall, yielding values that hold across the
  * hypervisor speed bands that runq-wait cannot see.
  *
  * Honesty guards: a query that throws during ANY pass is recorded in the
  * JSON's `"failed"` list and the process exits non-zero — a broken query
  * must fail the run, not read as a ~0 s entry. `"methodology_version": 2`
  * marks the r8+ accounting (cache cleared between queries, each run pays
  * its own persists); version 1 (<= r7) let steady-state passes reuse
  * pass-1 InMemoryRelations, so per-query numbers across versions are NOT
  * comparable and diffing tools should refuse the comparison.
  */
object Bench {

  /** One full measurement run. Returns (json, summaryJson, failedQueryNames).
    * `json` is the full compact record (every per-query median); `summary`
    * is a small bounded-size line main prints LAST so the harness's 2 KB
    * stdout-tail capture always ends with one complete parseable JSON
    * object (r14's 50-query full line outgrew the tail and the artifact
    * of record carried parsed:null — the total had to be reconstructed by
    * hand). Factored out of main so a spec can prove a deliberately-broken
    * query lands in `failed` without the spec JVM being `sys.exit`ed.
    */
  def run(spark: SparkSession, sfDir: String, iters: Int,
          names: Seq[String],
          queries: Map[String, (SparkSession, String) => DataFrame])
      : (String, String, Seq[String]) = {
    val failed = scala.collection.mutable.LinkedHashSet[String]()

    // per-query env snapshots (wall/cpu/runq-wait) so a single-query
    // host burst is attributable from the artifact alone — BENCH_r18's
    // 86 s cdc_wal2json reading needed a manual judge re-run because
    // the env block proved contention per PASS but not per QUERY
    def once(name: String): BenchEnv.PassEnv = {
      val fn = queries(name)
      val (_, env) = BenchEnv.measurePass {
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch { case e: Throwable =>
          System.err.println(s"bench: $name FAILED: ${e.getMessage}")
          failed += name
        }
      }
      // drop datasets the query persisted: each invocation re-persists
      // fresh RDDs, so 4 passes x 23 queries would otherwise pile ~90
      // leftover cached datasets into executor storage and skew the
      // later, memory-sensitive measurements (GC + eviction pressure);
      // outside the measured window, as before
      spark.catalog.clearCache()
      env
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    // machine-context guard: each pass is wrapped in a wall/CPU/
    // runqueue-wait snapshot so a run on a contended sandbox carries a
    // machine-readable "contended": true instead of reading as a code
    // regression (the r9 lesson — see BASELINE.md). Since r20 every
    // pass is additionally preceded by a host-speed canary (fixed
    // CPU-bound work, 1-thread + all-cores): hypervisor frequency /
    // steal bands are invisible to runq-wait (three consecutive BENCH
    // artifacts needed a manual judge control-run), but they inflate
    // the canary wall in exact proportion, so the artifact itself now
    // carries the rescale factor.
    val loadBefore = BenchEnv.loadavg()
    val coldCanary = BenchEnv.canary()
    val (cold, coldEnv) = BenchEnv.measurePass(names.map(n => n -> once(n)))
    val measured = (1 to math.max(1, iters)).map { _ =>
      val c = BenchEnv.canary()
      val (p, e) = BenchEnv.measurePass(names.map(n => n -> once(n)).toMap)
      (p, e, c)
    }
    val loadAfter = BenchEnv.loadavg()
    val passes = measured.map(_._1)
    val passEnvs = coldEnv +: measured.map(_._2)
    val canaries = coldCanary +: measured.map(_._3)
    // The number of record per query is the LOWER-MIDDLE measured pass
    // by wall — a real pass, never an interpolated value — so
    // queries.<name>, query_env.<name>.wall_sec and the normalized
    // number all describe the SAME measurement (pre-r20, an even
    // SPARK_GRAFT_BENCH_ITERS made the reported median an interpolation
    // that matched no pass and disagreed with its own env row). With
    // the default odd iters the value is identical to the old median.
    val recIdx = names.map { n =>
      n -> passes.indices.sortBy(i => passes(i)(n).wallSec)
        .apply((passes.size - 1) / 2)
    }.toMap
    val qEnv = names.map(n => n -> passes(recIdx(n))(n)).toMap
    val med = names.map(n => n -> passes(recIdx(n))(n).wallSec)
    // canary-normalized number of record: wall over the SAME pass's
    // all-cores canary wall — dimensionless "canary units" that hold
    // across host-speed bands (raw medians inflate with the band, the
    // ratio does not). canaries(i+1) belongs to measured pass i.
    val qNorm = names.map { n =>
      val i = recIdx(n)
      n -> passes(i)(n).wallSec / canaries(i + 1).mtSec
    }
    val qs = med.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val qsNorm = qNorm.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = med.map(_._2).sum
    val coldTotal = cold.map(_._2.wallSec).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qEnvJson = names.map(n =>
        "\"" + n + "\":" + BenchEnv.queryJson(qEnv(n)))
      .mkString("{", ",", "}")
    val contendedQueries = names.filter(n => BenchEnv.burst(qEnv(n)))
    val contendedQueriesJson = contendedQueries
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val canaryJson =
      s"""{"passes":${canaries.map(_.json).mkString("[", ",", "]")},""" +
        f""""median_mt_sec":${median(canaries.drop(1).map(_.mtSec))}%.4f,""" +
        f""""median_one_thread_sec":${
          median(canaries.drop(1).map(_.oneThreadSec))}%.4f}"""
    val envJson = BenchEnv.runJson(passEnvs, loadBefore, loadAfter)
    // stdout gets the COMPACT line: the harness captures only the last
    // 2 KB of stdout, and a line longer than that loses its head and
    // becomes unparseable (r12's artifact carried parsed:null for
    // exactly this reason). The prose methodology note rides only the
    // full-file variant (see main); the compact line keeps every
    // per-query median, the failed list, and the env block.
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"queries_canary_units":$qsNorm,"canary":$canaryJson,"sf":"$sfDir","cold_total_sec":$coldTotal%.3f,"iterations":${passes.size},"methodology_version":2,"median_convention":"lower_middle_pass","methodology_notes":$MethodologyNotesJson,"failed":$failedJson,"query_env":$qEnvJson,"contended_queries":$contendedQueriesJson,"env":$envJson}"""
    // Bounded-size summary, printed LAST by main: headline scalars, the
    // contention verdict, and the top-5 heaviest queries. The full
    // per-query map lives in `json` (line 1 of stdout and the on-disk
    // bench_out.json); this line stays well under the harness's 2 KB
    // tail capture no matter how many queries the registry grows to.
    val ratios = passEnvs.flatMap(BenchEnv.waitRatio)
    val ratioJson =
      if (ratios.isEmpty) "null" else f"${median(ratios)}%.4f"
    val top5 = med.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val summary =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_queries":${names.size},"cold_total_sec":$coldTotal%.3f,"iterations":${passes.size},"methodology_version":2,"failed":$failedJson,"contended":${BenchEnv.contended(passEnvs)},"median_wait_cpu_ratio":$ratioJson,"canary_mt_sec":${median(canaries.drop(1).map(_.mtSec))}%.4f,"n_contended_queries":${contendedQueries.size},"top5":$top5,"queries_in":"line 1 of stdout and bench_out.json"}"""
    (json, summary, failed.toSeq)
  }

  /** Per-query methodology annotations — rows whose accounting changed
    * in a way the run-level methodology_version does not capture, so
    * cross-round diffing tools can refuse or caveat those comparisons
    * (r19 hoisted the wal2json slot fixture into a per-JVM cache; the
    * slot-drain rows since then measure the drain only, while <=r18
    * rows included the fixture render).
    */
  val MethodologyNotesJson: String =
    """{"cdc_slot_drain":"r19+: slot fixture cached per-JVM; measures the drain only - not comparable to <=r18 rows (fixture render included)","cdc_slot_drain_delta":"r19+: slot fixture cached per-JVM; measures the drain only - not comparable to <=r18 rows (fixture render included)"}"""

  /** The methodology note appended to the on-disk JSON (kept out of the
    * stdout line for the 2 KB tail-capture budget).
    */
  val MeasurementNote: String =
    "per-query number of record = the lower-middle steady-state pass " +
      "by wall (1st-run plan+codegen compile excluded; cache cleared " +
      "between queries so each run pays its own persists - no " +
      "cross-run InMemoryRelation reuse; identical to the median at " +
      "the default odd iteration count, and always a real pass so the " +
      "value, its query_env row and its canary-normalized twin " +
      "describe one measurement); env.contended=true means external " +
      "runqueue pressure stole cycles during this run - numbers are " +
      "then an upper bound, not a regression signal; " +
      "queries_canary_units = wall / same-pass all-cores canary wall " +
      "(fixed CPU-bound work) - compare THESE across rounds when " +
      "canary.median_mt_sec differs >20% between artifacts " +
      "(hypervisor speed bands are invisible to runq-wait)"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = Sessions.start(Sessions.builder().appName("graft-bench"))

    val (json, summary, failed) =
      run(spark, sfDir, iters, SparkEntry.benchQueries, SparkEntry.queries)
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_out.json")
    // JSON-escape the note before splicing: the constant is plain today,
    // but a future quote/backslash in it must not corrupt bench_out.json
    val noteJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        org.json4s.JString(MeasurementNote)))
    val full = json.dropRight(1) + s""","measurement":$noteJson}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"bench: could not write $out: ${e.getMessage}") }
    spark.stop()
    // LAST stdout line: the bounded summary — spark.stop() above may
    // still emit WARN lines on stderr, but stdout ends with this one
    // complete JSON object inside any >=1 KB tail capture.
    println(summary)
    if (failed.nonEmpty) {
      System.err.println(s"bench: ${failed.size} quer${
        if (failed.size == 1) "y" else "ies"} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
