package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Host-speed canary (round 20): three consecutive BENCH artifacts
  * carried per-query readings ×7-11 high on identical code with
  * runq_wait ≈ 0 — hypervisor frequency/steal bands are invisible to
  * the runqueue metric, so each round needed a manual judge control-run
  * to adjudicate. The canary (fixed CPU-bound work before every pass)
  * makes the band measurable from the artifact alone; these specs prove
  * (a) the artifact carries it, (b) normalization divides the number of
  * record by its own pass's canary, and (c) on a synthetically
  * throttled host the RAW wall inflates while the canary-normalized
  * value holds — the adjudication the judge did by hand, automated.
  */
class BenchCanarySpec extends SparkSpecBase {

  test("canary sample is sane and sized for ~2% pass overhead") {
    val c = BenchEnv.canary()
    assert(c.oneThreadSec > 0.005 && c.oneThreadSec < 30.0, c.toString)
    assert(c.mtSec > 0.005 && c.mtSec < 30.0, c.toString)
    assert(c.threads == Runtime.getRuntime.availableProcessors)
    // warm JIT: two consecutive samples agree within the scheduler band
    val c2 = BenchEnv.canary()
    assert(c2.mtSec / c.mtSec < 3.0 && c.mtSec / c2.mtSec < 3.0,
      s"consecutive canaries disagree wildly: $c vs $c2")
  }

  test("artifact carries per-pass canaries and canary-normalized numbers") {
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => { import s.implicits._; Seq(1).toDF("x") }))
    val (json, summary, failed) =
      Bench.run(spark, sfDir, iters = 1, Seq("ok"), qs)
    assert(failed.isEmpty)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed = JsonMethods.parse(json)
    // one canary per pass (cold + 1 measured)
    val JArray(passes) = parsed \ "canary" \ "passes"
    assert(passes.size == 2, json.take(400))
    val JDouble(mtMed) = parsed \ "canary" \ "median_mt_sec"
    assert(mtMed > 0)
    // normalization is the number of record over ITS pass's mt canary —
    // with one measured pass that pass is canaries(1)
    val JDouble(wall) = parsed \ "queries" \ "ok"
    val JDouble(norm) = parsed \ "queries_canary_units" \ "ok"
    val JDouble(mt1) = passes(1) \ "mt_sec"
    // tolerance = worst-case JSON rounding. norm is w/m (unrounded wall
    // and mt) rounded to 3 decimals, so it is within h = 0.0005 of w/m;
    // the artifact's wall is w rounded to 3 decimals (within h) and mt1
    // is m rounded to 4 (within k = 0.00005). Hence
    //   |norm - wall/mt1| <= h + |w/m - wall/mt1|
    // and the second term peaks at w = wall + h, m = mt1 - k:
    //   h/(mt1 - k) + wall*k/(mt1*(mt1 - k)),
    // the wall rounding plus mt1's own rounding (~ norm*k/mt1). Both
    // grow as mt1 shrinks, so a FAST host band needs them most.
    val (h, k) = (0.0005, 0.00005)
    assert(math.abs(norm - wall / mt1) <=
      h + h / (mt1 - k) + wall * k / (mt1 * (mt1 - k)) + 1e-9,
      s"norm=$norm wall=$wall mt=$mt1")
    // the per-query methodology annotations ride the full artifact
    assert(json.contains("\"methodology_notes\":{\"cdc_slot_drain\""), "notes")
    assert(json.contains("\"median_convention\":\"lower_middle_pass\""))
    // the bounded summary carries the host-speed scalar for tail capture
    assert(summary.contains("\"canary_mt_sec\":"), summary)
  }

  test("number of record is the lower-middle pass (agrees with its env)") {
    // 3 measured passes: queries.<name> must equal one of the pass walls
    // AND the query_env wall — never an interpolation (the pre-r20 even-
    // iters mismatch between Bench.median and medianWallEnv)
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => { import s.implicits._; Seq(1).toDF("x") }))
    for (iters <- Seq(2, 3)) {
      val (json, _, _) = Bench.run(spark, sfDir, iters, Seq("ok"), qs)
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val parsed = JsonMethods.parse(json)
      val JDouble(wall) = parsed \ "queries" \ "ok"
      val JDouble(envWall) = parsed \ "query_env" \ "ok" \ "wall_sec"
      assert(math.abs(wall - envWall) < 1e-9,
        s"iters=$iters: reported $wall != env-of-record $envWall")
    }
  }

  test("throttled host: raw wall inflates, canary-normalized holds") {
    val cores = Runtime.getRuntime.availableProcessors
    // the measured "query": fixed multi-thread CPU-bound work, the same
    // shape as a bench pass (parallel compute saturating a core share)
    def work(): Double = {
      val w0 = System.nanoTime()
      val ts = (1 to math.max(2, cores / 4)).map { _ =>
        val t = new Thread(() => {
          var acc = 0.0
          var i = 0
          while (i < 60000000) { acc += math.sqrt(i.toDouble); i += 1 }
          if (acc < 0) throw new IllegalStateException("unreachable")
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - w0) / 1e9
    }
    // calm side first; if the suite machine is itself loaded the
    // control is meaningless — cancel (inconclusive), don't flake
    val (_, calmEnv) = BenchEnv.measurePass(work())
    assume(!BenchEnv.contended(Seq(calmEnv)),
      "suite machine already loaded - throttle simulation inconclusive")
    val canIdle = BenchEnv.canary()
    val wIdle = work()
    // synthetic throttle: 3x-core burner threads steal a fixed share of
    // every core — the same effect as a hypervisor handing out fewer /
    // slower cycles, and equally invisible to OUR wait-free wall clock
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val burners = (1 to cores * 3).map { _ =>
      val t = new Thread(() => {
        var x = 0L
        while (!stop.get()) { x += 1; if (x == Long.MaxValue) x = 0 }
      })
      t.setDaemon(true); t.start(); t
    }
    val (canLoad, wLoad) =
      try { (BenchEnv.canary(), work()) }
      finally { stop.set(true); burners.foreach(_.join(2000)) }
    val rawRatio = wLoad / wIdle
    val normRatio = (wLoad / canLoad.mtSec) / (wIdle / canIdle.mtSec)
    assert(rawRatio > 1.3,
      f"burners must inflate raw wall: ratio $rawRatio%.2f " +
        f"(idle $wIdle%.2f s, loaded $wLoad%.2f s)")
    // the canary absorbs most of the inflation: normalized stays in a
    // band around 1 AND recovers a meaningful fraction of the raw drift
    assert(normRatio > 0.3 && normRatio < 1.7,
      f"normalized ratio $normRatio%.2f out of band (raw $rawRatio%.2f)")
    assert(normRatio < rawRatio * 0.75,
      f"normalization recovered too little: norm $normRatio%.2f vs " +
        f"raw $rawRatio%.2f")
  }
}
