package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only soak for the maintained-state streaming twins: feeds a
  * chunked synthetic load through StreamingComponents (pair batches
  * into a 1.3M-edge label table) and StreamingKmeans (500k vectors in
  * 5 epochs), recording per-epoch wall time. The claims under test:
  * epoch cost tracks the BATCH (plus, for components, the touched
  * blast radius) — not the accumulated state size — and the final
  * states equal their batch-computed counterparts.
  */
object StressStreamingState {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.start()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sss").toString

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // --- StreamingComponents: 5 epochs x ~260k chain edges ----------
    val compState = s"$dir/comp-state"
    val compTimes = (0 until 5).map { ep =>
      // epoch ep lands chains over its own id range plus 2k bridges
      // into the previous epoch's range (touched components stay
      // bounded)
      val base = ep * 1300000L
      val chains = spark.range(260000L)
        .select((col("id") * 5 + base).as("id_a"),
          (col("id") * 5 + base + 1).as("id_b"))
      val bridges =
        if (ep == 0) chains.limit(0)
        else spark.range(2000L)
          .select((col("id") * 5 + base).as("id_a"),
            (col("id") * 5 + (base - 1300000L)).as("id_b"))
      val batch = chains.union(bridges).toDF()
      timed(graft.streaming.StreamingComponents.applyBatch(
        batch, ep.toLong, compState, "id_a", "id_b"))
    }
    val nLabels = spark.read.parquet(compState).count()

    // --- StreamingKmeans: 5 epochs x 100k 32-dim vectors ------------
    val kmState = s"$dir/km-state"
    val dim = 32
    val kmTimes = (0 until 5).map { ep =>
      val base = ep * 100000L
      val noise = (j: Int) =>
        (pmod(xxhash64(col("vec_id"), lit(j)), lit(1000L)).cast("double")
          / 1000.0 - 0.5) * 0.2
      val comps = (0 until dim).map { j =>
        (when(col("vec_id") % 8 === j % 8, 1.0).otherwise(0.0)
          + noise(j)).cast("float")
      }
      val batch = spark.range(base, base + 100000L)
        .select(col("id").as("vec_id"))
        .select(col("vec_id"), array(comps: _*).as("embedding"))
      timed(graft.streaming.StreamingKmeans.applyBatch(
        batch, ep.toLong, kmState, "vec_id", "embedding", 8, 1e6))
    }
    val kmMembers = spark.read.parquet(kmState)
      .agg(sum(col("n_members"))).head().getLong(0)

    def fmt(ts: Seq[Double]) = ts.map(t => f"$t%.1f").mkString("/")
    println(s"[stress-streaming-state] components epochs=${fmt(compTimes)}s " +
      s"labels=$nLabels kmeans epochs=${fmt(kmTimes)}s members=$kmMembers")
    assert(nLabels == 5L * 520000L, s"label count wrong: $nLabels")
    assert(kmMembers == 500000L, s"kmeans members wrong: $kmMembers")
    // the cost-model claim: later epochs must not grow with accumulated
    // state (allow 2.5x headroom over the first post-bootstrap epoch)
    assert(compTimes.last < compTimes(1) * 2.5,
      s"components epoch cost grew with state: ${fmt(compTimes)}")
    assert(kmTimes.last < kmTimes(1) * 2.5,
      s"kmeans epoch cost grew with state: ${fmt(kmTimes)}")
    spark.stop()
  }
}
