package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sink.DirCommit

/** Continuous metric-anomaly monitoring — the streaming twin of the
  * `metric_anomalies` query: per-key running moments `(n, Σv, Σv²)` are
  * ADDITIVE exact integers (values quantize to 2-decimal BIGINTs), so
  * the maintained stats after epochs 1..n equal a batch recompute over
  * everything seen (spec asserts bit-equality). Each arriving batch is
  * flagged against the stats AS OF THE PREVIOUS EPOCH — the monitoring
  * contract: an alert judges new data against what was known before it,
  * so a burst of outliers cannot raise the bar that should catch it.
  * The z-test runs in the same cross-multiplied integer form as the
  * batch query: `(n·v − S)² > z²·(n·S2 − S²)` — no floats anywhere.
  * Moments are maintained and multiplied in decimal(38,0): with S the
  * sum of 100x-quantized values, S·S wraps a 64-bit long at ~1M rows of
  * value~1e3, so widening must happen on the operands (and on the Σv²
  * accumulation itself), not on the finished product — mirroring the
  * HUGEINT math the batch oracle runs.
  *
  * Epoch alerts land in `<alertsPath>/batch=<id>` with per-epoch
  * overwrite, so a replayed epoch rewrites the identical alert set
  * rather than appending duplicates; the stats table follows the
  * marker + atomic-swap discipline (first epoch seeds the stats and by
  * construction alerts nothing).
  */
object StreamingAnomalies {

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            statePath: String, alertsPath: String, checkpoint: String,
            keyCol: String, valueCol: String, idCol: String, z: Int = 3,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, statePath, alertsPath, keyCol,
          valueCol, idCol, z)
      }
      .start()
  }

  private[streaming] def applyBatch(batch: DataFrame, batchId: Long,
      statePath: String, alertsPath: String, keyCol: String,
      valueCol: String, idCol: String, z: Int): Unit = {
    val spark = batch.sparkSession
    val fs = DirCommit.fs(spark, statePath)
    DirCommit.recover(statePath)
    if (DirCommit.lastApplied(statePath).exists(_ >= batchId)) return

    val e = batch.select(col(idCol), col(keyCol),
      floor(col(valueCol) * 100 + lit(0.5)).cast("long").as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val hasState = fs.exists(new Path(statePath))
      // alerts: batch rows vs PRIOR stats (broadcast — bounded by the
      // key cardinality)
      val alertDir = s"$alertsPath/batch=$batchId"
      if (hasState) {
        val dec = "decimal(38,0)"
        val prior = spark.read.parquet(statePath)
        val diff = col("n") * col("__v").cast(dec) - col("s")
        e.join(broadcast(prior), keyCol)
          .filter(diff * diff >
            lit(z.toLong * z).cast(dec) *
              (col("n") * col("s2") - col("s") * col("s")))
          .select(col(idCol), col(keyCol), col("__v").as("value_q"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(alertDir)
      } else {
        // first epoch: nothing known yet, alert set is empty by contract
        e.limit(0).select(col(idCol), col(keyCol), col("__v").as("value_q"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(alertDir)
      }
      // merge the batch moments into the stats — s and s2 accumulate in
      // decimal(38,0) so the maintained Σv² itself can never wrap
      val batchStats = e.groupBy(col(keyCol))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("__v").cast("decimal(38,0)")).as("s"),
          sum(col("__v").cast("decimal(38,0)") * col("__v")).as("s2"))
      val merged =
        if (hasState)
          spark.read.parquet(statePath).select(keyCol, "n", "s", "s2")
            .union(batchStats)
            .groupBy(col(keyCol))
            .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
              sum(col("s2")).as("s2"))
        else batchStats
      DirCommit.commit(statePath, Some(batchId)) { stage =>
        merged.coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
      }
    } finally e.unpersist()
  }
}
