package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.TextAnalysis
import graft.sink.DirCommit

/** Continuously retrained quality classifier — the streaming twin of
  * [[graft.operators.TextAnalysis.nbTrainHashed]]: per-bucket
  * (pos_n, neg_n) feature counts are ADDITIVE, so maintaining them
  * under arriving labeled batches and re-deriving the fixed-point
  * posterior weights gives a model PROVABLY identical to a full batch
  * retrain over everything seen so far (StreamingClassifierSpec asserts
  * bit-equality after every epoch). This is the online analog of the
  * curation loop: the quality filter keeps learning as labeled docs
  * land, and [[TextAnalysis.nbWeightsArray]] turns the maintained table
  * into the scorer's literal weights at any moment.
  *
  * Exactly-once: count addition is not idempotent — same marker +
  * atomic-swap discipline as [[StreamingRollup]] (replay skip,
  * crash-in-swap resume). State is at most `dim` rows; each epoch's
  * heavy work is the batch-sized feature explode + one map-side-partial
  * groupBy(bucket) — the merge with the stored table touches dim rows.
  */
object StreamingClassifier {

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            statePath: String, checkpoint: String,
            labelExpr: String, textCol: String, dim: Int,
            scale: Long = 1000L,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, statePath, labelExpr, textCol, dim,
          scale)
      }
      .start()
  }

  private[streaming] def applyBatch(batch: DataFrame, batchId: Long,
      statePath: String, labelExpr: String, textCol: String, dim: Int,
      scale: Long): Unit = {
    val spark = batch.sparkSession
    val fs = DirCommit.fs(spark, statePath)
    DirCommit.recover(statePath)
    if (DirCommit.lastApplied(statePath).exists(_ >= batchId)) return

    val batchCounts = TextAnalysis.nbTrainHashed(batch, expr(labelExpr),
      textCol, dim, scale).select("bucket", "pos_n", "neg_n")
    val merged =
      if (fs.exists(new Path(statePath)))
        spark.read.parquet(statePath)
          .select("bucket", "pos_n", "neg_n")
          .union(batchCounts)
          .groupBy(col("bucket"))
          .agg(sum(col("pos_n")).as("pos_n"), sum(col("neg_n")).as("neg_n"))
      else batchCounts
    val next = TextAnalysis.withNbWeight(merged, scale)
    DirCommit.commit(statePath, Some(batchId)) { stage =>
      next.coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
    }
  }
}
