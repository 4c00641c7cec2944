package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Dedup
import graft.sink.DirCommit

/** Continuously maintained near-dup components — the loop-closer after
  * [[StreamingNearDup]]: pair batches (from the streaming LSH detector,
  * or any near-dup pair stream) fold into a stored `(id, component_id)`
  * label table via [[graft.operators.Dedup.mergeComponents]], which
  * recomputes only the components each batch touches. By the merge's
  * rebuild-equivalence (`mergeComponents(CC(P1), P2) = CC(P1 ∪ P2)`),
  * the maintained table after epochs 1..n is EXACTLY
  * `connectedComponents(all pairs so far)` — asserted per epoch in the
  * spec — so downstream keep-canonical decisions never drift from what
  * a batch rebuild would say.
  *
  * Unlike the sum-state twins (rollup, k-means, classifier), this merge
  * is IDEMPOTENT: re-applying an already-applied pair batch recomputes
  * the touched components to the same labels (the connectivity is
  * already in the table). The batch marker is therefore a cost
  * optimization, not a correctness requirement — the spec proves a
  * forced double-apply leaves the table bit-identical. Same atomic-swap
  * publish discipline as [[StreamingRollup]].
  */
object StreamingComponents {

  val stateSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("component_id", LongType, nullable = false)))

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            statePath: String, checkpoint: String,
            aCol: String, bCol: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, statePath, aCol, bCol)
      }
      .start()
  }

  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      statePath: String, aCol: String, bCol: String): Unit = {
    val spark = batch.sparkSession
    val fs = DirCommit.fs(spark, statePath)
    DirCommit.recover(statePath)
    if (DirCommit.lastApplied(statePath).exists(_ >= batchId)) return

    val labels =
      if (fs.exists(new Path(statePath)))
        spark.read.parquet(statePath).select("id", "component_id")
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          stateSchema)
    val next = Dedup.mergeComponents(labels, batch, aCol, bCol)
    DirCommit.commit(statePath, Some(batchId)) { stage =>
      next.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
    }
  }
}
