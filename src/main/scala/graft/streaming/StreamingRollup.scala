package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.IncrementalAgg
import graft.sink.DirCommit

/** Continuously maintained rollup — the streaming twin of
  * [[graft.operators.IncrementalAgg]]: a reporting table stays current
  * under an op-tagged CDC stream ('I' inserts / 'D' deletes; updates
  * arrive as D-old + I-new, the merge tombstone convention) without ever
  * re-scanning the fact history.
  *
  * Exactly-once discipline: delta application is NOT idempotent (unlike
  * the PK merge, where replaying a batch converges), so each epoch's
  * batchId is committed ATOMICALLY with the rollup — the marker file is
  * written into the staged directory BEFORE the atomic swap, and a
  * replayed epoch (at-least-once restart) compares against it and is
  * skipped instead of double-applied. Crash at any point leaves either
  * the old table+marker or the new table+marker, never a table whose
  * marker disagrees with its contents.
  *
  * Contract: batchIds are only meaningful WITHIN one checkpoint — the
  * rollup table and its checkpoint are a unit. Resetting the checkpoint
  * against an existing table would replay history under reused ids and
  * the marker would skip it; reset both together (the same rule the
  * merge sinks' checkpoints follow).
  */
object StreamingRollup {

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            tablePath: String, checkpoint: String,
            keys: Seq[String], valueCol: String, opCol: String = "op",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, tablePath, keys, valueCol, opCol)
      }
      .start()
  }

  /** One epoch: skip if already applied, else maintain + publish with
    * the marker riding the same atomic swap.
    */
  private[streaming] def applyBatch(batch: DataFrame, batchId: Long,
      tablePath: String, keys: Seq[String], valueCol: String,
      opCol: String): Unit = {
    val spark = batch.sparkSession
    val fs = DirCommit.fs(spark, tablePath)
    DirCommit.recover(tablePath)
    if (DirCommit.lastApplied(tablePath).exists(_ >= batchId)) return
    val base =
      if (fs.exists(new Path(tablePath)))
        spark.read.parquet(tablePath)
      else {
        val zero = batch.limit(0)
        IncrementalAgg.sumCountRollup(zero, keys, col(valueCol))
      }
    // fail-loud op discipline: a row that is neither an insert nor a
    // delete (an un-decomposed 'U', a case variant, a null) would
    // silently vanish from both branches and corrupt the rollup forever
    val ins = batch.filter(
      when(!col(opCol).isin("I", "D"), raise_error(concat(
        lit("unknown op tag '"), coalesce(col(opCol), lit("null")),
        lit("': rollup streams carry I/D only (updates = D old + I new)"))))
        .otherwise(col(opCol) === "I"))
    val del = batch.filter(col(opCol) === "D")
    val next = IncrementalAgg.maintainSumCount(base, ins, del, keys,
      col(valueCol))
    // stage: rollup parquet + the marker, then ONE atomic swap
    DirCommit.commit(tablePath, Some(batchId)) { stage =>
      next.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
    }
  }
}
