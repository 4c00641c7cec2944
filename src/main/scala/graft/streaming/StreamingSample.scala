package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Sampling
import graft.sink.DirCommit

/** Streaming twins of the sampling family — the last batch-only
  * sampling shapes after round 10's StreamingPack.
  *
  * Two shapes with two very different state stories:
  *
  *  1. '''Stratified hash sampling''' is STATELESS: keep(row) depends
  *     only on `hash(key)` and the stratum constant, never on other
  *     rows, so the exact batch operator
  *     [[Sampling.stratifiedSampleByHash]] applies to an unbounded
  *     stream unchanged — same rows kept regardless of arrival order,
  *     batch boundaries, or restarts (determinism IS the replay
  *     protection: a replayed file re-keeps exactly the same rows into
  *     the file sink's transactional log). [[stratified]] is that
  *     delegation, kept as an explicit seam so stream jobs don't reach
  *     into batch code.
  *
  *  2. '''Epoch planning''' is SET-DEPENDENT (rates derive from
  *     corpus-wide per-source token totals), so its streaming twin
  *     maintains the tiny totals frame `(source, n_docs, n_tokens)`
  *     under appends and derives the plan from the maintained frame via
  *     [[Sampling.epochPlanFromTotals]] — the corpus is scanned once at
  *     ingest and never again, exactly the StreamingRollup discipline:
  *     per-batch deltas are map-side-combinable aggregates, the
  *     |sources|-row table is staged with its batchId marker and
  *     atomically swapped, and a replayed batch (at-least-once restart)
  *     is detected by the marker and skipped, never double-counted.
  *
  * Scale shape at 100 TB: the stratified filter is a codegen'd scan
  * predicate (zero state, zero shuffle); the totals maintenance
  * shuffles |sources| rows per micro-batch no matter how wide the
  * batch is.
  */
object StreamingSample {

  /** Stateless streaming stratified sample — see class doc. */
  def stratified(stream: DataFrame, keyCol: String, strataCol: String,
                 fractions: Map[String, Double],
                 defaultFraction: Double = 0.0): DataFrame =
    Sampling.stratifiedSampleByHash(stream, keyCol, strataCol, fractions,
      defaultFraction)

  /** Continuously maintain per-source `(source, n_docs, n_tokens)`
    * totals at `tablePath` from an append-only document stream. The
    * epoch plan for any budget/weights then reads off the maintained
    * frame: `Sampling.epochPlanFromTotals(spark.read.parquet(tablePath),
    * budget, weights)`.
    */
  def startTotals(spark: SparkSession, sourceDir: String,
                  schema: StructType, tablePath: String, checkpoint: String,
                  sourceCol: String, textCol: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, tablePath, sourceCol, textCol)
      }
      .start()

  /** One epoch: reduce the batch to per-source deltas, merge into the
    * maintained totals, publish atomically with the batchId marker;
    * replayed ids are skipped (delta application is not idempotent).
    */
  private[streaming] def applyBatch(batch: DataFrame, batchId: Long,
      tablePath: String, sourceCol: String, textCol: String): Unit = {
    val spark = batch.sparkSession
    val fs = DirCommit.fs(spark, tablePath)
    DirCommit.recover(tablePath)
    if (DirCommit.lastApplied(tablePath).exists(_ >= batchId)) return
    val tokens =
      size(split(trim(lower(col(textCol))), "\\s+")).cast("long")
    val delta = batch
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(tokens).as("n_tokens"))
    val next =
      if (fs.exists(new Path(tablePath)))
        spark.read.parquet(tablePath).unionByName(delta)
          .groupBy("source")
          .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
      else delta
    DirCommit.commit(tablePath, Some(batchId)) { stage =>
      next.write.mode(SaveMode.Overwrite).parquet(stage)
    }
  }
}
