package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sink.MergeSink

/** LOG_BASED replication as Structured Streaming.
  *
  * The reference consumes wal2json / binlog / Mongo ChangeStream events in
  * a long poll loop and flushes PK-deduped batches
  * (tap-postgres logical_replication.py:577-737,
  * tap-mysql binlog.py:818-883, target __init__.py:160-226). Spark-native:
  * a streaming read feeds `foreachBatch`, and every micro-batch is
  * applied with the same idempotent merge used by the batch path.
  * Checkpointing gives resumable offsets — the STATE-message analogue.
  *
  * Four starters differ only in what they read and decode: [[start]]
  * takes parquet change files, and the slot starters ([[startWalSlot]],
  * [[startBinlogSlot]], [[startChangeStreamSlot]]) tail landed log
  * segments through the `graft-wal-tail` slot source. All of them end in
  * one tail: a checkpointed `foreachBatch` that runs [[flushBatch]].
  *
  * Change events carry an envelope: the row columns plus `op` (c/u/d) and
  * an ordering column (offset/LSN/ts). Deletes become `_sdc_deleted_at`
  * tombstones (soft) or merge-deletes (hard).
  */
object StreamingMerge {

  /** Normalize a change-event frame: op=d -> tombstone. */
  def applyEnvelope(df: DataFrame, opCol: String = "op"): DataFrame =
    df.withColumn("_sdc_deleted_at",
        when(col(opCol) === "d", current_timestamp())
          .otherwise(lit(null).cast("timestamp")))
      .drop(opCol)

  /** Start a streaming merge of parquet change files appearing under
    * `sourceDir` into the table at `tablePath`: a keyed stream merges,
    * an unkeyed one appends (see [[flushBatch]]).
    */
  def start(spark: SparkSession, sourceDir: String,
            schema: org.apache.spark.sql.types.StructType,
            tablePath: String, checkpoint: String,
            pks: Seq[String], orderCol: String,
            hardDelete: Boolean = false,
            trigger: Trigger = Trigger.AvailableNow(),
            targetPartitions: Int = 64): StreamingQuery =
    tail(applyEnvelope(spark.readStream.schema(schema).parquet(sourceDir)),
      checkpoint, trigger)(flushBatch("merge", tablePath, pks, orderCol,
        targetPartitions, hardDelete))

  /** LOG_BASED replication off landed wal2json v2 segments
    * (`<lsn>\t<payload>` lines — the replication-slot poll loop,
    * logical_replication.py:577-737), served by the slot source:
    * [[graft.sources.WalTailProvider]] tracks LSN offsets, persists the
    * confirmed-flush LSN on every commit (the `send_feedback` analogue —
    * `cur.send_feedback` in `sync_tables`, logical_replication.py:674,715),
    * and a restart without its Spark checkpoint resumes from the slot
    * file — the reference's `confirmed_flush_lsn` restart. The decode is
    * all codegen'd expressions, so it rides inside the stream's scan
    * stage; the merge orders by `_sdc_lsn`. `slotFile` relocates the
    * confirmed-flush feedback outside the segment dir, so several slot
    * consumers can drain ONE immutable segment fixture, each with its own
    * cursor, without writing into the shared dir.
    */
  def startWalSlot(spark: SparkSession, logDir: String,
                   schemaName: String, tableName: String,
                   rowSchema: org.apache.spark.sql.types.StructType,
                   tablePath: String, checkpoint: String,
                   pks: Seq[String], hardDelete: Boolean = false,
                   trigger: Trigger = Trigger.AvailableNow(),
                   targetPartitions: Int = 64,
                   maxFilesPerTrigger: Option[Int] = None,
                   flush: String = "merge",
                   slotFile: Option[String] = None)
      : StreamingQuery =
    tail(graft.sources.Wal2Json
      .decode(slot(spark, logDir, pks, maxFilesPerTrigger, slotFile), "payload",
        "lsn", schemaName, tableName, rowSchema)
      .transform(applyEnvelope(_)), checkpoint, trigger)(
      flushBatch(flush, tablePath, pks, "_sdc_lsn", targetPartitions,
        hardDelete))

  /** The MySQL-side slot twin of [[startWalSlot]]: landed binlog
    * row-event segments (`<seq>\t<event json>` lines — `seq` is the
    * landing writer's monotonic rendering of the (log_file, log_pos)
    * position, the reference's file+pos bookmark as one long) tailed
    * by the same [[graft.sources.WalTailProvider]] slot source, decoded
    * by [[graft.sources.BinlogRows.decode]], merged by the CDC order
    * `_binlog_seq` (the (log_file, log_pos, row_idx) struct — one
    * event carries MANY rows, so the outer seq alone cannot order
    * within an event). Feedback/resume semantics are the slot
    * source's: the confirmed position persists on every poll, and a
    * restart without its Spark checkpoint resumes from it
    * (binlog.py:286-446's saved file+pos).
    */
  def startBinlogSlot(spark: SparkSession, logDir: String,
                      schemaName: String, tableName: String,
                      rowSchema: org.apache.spark.sql.types.StructType,
                      tablePath: String, checkpoint: String,
                      pks: Seq[String], hardDelete: Boolean = false,
                      trigger: Trigger = Trigger.AvailableNow(),
                      targetPartitions: Int = 64,
                      maxFilesPerTrigger: Option[Int] = None,
                      flush: String = "merge")
      : StreamingQuery =
    // decode emits the envelope itself (`_sdc_deleted_at` from delete
    // events' timestamps) — no applyEnvelope pass
    tail(graft.sources.BinlogRows
      .decode(slot(spark, logDir, pks, maxFilesPerTrigger, None), "payload",
        schemaName, tableName, rowSchema), checkpoint, trigger)(
      flushBatch(flush, tablePath, pks, "_binlog_seq", targetPartitions,
        hardDelete))

  /** The MongoDB twin: landed ChangeStream documents
    * (`<seq>\t<event json>` segments — `seq` is the landing writer's
    * monotonic event counter; the resume TOKEN itself rides inside the
    * payload as `_cs_token` and orders the merge) tailed by the slot
    * source, decoded by [[graft.sources.ChangeStreams.decode]], with
    * the reference's update-buffer semantics per micro-batch: updates
    * arrive as ids only, so each batch refetches full documents from
    * the LIVE collection via `sourceColl` (a thunk — the reference
    * refetches at flush time, not at stream-start time;
    * change_streams.py:160-163, flush at :199) before the
    * last-write-wins merge on `_cs_token`.
    */
  def startChangeStreamSlot(spark: SparkSession, logDir: String,
                            dbName: String, collName: String,
                            rowSchema: org.apache.spark.sql.types.StructType,
                            sourceColl: () => DataFrame,
                            tablePath: String, checkpoint: String,
                            pks: Seq[String],
                            hardDelete: Boolean = false,
                            trigger: Trigger = Trigger.AvailableNow(),
                            targetPartitions: Int = 64,
                            maxFilesPerTrigger: Option[Int] = None,
                            flush: String = "merge")
      : StreamingQuery =
    tail(graft.sources.ChangeStreams
      .decode(slot(spark, logDir, pks, maxFilesPerTrigger, None), "payload",
        dbName, collName, rowSchema, idField = pks.head),
      checkpoint, trigger)(
      // the flush-time refetch joins the update ids back to the CURRENT
      // collection (the ChangeStreamsSpec batch chain)
      flushBatch(flush, tablePath, pks, "_cs_token", targetPartitions,
        hardDelete).compose((batch: DataFrame) =>
        applyEnvelope(refetchUpdates(batch, sourceColl(), pks.head))))

  /** The slot source over the segment dir `logDir`. A slot stream is
    * applied by key (the partitioned merge and the delta flush both need
    * one), so an unkeyed one fails here, at start, not on its first batch.
    */
  private def slot(spark: SparkSession, logDir: String, pks: Seq[String],
                   maxFilesPerTrigger: Option[Int],
                   slotFile: Option[String]): DataFrame = {
    require(pks.nonEmpty, s"a slot stream over $logDir needs primary keys")
    val reader = spark.readStream.format("graft-wal-tail")
      .option("path", logDir)
    val capped = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
    slotFile.fold(capped)(f => capped.option("slotFile", f)).load()
  }

  /** The tail every starter ends in: a checkpointed `foreachBatch` that
    * hands each micro-batch to `flush`.
    */
  private def tail(changes: DataFrame, checkpoint: String, trigger: Trigger)
                  (flush: DataFrame => Unit): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => flush(batch) }
      .start()

  /** Per-batch flush for every starter. `merge`: a keyed stream takes the
    * partitioned in-place MERGE (a micro-batch rewrites only the PK-hash
    * buckets it touches — the default, simplest-to-read layout) and an
    * unkeyed one (only [[start]] admits one) appends. `delta`, which the
    * slot starters offer: the merge-on-read path (one O(batch)
    * delta file per micro-batch, auto-compaction once deltas outgrow a
    * fraction of the base) — the sub-minute-trigger spelling where any
    * per-batch rewrite would floor throughput (StressWalTail A/B in
    * BASELINE.md). Delta tables are read with
    * [[graft.sink.DeltaMerge.readMerged]].
    */
  private def flushBatch(flush: String, tablePath: String, pks: Seq[String],
                         orderCol: String, targetPartitions: Int,
                         hardDelete: Boolean): DataFrame => Unit = {
    require(flush == "merge" || flush == "delta",
      s"unknown flush mode '$flush' (expected merge | delta)")
    batch =>
      if (flush == "delta")
        graft.sink.DeltaMerge.flushAuto(batch.sparkSession, batch,
          tablePath, pks, orderCol, hardDelete)
      else if (pks.nonEmpty)
        MergeSink.flushPartitioned(batch.sparkSession, batch, tablePath,
          pks, orderCol, targetPartitions, hardDelete)
      else
        MergeSink.flush(batch.sparkSession, batch, tablePath, pks,
          orderCol, hardDelete)
  }

  /** Watermarked tumbling-window aggregate over an event stream — the
    * generic streaming-analytics surface (counts/sums per window+key).
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     window_ : String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** MongoDB ChangeStream update-buffer + refetch pattern
    * (tap-mongodb change_streams.py:73-230): updates arrive as ids only;
    * at flush, full documents are fetched back from the source. Spark
    * shape: within a micro-batch, join the update-ids back to the source
    * collection (a `foreachBatch` re-join, SURVEY.md §7.4); deletes pass
    * through as tombstones, inserts carry their document already.
    */
  def refetchUpdates(batch: DataFrame, source: DataFrame,
                     idCol: String, opCol: String = "op"): DataFrame = {
    // keep the id plus every envelope column the source can't provide
    // (op, order/token, tombstone timestamp) — dropping them would strip
    // the refetched rows of their CDC ordering
    val keep = batch.columns
      .filter(c => c == idCol || !source.columns.contains(c)).toSeq
    val updates = batch.filter(col(opCol) === "u").select(keep.map(col): _*)
    val refetched = updates.join(source, Seq(idCol), "left")
    val passthrough = batch.filter(col(opCol) =!= "u")
    refetched.unionByName(passthrough, allowMissingColumns = true)
  }
}
