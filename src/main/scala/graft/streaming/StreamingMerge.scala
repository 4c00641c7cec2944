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
  * a streaming read (file source here; kafka in production) feeds
  * `foreachBatch`, and every micro-batch is applied with the same
  * idempotent merge used by the batch path. Checkpointing gives resumable
  * offsets — the STATE-message analogue.
  *
  * Change events are expected in a Debezium-ish envelope: the row columns
  * plus `op` (c/u/d) and an ordering column (offset/LSN/ts). Deletes become
  * `_sdc_deleted_at` tombstones (soft) or merge-deletes (hard).
  */
object StreamingMerge {

  /** Normalize a change-event frame: op=d -> tombstone. */
  def applyEnvelope(df: DataFrame, opCol: String = "op"): DataFrame =
    df.withColumn("_sdc_deleted_at",
        when(col(opCol) === "d", current_timestamp())
          .otherwise(lit(null).cast("timestamp")))
      .drop(opCol)

  /** Start a streaming merge of change files appearing under `sourceDir`
    * into the parquet table at `tablePath`.
    */
  def start(spark: SparkSession, sourceDir: String,
            schema: org.apache.spark.sql.types.StructType,
            tablePath: String, checkpoint: String,
            pks: Seq[String], orderCol: String,
            hardDelete: Boolean = false,
            trigger: Trigger = Trigger.AvailableNow(),
            targetPartitions: Int = 64): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    applyEnvelope(stream)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // keyed CDC streams merge via the partitioned incremental path:
        // a micro-batch rewrites only the PK-hash partitions it touches
        if (pks.nonEmpty)
          MergeSink.flushPartitioned(batch.sparkSession, batch, tablePath,
            pks, orderCol, targetPartitions, hardDelete)
        else
          MergeSink.flush(batch.sparkSession, batch, tablePath, pks,
            orderCol, hardDelete)
      }
      .start()
  }

  /** High-frequency LOG_BASED replication via the merge-on-read path:
    * each micro-batch lands as one O(batch) delta file and compaction
    * amortizes the rewrite (docs/MERGE_SCALING.md) — the right flush
    * shape for sub-minute triggers against very large targets, where
    * any per-batch rewrite (full or partitioned) would dominate.
    * Consumers read with [[graft.sink.DeltaMerge.readMerged]].
    */
  def startDelta(spark: SparkSession, sourceDir: String,
                 schema: org.apache.spark.sql.types.StructType,
                 tablePath: String, checkpoint: String,
                 pks: Seq[String], orderCol: String,
                 hardDelete: Boolean = false,
                 trigger: Trigger = Trigger.AvailableNow(),
                 compactDeltaFraction: Double = 0.1): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    applyEnvelope(stream)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sink.DeltaMerge.flushAuto(batch.sparkSession, batch,
          tablePath, pks, orderCol, hardDelete, compactDeltaFraction)
        ()
      }
      .start()
  }

  /** LOG_BASED replication straight off raw wal2json v2 lines: a text
    * file stream of (lsn \t payload) lines — the landed form of the
    * replication-slot poll loop (logical_replication.py:577-737) — is
    * decoded per micro-batch and merged via the partitioned incremental
    * path. The decode is all codegen'd expressions, so it rides inside
    * the stream's scan stage.
    */
  def startWal2Json(spark: SparkSession, sourceDir: String,
                    schemaName: String, tableName: String,
                    rowSchema: org.apache.spark.sql.types.StructType,
                    tablePath: String, checkpoint: String,
                    pks: Seq[String], hardDelete: Boolean = false,
                    trigger: Trigger = Trigger.AvailableNow(),
                    targetPartitions: Int = 64): StreamingQuery = {
    val lines = spark.readStream.text(sourceDir)
      .select(
        split(col("value"), "\t", 2).getItem(0).cast("long").as("lsn"),
        split(col("value"), "\t", 2).getItem(1).as("payload"))
    graft.sources.Wal2Json
      .decode(lines, "payload", "lsn", schemaName, tableName, rowSchema)
      .transform(applyEnvelope(_))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        MergeSink.flushPartitioned(batch.sparkSession, batch, tablePath,
          pks, "_sdc_lsn", targetPartitions, hardDelete)
      }
      .start()
  }

  /** [[startWal2Json]] served from the SLOT source instead of the file
    * source: [[graft.sources.WalTailProvider]] tracks LSN offsets,
    * persists the confirmed-flush LSN on every commit (the
    * `send_feedback` analogue — `cur.send_feedback` in `sync_tables`,
    * logical_replication.py:674,715), and a
    * restart without its Spark checkpoint resumes from the slot file —
    * the reference's `confirmed_flush_lsn` restart, which the plain
    * file source cannot express (its offsets are file lists pinned to
    * one checkpoint). Decode and merge are identical to
    * [[startWal2Json]].
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
                   compactDeltaFraction: Double = 0.1,
                   slotFile: Option[String] = None)
      : StreamingQuery = {
    requireFlushMode(flush)
    // slotFile relocates the confirmed-flush feedback outside the
    // segment dir (the source option it forwards to) — several slot
    // consumers can then drain ONE immutable segment fixture, each
    // with its own cursor, without writing into the shared dir
    val reader0 = spark.readStream.format("graft-wal-tail")
      .option("path", logDir)
    val reader = slotFile.fold(reader0)(f => reader0.option("slotFile", f))
    val lines = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n)).load()
    graft.sources.Wal2Json
      .decode(lines, "payload", "lsn", schemaName, tableName, rowSchema)
      .transform(applyEnvelope(_))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        flushBatch(flush, batch, tablePath, pks, "_sdc_lsn",
          targetPartitions, hardDelete, compactDeltaFraction)
      }
      .start()
  }

  /** Per-batch flush dispatch for the slot starters: `merge` = the
    * partitioned in-place MERGE (touched PK buckets rewritten per
    * batch — the default, simplest-to-read layout); `delta` = the
    * merge-on-read path (one O(batch) delta file per micro-batch,
    * auto-compaction at `compactDeltaFraction` of base bytes) — the
    * sub-minute-trigger spelling where any per-batch rewrite would
    * floor throughput (StressWalTail A/B in BASELINE.md). Delta
    * tables are read with [[graft.sink.DeltaMerge.readMerged]].
    */
  private def flushBatch(flush: String, batch: DataFrame,
                         tablePath: String, pks: Seq[String],
                         orderCol: String, targetPartitions: Int,
                         hardDelete: Boolean,
                         compactDeltaFraction: Double): Unit =
    flush match {
      case "merge" =>
        MergeSink.flushPartitioned(batch.sparkSession, batch, tablePath,
          pks, orderCol, targetPartitions, hardDelete)
      case "delta" =>
        graft.sink.DeltaMerge.flushAuto(batch.sparkSession, batch,
          tablePath, pks, orderCol, hardDelete, compactDeltaFraction)
    }

  private def requireFlushMode(flush: String): Unit =
    require(flush == "merge" || flush == "delta",
      s"unknown slot flush mode '$flush' (expected merge | delta)")

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
                      flush: String = "merge",
                      compactDeltaFraction: Double = 0.1)
      : StreamingQuery = {
    requireFlushMode(flush)
    val reader = spark.readStream.format("graft-wal-tail")
      .option("path", logDir)
    val lines = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n)).load()
    // decode emits the envelope itself (`_sdc_deleted_at` from delete
    // events' timestamps) — no applyEnvelope pass
    graft.sources.BinlogRows
      .decode(lines, "payload", schemaName, tableName, rowSchema)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        flushBatch(flush, batch, tablePath, pks, "_binlog_seq",
          targetPartitions, hardDelete, compactDeltaFraction)
      }
      .start()
  }

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
    * last-write-wins merge on `_cs_token`. All three CDC families
    * (wal2json / binlog / ChangeStreams) now share the slot consume
    * loop offline.
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
                            flush: String = "merge",
                            compactDeltaFraction: Double = 0.1)
      : StreamingQuery = {
    requireFlushMode(flush)
    val reader = spark.readStream.format("graft-wal-tail")
      .option("path", logDir)
    val lines = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n)).load()
    graft.sources.ChangeStreams
      .decode(lines, "payload", dbName, collName, rowSchema,
        idField = pks.head)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the flush-time refetch joins the update ids back to the
        // CURRENT collection (the ChangeStreamsSpec batch chain)
        val refetched = refetchUpdates(batch, sourceColl(), pks.head)
        flushBatch(flush, applyEnvelope(refetched), tablePath, pks,
          "_cs_token", targetPartitions, hardDelete, compactDeltaFraction)
      }
      .start()
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
