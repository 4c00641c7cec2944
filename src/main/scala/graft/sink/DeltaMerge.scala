package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read flush path — the steady-state answer to "a 100k-row CDC
  * batch against a 100 TB target, every few seconds".
  *
  * Measurement first (docs/MERGE_SCALING.md, sf0.1): a batch whose keys
  * hash across all buckets touches EVERY partition of a PK-hash layout, so
  * [[MergeSink.flushPartitioned]] degenerates to a full rewrite (plus
  * per-partition swap overhead) unless batch keys cluster. Partitioned
  * rewrite is right for clustered/ranged updates and for compaction;
  * it is NOT right for frequent random-key batches.
  *
  * So the high-frequency path is LSM-shaped, like the engines built for
  * this problem (Hudi MOR, Delta deletion vectors):
  *
  *  - [[flushDelta]]: write the deduped batch as one delta file —
  *    per-flush I/O is O(batch), independent of target size;
  *  - [[readMerged]]: base scan + BROADCAST anti-join against the (small)
  *    delta winners + union — the base is NEVER shuffled on read;
  *  - [[compact]]: fold deltas into the base (the amortized rewrite),
  *    triggered by [[flushAuto]] when deltas outgrow
  *    `compactDeltaFraction` of the base.
  *
  * The reference has no analogue (every flush is a warehouse MERGE, cost
  * delegated to Snowflake — db_sync.py:449-527); this is the engine-level
  * equivalent of what that warehouse does internally.
  *
  * Layout: `tablePath/base/` (parquet) + `tablePath/delta/d-<uuid>.parquet`.
  * Crash safety: a delta directory write is staged then renamed (readers
  * only ever see whole files); the base is published through
  * [[DirCommit]] (bootstrap and compaction alike), which every flush
  * recovers first, and compaction clears consumed deltas only after the
  * new base is in place — a replayed delta is idempotent because the
  * merge is last-write-wins on `orderCol`.
  */
object DeltaMerge {

  private def path(s: String) = new org.apache.hadoop.fs.Path(s)

  def basePath(tablePath: String): String = s"$tablePath/base"
  def deltaPath(tablePath: String): String = s"$tablePath/delta"

  /** Append one deduped batch as a delta. O(batch) I/O — no read of the
    * base, no merge, no shuffle beyond the in-batch dedup window.
    */
  def flushDelta(spark: SparkSession, batch: DataFrame, tablePath: String,
                 pks: Seq[String], orderCol: String,
                 hardDelete: Boolean = false): Unit = {
    require(pks.nonEmpty, "flushDelta requires primary keys")
    val deduped = MergeSink.dedupLastWins(batch, pks, orderCol)
    val f = DirCommit.fs(spark, tablePath)
    DirCommit.recover(basePath(tablePath))
    if (!f.exists(path(basePath(tablePath)))) {
      // bootstrap: first flush becomes the base — staged + swapped via
      // publish (same retire-then-promote as every later compaction), so
      // a crash mid-write or a concurrent readMerged never sees a partial
      // base; tombstone rows are dropped here just like MergeSink.flush's
      // no-target path (a changelog replayed from scratch must not keep
      // rows whose last event is a delete)
      MergeSink.publish(
        MergeSink.dropTombstones(deduped, hardDelete), basePath(tablePath))
    } else {
      val name = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
      val stage = s"$tablePath/.stage-$name"
      deduped.write.mode(SaveMode.Overwrite).parquet(stage)
      f.mkdirs(path(deltaPath(tablePath)))
      DirCommit.move(f, path(stage), path(s"${deltaPath(tablePath)}/$name"))
    }
  }

  /** Latest row per PK across all deltas (small by the compaction
    * invariant), ordered by `orderCol`.
    */
  private def deltaWinners(spark: SparkSession, tablePath: String,
                           pks: Seq[String], orderCol: String)
      : Option[DataFrame] = {
    val f = DirCommit.fs(spark, tablePath)
    val dp = path(deltaPath(tablePath))
    if (!f.exists(dp) || f.listStatus(dp).isEmpty) None
    else Some(MergeSink.dedupLastWins(
      spark.read.parquet(s"${deltaPath(tablePath)}/*"), pks, orderCol))
  }

  /** Merged view: base rows not superseded by a delta, plus the delta
    * winners. The delta side is broadcast into an anti-join, so the plan
    * scans the base ONCE with no Exchange on it — at 100 TB the read
    * costs a scan plus a broadcast hash probe, not a shuffle.
    */
  def readMerged(spark: SparkSession, tablePath: String, pks: Seq[String],
                 orderCol: String, hardDelete: Boolean = false,
                 deletedAtCol: String = "_sdc_deleted_at"): DataFrame = {
    val base = spark.read.parquet(basePath(tablePath))
    val merged = deltaWinners(spark, tablePath, pks, orderCol) match {
      case None => base
      case Some(w) =>
        base.join(broadcast(w.select(pks.map(col): _*)), pks, "left_anti")
          .unionByName(w, allowMissingColumns = true)
    }
    if (hardDelete && merged.columns.contains(deletedAtCol))
      merged.filter(col(deletedAtCol).isNull)
    else merged
  }

  /** Fold all deltas into the base (amortized rewrite; clustered by PK
    * hash via repartition so compacted files align with bucket-local
    * reads) and clear consumed deltas. Records the consumed delta files
    * BEFORE merging so a delta landing mid-compaction survives.
    */
  /** Count of base rewrites actually performed by [[compact]] in this
    * JVM — instrumentation for the StressWalTail A/B and the
    * floor-policy spec (a compaction that fires every small batch is
    * the pathology [[DefaultCompactMinDeltaBytes]] exists to remove).
    */
  val compactionCount = new java.util.concurrent.atomic.LongAdder

  def compact(spark: SparkSession, tablePath: String, pks: Seq[String],
              orderCol: String, hardDelete: Boolean = false): Unit = {
    DirCommit.recover(basePath(tablePath))
    val f = DirCommit.fs(spark, tablePath)
    val dp = path(deltaPath(tablePath))
    if (!f.exists(dp)) return
    val consumed = f.listStatus(dp).map(_.getPath).toSeq
    if (consumed.isEmpty) return
    compactionCount.increment()
    val deltas = MergeSink.dedupLastWins(
      spark.read.parquet(consumed.map(_.toString): _*), pks, orderCol)
    val base = spark.read.parquet(basePath(tablePath))
    val merged = MergeSink.merge(base, deltas, pks, hardDelete)
    MergeSink.publish(merged, basePath(tablePath))
    consumed.foreach(p => f.delete(p, true))
  }

  /** Absolute delta-bytes floor below which [[flushAuto]] never
    * compacts. The 10%-of-base trigger alone fires EVERY batch while
    * the base is small (a 1 MB base compacts on every 100 KB delta —
    * the StressWalTail A/B's documented worst case: full rewrites of
    * a table that fits in one task), and the floor removes that
    * pathology without touching the asymptote: once the base passes
    * floor/fraction (~640 MB at the defaults) the fractional trigger
    * dominates and write amplification stays ~1/fraction. 64 MB is
    * one comfortable parquet task's worth — a merged-view read that
    * broadcasts deltas of at most that size costs nothing.
    */
  val DefaultCompactMinDeltaBytes: Long = 64L << 20

  /** Flush with an auto-compaction policy: compact when accumulated
    * delta bytes exceed BOTH `compactDeltaFraction` of base bytes
    * (default 10% — keeps the read-side broadcast small and bounds
    * write amplification to ~1/fraction of a full rewrite per
    * base-volume of changes) and `compactMinDeltaBytes` (the
    * small-base floor — see [[DefaultCompactMinDeltaBytes]]; pass 0
    * to restore the pure fractional trigger).
    */
  def flushAuto(spark: SparkSession, batch: DataFrame, tablePath: String,
                pks: Seq[String], orderCol: String,
                hardDelete: Boolean = false,
                compactDeltaFraction: Double = 0.1,
                compactMinDeltaBytes: Long = DefaultCompactMinDeltaBytes)
      : Unit = {
    flushDelta(spark, batch, tablePath, pks, orderCol, hardDelete)
    val f = DirCommit.fs(spark, tablePath)
    def bytes(p: String): Long =
      if (f.exists(path(p))) f.getContentSummary(path(p)).getLength else 0L
    val b = bytes(basePath(tablePath))
    val d = bytes(deltaPath(tablePath))
    if (b > 0 && d > compactDeltaFraction * b && d > compactMinDeltaBytes)
      compact(spark, tablePath, pks, orderCol, hardDelete)
  }
}
