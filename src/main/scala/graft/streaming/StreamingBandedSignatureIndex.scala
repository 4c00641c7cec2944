package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.sink.{DirCommit, IndexLayout}

/** Continuously maintained BANDED-POSTINGS minhash index — the
  * streaming maintainer for the probe-optimized layout
  * ([[Dedup.writeBandedSignatureIndex]]), closing the flat
  * maintainer's documented residual: [[StreamingSignatureIndex]]'s
  * per-epoch probe scans the whole flat signature table, so probe
  * latency grows with the indexed corpus; the banded layout's
  * manifest-pruned point reads keep it flat, but epoch appends would
  * break its range-sorted shard invariant. The resolution:
  *
  *  - each batch's postings land as an `epochs/epoch=<n>` partition
  *    (small, batch-sized, read whole by probes);
  *  - the range-sorted base shards stay immutable between
  *    compactions;
  *  - every `compactEvery` epochs the appends fold into a fresh base
  *    (`postings_v<n>`) and the meta re-points at it — probes return
  *    to pure manifest-pruned reads, and the epoch tail never grows
  *    beyond `compactEvery` batches.
  *
  * Probes need no cooperation: [[Dedup.minhashNearDupsAgainstBandedIndex]]
  * resolves base + epoch tail through the meta
  * ([[IndexLayout.readPostings]]) and works mid-stream at any time.
  *
  * Crash ordering (all through one meta promotion, exactly the
  * [[StreamingSignatureIndex]] argument): the meta (`last_epoch`) is
  * promoted BEFORE the epoch partition renames in — a crash between
  * the two is detected by the replay (`last_epoch >= batchId` but no
  * partition, `compacted_through < batchId`) and repaired
  * idempotently. Compaction writes the new base to a versioned
  * directory FIRST; until its meta promotes, readers resolve the old
  * base + epochs and the new directory is an orphan the re-run
  * overwrites. After promotion, superseded dirs are garbage that
  * [[IndexLayout.healOrphans]] clears on every maintainer entry.
  *
  * Layout parameters are frozen at bootstrap and validated against
  * the caller's on every epoch, like the flat maintainer. Contract:
  * each document reaches the index exactly once across all epochs.
  */
object StreamingBandedSignatureIndex {

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            indexPath: String, pairsOutDir: String, checkpoint: String,
            idCol: String, textCol: String,
            k: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
            shards: Int = 64, compactEvery: Int = 8,
            threshold: Double = 0.5,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, indexPath, pairsOutDir, idCol,
          textCol, k, numHashes, rowsPerBand, shards, compactEvery,
          threshold)
      }
      .start()
  }

  /** One epoch: probe the pre-batch view (pairs out), append the
    * batch's postings as an epoch partition, compact when the epoch
    * tail reaches `compactEvery`. Idempotent under replay at every
    * crash point (see object doc).
    */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      indexPath: String, pairsOutDir: String, idCol: String,
      textCol: String, k: Int, numHashes: Int, rowsPerBand: Int,
      shards: Int, compactEvery: Int, threshold: Double): Unit = {
    require(compactEvery >= 1, "compactEvery must be >= 1")
    val spark = batch.sparkSession
    val f = DirCommit.fs(spark, indexPath)
    IndexLayout.recoverMeta(f, indexPath)
    val metaPath = new Path(indexPath, IndexLayout.MetaFile)

    def paramFields(lastEpoch: Long): Seq[(String, Any)] = Seq(
      "num_hashes" -> numHashes, "rows_per_band" -> rowsPerBand,
      "shingle_k" -> k, "shards" -> shards,
      "layout" -> "banded_postings", "last_epoch" -> lastEpoch)

    if (!f.exists(metaPath)) {
      // bootstrap: the first batch IS the base layout (pre-compacted,
      // empty epoch tail); nothing to probe yet
      val postings = Dedup.bandedPostingsOf(
        Dedup.minhashSignatures(batch, idCol, textCol, k, numHashes),
        idCol, numHashes, rowsPerBand)
      val baseDir = s"postings_v$batchId"
      graft.sink.Sinks.writeRangeSorted(postings,
        s"$indexPath/$baseDir", "bh", shards)
      IndexLayout.promoteMeta(f, indexPath, IndexLayout.metaJson(
        paramFields(batchId) ++ Seq("postings_dir" -> baseDir,
          "compacted_through" -> batchId)))
      return
    }

    val root = IndexLayout.readMeta(spark, indexPath)
    val (skk, snh, srpb) = (Dedup.metaInt(root, "shingle_k"),
      Dedup.metaInt(root, "num_hashes"),
      Dedup.metaInt(root, "rows_per_band"))
    require(k == skk && numHashes == snh && rowsPerBand == srpb,
      s"banded signature index at $indexPath was bootstrapped with " +
        s"(shingleK=$skk, numHashes=$snh, rowsPerBand=$srpb); the " +
        s"restarted stream passed (shingleK=$k, numHashes=$numHashes, " +
        s"rowsPerBand=$rowsPerBand) - an epoch cannot re-shingle or " +
        "re-band an existing index")
    val lastEpoch = IndexLayout.lastEpoch(root)
    val through = IndexLayout.compactedThrough(root)
    val epochDir = new Path(s"$indexPath/epochs/epoch=$batchId")
    if (lastEpoch >= batchId &&
        (through >= batchId || f.exists(epochDir))) return
    IndexLayout.healOrphans(spark, indexPath,
      keepDir = IndexLayout.postingsDir(root),
      clearEpochsThrough = through)

    // 1) probe the PRE-batch view and publish pairs — deterministic
    //    under replay: only epochs/base strictly below batchId are
    //    visible to the probe
    Dedup.minhashNearDupsAgainstBandedIndex(batch, indexPath, idCol,
        textCol, threshold, maxEpochExclusive = Some(batchId))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$pairsOutDir/epoch=$batchId")

    // 2) meta first (replay detects the missing partition), then the
    //    epoch partition renames in
    IndexLayout.promoteMeta(f, indexPath, IndexLayout.metaJson(
      paramFields(batchId) ++ Seq(
        "postings_dir" -> IndexLayout.postingsDir(root),
        "compacted_through" -> through)))
    IndexLayout.appendEpoch(Dedup.bandedPostingsOf(
        Dedup.minhashSignatures(batch, idCol, textCol, k, numHashes),
        idCol, numHashes, rowsPerBand),
      indexPath, batchId)

    // 3) fold the epoch tail into a fresh base once it is long enough
    //    (bounded probe overhead: the tail never exceeds compactEvery
    //    batches)
    if (batchId - through >= compactEvery) {
      val newRoot = IndexLayout.readMeta(spark, indexPath)
      IndexLayout.compact(spark, indexPath, newRoot, "bh", shards,
        upTo = batchId, metaFields = paramFields(batchId))
    }
  }
}
