package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** Continuously maintained PUBLISHED minhash signature index — the
  * streaming production shape of the incremental dedup loop: each
  * arriving document batch is (a) screened against the index as it
  * stood BEFORE the batch (near-dup pairs written per epoch), then
  * (b) appended to the index. The maintained directory is readable by
  * [[Dedup.readSignatureIndex]] / probed by
  * [[Dedup.minhashNearDupsAgainstIndex]] at any time.
  *
  * Scale shape — per-epoch cost is O(batch), NEVER O(corpus):
  *  - signatures land as an `epoch=<batchId>` partition subdirectory
  *    (one atomic rename), so the corpus-sized signature table is
  *    never rewritten; the probe's pre-batch view is the partition
  *    filter `epoch < batchId`, which prunes at the file listing.
  *  - the band-key Bloom is OR-MAINTAINED: Bloom bits of a union are
  *    the bitwise OR of the parts' bits (for one (k, m) family), so
  *    each epoch sketches only ITS batch's band keys and ORs them
  *    into the sidecar — no full index rescan per epoch (the r13
  *    publish-time build scans everything; fine once, wrong per
  *    epoch).
  *
  * Failure ordering — the Bloom must always be a SUPERSET of the
  * published signatures (a subset Bloom would FALSE-NEGATIVE real
  * collisions in bloomed probes, silently): the meta sidecar (OR'd
  * bits + `last_epoch`) is promoted BEFORE the epoch partition is
  * renamed in. A crash between the two leaves extra Bloom bits
  * (false positives only — safe) and a missing partition, which the
  * replay detects (`last_epoch >= batchId` but no epoch dir) and
  * repairs idempotently: the probe filters `epoch < batchId`, the OR
  * is idempotent, the rename is skipped if present. Meta promotion
  * itself is [[graft.sink.DirCommit.writeFile]]'s staged replace with a
  * startup recovery for its delete/rename window — and readers
  * ([[graft.sink.IndexLayout.readMeta]]) fall back to the staged copy
  * inside that window, so a concurrent probe never sees a missing
  * sidecar.
  *
  * Layout parameters (shingle k, hash count, banding, Bloom family)
  * are written at bootstrap, READ BACK from the sidecar on every
  * later epoch, and VALIDATED against the caller's — a stream
  * restarted with different knobs fails loudly instead of silently
  * extending the old layout (the r13 published-index lesson).
  * Contract: each document reaches the index exactly once across all
  * epochs (dedup upstream), like every maintainer in this package.
  */
object StreamingSignatureIndex {

  private val Meta = "_index_meta.json"

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            indexPath: String, pairsOutDir: String, checkpoint: String,
            idCol: String, textCol: String,
            k: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
            threshold: Double = 0.5, maxBucket: Int = Int.MaxValue,
            bloomK: Int = 5, bloomM: Int = 1 << 16,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, indexPath, pairsOutDir, idCol,
          textCol, k, numHashes, rowsPerBand, threshold, maxBucket,
          bloomK, bloomM)
      }
      .start()
  }

  /** One epoch: probe the pre-batch index, publish pairs, OR the
    * batch's band keys into the Bloom sidecar, rename the batch's
    * signature partition in. Idempotent under replay at every crash
    * point (see object doc for the ordering argument).
    */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      indexPath: String, pairsOutDir: String, idCol: String,
      textCol: String, k: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double, maxBucket: Int, bloomK: Int,
      bloomM: Int): Unit = {
    val spark = batch.sparkSession
    val fs = graft.sink.DirCommit.fs(spark, indexPath)
    graft.sink.IndexLayout.recoverMeta(fs, indexPath)
    val metaPath = new Path(indexPath, Meta)
    val sigsDir = s"$indexPath/signatures"
    val epochDir = new Path(s"$sigsDir/epoch=$batchId")

    val (oldBits, kk, nh, rpb, bk, lastEpoch) =
      if (!fs.exists(metaPath))
        (Array.fill(bloomM)(0L), k, numHashes, rowsPerBand, bloomK, -1L)
      else {
        val root = graft.sink.IndexLayout.readMeta(spark, indexPath)
        val (bits, bkk) = Dedup.metaBloom(root)
        val skk = Dedup.metaInt(root, "shingle_k")
        val snh = Dedup.metaInt(root, "num_hashes")
        val srpb = Dedup.metaInt(root, "rows_per_band")
        // layout parameters are frozen at bootstrap: a stream restarted
        // with different knobs must FAIL here, not silently extend the
        // index with the old layout while the caller believes the new
        // one is in effect
        require(k == skk && numHashes == snh && rowsPerBand == srpb &&
            bloomK == bkk && bloomM == bits.length,
          s"signature index at $indexPath was bootstrapped with " +
            s"(shingleK=$skk, numHashes=$snh, rowsPerBand=$srpb, " +
            s"bloomK=$bkk, bloomM=${bits.length}); the restarted " +
            s"stream passed (shingleK=$k, numHashes=$numHashes, " +
            s"rowsPerBand=$rowsPerBand, bloomK=$bloomK, bloomM=$bloomM)" +
            " - an epoch cannot re-shingle or re-band an existing index")
        (bits, skk, snh, srpb, bkk,
          Dedup.metaLong(root, "last_epoch"))
      }
    if (lastEpoch >= batchId && fs.exists(epochDir)) return

    // 1) probe the PRE-batch view (partition-pruned) and publish pairs;
    //    the first epoch has nothing to probe. Deterministic under
    //    replay: the epoch filter excludes this batch even if a crash
    //    already renamed its partition in.
    if (fs.exists(new Path(sigsDir))) {
      val preBatch = spark.read.parquet(sigsDir)
        .filter(col("epoch") < batchId)
      Dedup.minhashNearDupsAgainstBloomed(batch, preBatch, idCol,
          textCol, oldBits, bk, kk, nh, rpb, threshold, maxBucket)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$pairsOutDir/epoch=$batchId")
    }

    // 2) stage the batch's signatures as one partition directory
    val sigs = Dedup.minhashSignatures(batch, idCol, textCol, kk, nh)
    val stage = s"$indexPath/.stage_epoch_$batchId"
    sigs.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)

    // 3) OR the batch's band keys into the Bloom and promote the meta
    //    FIRST (superset-before-signatures ordering)
    val batchBits = Dedup.buildMinhashBandBloom(
      spark.read.parquet(stage), nh, rpb, bk, oldBits.length)
    val merged = oldBits.zip(batchBits).map { case (a, b) => a | b }
    graft.sink.IndexLayout.promoteMeta(fs, indexPath,
      graft.sink.IndexLayout.metaJson(Seq(
        "num_hashes" -> nh, "rows_per_band" -> rpb, "shingle_k" -> kk,
        "bloom_k" -> bk, "bloom_m" -> merged.length,
        "last_epoch" -> batchId,
        "bloom_bits" -> Dedup.bitsToString(merged))))

    // 4) publish the partition (single rename; skip if a replay
    //    already placed it)
    if (!fs.exists(epochDir)) {
      fs.mkdirs(epochDir.getParent)
      if (!fs.rename(new Path(stage), epochDir))
        throw new java.io.IOException(
          s"signature index: could not publish $stage as $epochDir")
    } else fs.delete(new Path(stage), true)
  }
}
