package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.sink.{DirCommit, IndexLayout}

/** Continuously maintained BANDED embedding index — the hyperplane-LSH
  * twin of [[StreamingBandedSignatureIndex]], and the proof the
  * [[IndexLayout]] protocol generalizes: this maintainer keeps TWO
  * tables per layout, the band postings AND the id-sorted vector
  * sidecar the probe's exact-cosine verification fetches from
  * ([[IndexLayout.Vectors]]). Each batch is screened against the
  * pre-batch index (pairs out per epoch), then appended to both
  * tables as epoch partitions; every `compactEvery` epochs both fold
  * into fresh range-sorted bases.
  *
  * The hyperplanes are FROZEN at bootstrap (built from the first
  * batch) and every later epoch signs with them — the published-index
  * rule that a probe/epoch may never re-derive planes, applied to the
  * maintainer itself. Restarting with different `numPlanes`/`bandBits`
  * fails loudly.
  *
  * Ordering note beyond the signature maintainer: the VECTORS epoch
  * renames in BEFORE the postings epoch, and the replay check keys on
  * the postings partition — so whenever a posting row is visible, the
  * vector row its verification needs is visible too. (The reverse
  * order could permanently lose pairs: a crash between the two
  * appends would leave postings whose candidate ids inner-join
  * against no stored vector, and the replay would see the postings
  * partition and skip the repair.)
  */
object StreamingBandedEmbeddingIndex {

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            indexPath: String, pairsOutDir: String, checkpoint: String,
            idCol: String, vecCol: String,
            numPlanes: Int = 32, bandBits: Int = 16,
            shards: Int = 64, compactEvery: Int = 8,
            threshold: Double = 0.9,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, indexPath, pairsOutDir, idCol,
          vecCol, numPlanes, bandBits, shards, compactEvery, threshold)
      }
      .start()
  }

  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      indexPath: String, pairsOutDir: String, idCol: String,
      vecCol: String, numPlanes: Int, bandBits: Int, shards: Int,
      compactEvery: Int, threshold: Double): Unit = {
    require(compactEvery >= 1, "compactEvery must be >= 1")
    val spark = batch.sparkSession
    val f = DirCommit.fs(spark, indexPath)
    IndexLayout.recoverMeta(f, indexPath)
    val metaPath = new Path(indexPath, IndexLayout.MetaFile)

    def paramFields(lastEpoch: Long): Seq[(String, Any)] = Seq(
      "num_planes" -> numPlanes, "band_bits" -> bandBits,
      "shards" -> shards, "layout" -> "banded_postings",
      "last_epoch" -> lastEpoch)

    def vectorsOf(b: DataFrame): DataFrame =
      b.select(col(idCol).as("id"), col(vecCol).as("v"))

    if (!f.exists(metaPath)) {
      // bootstrap: planes from the first batch, which IS the base
      val idx = Dedup.buildEmbeddingIndex(batch, idCol, vecCol,
        numPlanes, bandBits)
      idx.planes.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$indexPath/planes")
      val pBase = s"postings_v$batchId"
      val vBase = s"vectors_v$batchId"
      graft.sink.Sinks.writeRangeSorted(
        Dedup.embPostingsOfSigs(idx.sigs, numPlanes, bandBits),
        s"$indexPath/$pBase", "bh", shards)
      graft.sink.Sinks.writeRangeSorted(vectorsOf(batch),
        s"$indexPath/$vBase", "id", shards)
      IndexLayout.promoteMeta(f, indexPath, IndexLayout.metaJson(
        paramFields(batchId) ++ Seq(
          "postings_dir" -> pBase, "compacted_through" -> batchId,
          "vectors_dir" -> vBase,
          "vectors_compacted_through" -> batchId)))
      return
    }

    val root = Dedup.readIndexMeta(spark, indexPath)
    val (snp, sbb) = (Dedup.metaInt(root, "num_planes"),
      Dedup.metaInt(root, "band_bits"))
    require(numPlanes == snp && bandBits == sbb,
      s"banded embedding index at $indexPath was bootstrapped with " +
        s"(numPlanes=$snp, bandBits=$sbb); the restarted stream " +
        s"passed (numPlanes=$numPlanes, bandBits=$bandBits) - an " +
        "epoch cannot re-plane or re-band an existing index")
    // This maintainer's pre-batch probe verifies against the layout's
    // OWN vector sidecar (corpusEmb is never consumed past bootstrap).
    // A batch-published layout whose params validate but that was
    // written without writeIndexVectors has no sidecar — the probe
    // would silently verify each batch against itself (empty pairs
    // every epoch) until the first vectors compaction crashed on the
    // missing base dir. Fail as loudly as the param check instead.
    val vecsBase =
      s"$indexPath/${IndexLayout.baseDir(root, IndexLayout.Vectors)}"
    require(graft.sink.Sinks.hasRangeManifest(spark, vecsBase),
      s"banded embedding index at $indexPath has no range-sorted " +
        s"vector sidecar at $vecsBase - the streaming maintainer " +
        "requires a layout bootstrapped by this maintainer or " +
        "published with writeIndexVectors")
    val lastEpoch = IndexLayout.lastEpoch(root)
    val through = IndexLayout.compactedThrough(root)
    val postingEpoch =
      new Path(s"$indexPath/epochs/epoch=$batchId")
    if (lastEpoch >= batchId &&
        (through >= batchId || f.exists(postingEpoch))) return
    IndexLayout.healOrphans(spark, indexPath,
      keepDir = IndexLayout.baseDir(root),
      clearEpochsThrough = through)
    IndexLayout.healOrphans(spark, indexPath,
      keepDir = IndexLayout.baseDir(root, IndexLayout.Vectors),
      clearEpochsThrough =
        IndexLayout.compactedThrough(root, IndexLayout.Vectors),
      IndexLayout.Vectors)

    // 1) probe the PRE-batch view (postings AND vectors epoch-gated);
    //    the maintained layout carries its own vector sidecar, so no
    //    caller-side corpus table exists to pass
    Dedup.embeddingNearDupsAgainstBandedIndexOpt(batch, None,
        indexPath, idCol, vecCol, threshold,
        maxPoints = Dedup.DefaultMaxProbePoints,
        maxEpochExclusive = Some(batchId))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$pairsOutDir/epoch=$batchId")

    // 2) meta, then VECTORS, then postings (see ordering note)
    IndexLayout.promoteMeta(f, indexPath, IndexLayout.metaJson(
      paramFields(batchId) ++ Seq(
        "postings_dir" -> IndexLayout.baseDir(root),
        "compacted_through" -> through,
        "vectors_dir" -> IndexLayout.baseDir(root, IndexLayout.Vectors),
        "vectors_compacted_through" ->
          IndexLayout.compactedThrough(root, IndexLayout.Vectors))))
    IndexLayout.appendEpoch(vectorsOf(batch), indexPath, batchId,
      IndexLayout.Vectors)
    val planes = spark.read.parquet(s"$indexPath/planes")
    IndexLayout.appendEpoch(
      Dedup.embPostingsOfSigs(
        Dedup.embSignWithPlanes(batch, planes, idCol, vecCol),
        numPlanes, bandBits),
      indexPath, batchId)

    // 3) fold both epoch tails once they are long enough. Postings
    //    compact first: its meta promotion must carry the vectors'
    //    CURRENT pointers, and the vectors compact then carries the
    //    postings' NEW ones.
    if (batchId - through >= compactEvery) {
      val root2 = Dedup.readIndexMeta(spark, indexPath)
      IndexLayout.compact(spark, indexPath, root2, "bh", shards,
        upTo = batchId, metaFields = paramFields(batchId) ++ Seq(
          "vectors_dir" ->
            IndexLayout.baseDir(root2, IndexLayout.Vectors),
          "vectors_compacted_through" ->
            IndexLayout.compactedThrough(root2, IndexLayout.Vectors)))
      val root3 = Dedup.readIndexMeta(spark, indexPath)
      IndexLayout.compact(spark, indexPath, root3, "id", shards,
        upTo = batchId, metaFields = paramFields(batchId) ++ Seq(
          "postings_dir" -> IndexLayout.baseDir(root3),
          "compacted_through" ->
            IndexLayout.compactedThrough(root3)),
        IndexLayout.Vectors)
    }
  }
}
