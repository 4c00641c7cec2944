package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, min}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.sink.{DirCommit, IndexLayout, Sinks}

/** Continuously maintained PUBLISHED Jaccard index — the AllPairs
  * family's maintainer, completing the set (exact / minhash flat /
  * minhash banded / embedding banded / Jaccard). Three tables ride
  * one layout:
  *
  *  - `dfreq` — FROZEN between compactions. The AllPairs prefix
  *    theorem needs ONE global gram order shared by every indexed
  *    prefix and every probe; epoch appends and probes both rank by
  *    the bootstrap-frozen `(df asc, g asc)` order, with grams the
  *    frozen table has never seen ranking rarest-first (df = 0) — a
  *    consistent extension, so soundness (no false negatives) holds
  *    for every corpus/batch pairing.
  *  - `prefix` — epoch-appended ([[IndexLayout.JaccardPrefix]]),
  *    batch prefixes computed under the frozen order.
  *  - `sets` — epoch-appended ([[IndexLayout.JaccardSets]]); exact
  *    verification reads candidate ids' shards.
  *
  * Because verification computes TRUE Jaccard from the stored sets,
  * the final pair output is identical whether prefixes were selected
  * under the frozen order or a from-scratch rebuild's re-frozen one —
  * append ≡ rebuild holds on OUTPUT, not just on soundness
  * (spec-asserted). Compaction re-freezes: it rebuilds all three
  * tables from the accumulated sets (`jaccardArtifactsOfSets`) and a
  * fresh prefix-gram Bloom, promoted by one meta write.
  *
  * The Bloom sidecar is OR-maintained per epoch over the batch's
  * frozen-order prefix grams (union Bloom = bitwise OR), promoted
  * BEFORE the partitions rename in — always a superset of the
  * published prefixes (false positives only). Append order: SETS
  * first, prefix last, replay keyed on the prefix partition — a
  * visible prefix row must always find its stored set, or a crash
  * between the appends would silently drop verified pairs forever.
  */
object StreamingJaccardIndex {

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            indexPath: String, pairsOutDir: String, checkpoint: String,
            idCol: String, textCol: String,
            k: Int = 3, threshold: Double = 0.8, shards: Int = 64,
            compactEvery: Int = 8, bloomK: Int = 5,
            bloomM: Int = 1 << 16,
            maxGramPostings: Int = Int.MaxValue,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, indexPath, pairsOutDir, idCol,
          textCol, k, threshold, shards, compactEvery, bloomK, bloomM,
          maxGramPostings)
      }
      .start()
  }

  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      indexPath: String, pairsOutDir: String, idCol: String,
      textCol: String, k: Int, threshold: Double, shards: Int,
      compactEvery: Int, bloomK: Int, bloomM: Int,
      maxGramPostings: Int = Int.MaxValue): Unit = {
    require(compactEvery >= 1, "compactEvery must be >= 1")
    val spark = batch.sparkSession
    val f = DirCommit.fs(spark, indexPath)
    IndexLayout.recoverMeta(f, indexPath)
    val metaPath = new Path(indexPath, IndexLayout.MetaFile)

    def paramFields(lastEpoch: Long): Seq[(String, Any)] = Seq(
      "shingle_k" -> k, "threshold" -> threshold, "shards" -> shards,
      "layout" -> "jaccard_maintained", "last_epoch" -> lastEpoch)

    // publish a freshly-frozen three-table generation at `upTo` (the
    // bootstrap IS a compaction of the first batch alone)
    def publishFrozen(sets: DataFrame, upTo: Long): Unit = {
      Sinks.writeRangeSorted(sets, s"$indexPath/sets_v$upTo", "id",
        shards)
      val setsW = spark.read.parquet(s"$indexPath/sets_v$upTo")
      val (dfreqN, prefixN) =
        Dedup.jaccardArtifactsOfSets(setsW, threshold)
      Sinks.writeRangeSorted(dfreqN, s"$indexPath/dfreq_v$upTo", "g",
        shards)
      Sinks.writeRangeSorted(prefixN, s"$indexPath/prefix_v$upTo", "g",
        shards)
      val prefixW = spark.read.parquet(s"$indexPath/prefix_v$upTo")
      // guard-count sidecar (r16): base `(g, n, hub)` over the fresh
      // prefix — probes read these vocabulary-sized rows instead of
      // recounting the posting table (linear in the index; the
      // 20-epoch soak's dominant apply cost on small-vocab corpora)
      val gcountsN = prefixW.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("hub"))
      Sinks.writeRangeSorted(gcountsN,
        s"$indexPath/gcounts_v$upTo", "g", shards)
      val bits = Dedup.buildIndexBloom(prefixW, "g", bloomK, bloomM)
      IndexLayout.promoteMeta(f, indexPath, IndexLayout.metaJson(
        paramFields(upTo) ++ Seq(
          "bloom_k" -> bloomK, "bloom_m" -> bits.length,
          "bloom_bits" -> Dedup.bitsToString(bits),
          "dfreq_dir" -> s"dfreq_v$upTo",
          "sets_dir" -> s"sets_v$upTo",
          "sets_compacted_through" -> upTo,
          "prefix_dir" -> s"prefix_v$upTo",
          "prefix_compacted_through" -> upTo,
          "gcounts_dir" -> s"gcounts_v$upTo",
          "gcounts_compacted_through" -> upTo,
          // table schemas travel in the meta (r17, the batch-publish
          // discipline at writeJaccardIndex): readers open every
          // table — base AND epoch tail — with spark.read.schema, so
          // a maintained layout costs zero Spark jobs to OPEN (the
          // SQL TVFs' planning invariant). A compaction of a pre-r16
          // pos-less generation re-freezes through
          // jaccardArtifactsOfSets, so schema_prefix gains `pos`
          // here and the PPJoin positional filter turns on
          "schema_sets" -> setsW.schema.toDDL,
          "schema_dfreq" -> dfreqN.schema.toDDL,
          "schema_prefix" -> prefixW.schema.toDDL,
          "schema_gcounts" -> gcountsN.schema.toDDL)))
      Seq(IndexLayout.JaccardSets -> s"sets_v$upTo",
          IndexLayout.JaccardPrefix -> s"prefix_v$upTo",
          IndexLayout.JaccardDfreq -> s"dfreq_v$upTo",
          IndexLayout.JaccardGramCounts -> s"gcounts_v$upTo")
        .foreach { case (t, keep) =>
          IndexLayout.healOrphans(spark, indexPath, keep, upTo, t) }
    }

    if (!f.exists(metaPath)) {
      publishFrozen(
        Dedup.hashedShingleSets(batch, idCol, textCol, k), batchId)
      return
    }

    val root = IndexLayout.readMeta(spark, indexPath)
    val (skk, st, ssh) = (Dedup.metaInt(root, "shingle_k"),
      Dedup.metaDouble(root, "threshold"),
      Dedup.metaInt(root, "shards"))
    require(k == skk && threshold == st && shards == ssh,
      s"jaccard index at $indexPath was bootstrapped with " +
        s"(shingleK=$skk, threshold=$st, shards=$ssh); the restarted " +
        s"stream passed (shingleK=$k, threshold=$threshold, " +
        s"shards=$shards) - an epoch cannot re-shingle or re-rank an " +
        "existing index")
    val lastEpoch = IndexLayout.lastEpoch(root)
    // a layout published before the gcounts sidecar existed keeps its
    // old protocol until the next compaction re-freezes with the full
    // table set — probes fall back to recounting until then
    val hasCounts =
      IndexLayout.hasTable(root, IndexLayout.JaccardGramCounts)
    // replay keys on the table appended LAST (gcounts when present):
    // a crash between appends must re-run the batch, and a missing
    // counts epoch only ever UNDERCOUNTS (guard relaxes — exact
    // output), never overcounts
    val replayTable =
      if (hasCounts) IndexLayout.JaccardGramCounts
      else IndexLayout.JaccardPrefix
    val through = IndexLayout.compactedThrough(root, replayTable)
    val replayEpoch = new Path(
      s"$indexPath/${replayTable.epochsSub}/epoch=$batchId")
    if (lastEpoch >= batchId &&
        (through >= batchId || f.exists(replayEpoch))) return
    (Seq(IndexLayout.JaccardSets, IndexLayout.JaccardPrefix,
        IndexLayout.JaccardDfreq) ++
      (if (hasCounts) Seq(IndexLayout.JaccardGramCounts) else Nil))
      .foreach { t =>
        IndexLayout.healOrphans(spark, indexPath,
          keepDir = IndexLayout.baseDir(root, t),
          clearEpochsThrough = IndexLayout.compactedThrough(root, t), t)
      }

    // 1) probe the PRE-batch view and publish pairs (epoch-gated
    //    prefix/sets; frozen dfreq)
    Dedup.ngramJaccardAgainstPath(batch, indexPath, idCol, textCol,
        maxEpochExclusive = Some(batchId),
        maxGramPostings = maxGramPostings)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$pairsOutDir/epoch=$batchId")

    // 2) batch artifacts under the FROZEN order; Bloom OR'd and meta
    //    promoted FIRST (superset-before-prefixes), then SETS, then
    //    prefix (replay keys on prefix — see object doc)
    val nsets = Dedup.hashedShingleSets(batch, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreqDir = s"$indexPath/${IndexLayout.baseDir(root,
      IndexLayout.JaccardDfreq)}"
    // epoch partitions must union with the BASE prefix table: a
    // pre-r16 base has no `pos` column (the PPJoin positional-filter
    // payload), so appends to such a layout drop it — the next
    // compaction re-freezes with the full r16 schema
    val prefixBaseCols = spark.read.parquet(
      s"$indexPath/${IndexLayout.baseDir(root,
        IndexLayout.JaccardPrefix)}").columns
    val dfreqW = spark.read.parquet(dfreqDir)
    val batchPrefixAll = Dedup.frozenOrderPrefix(nsets, dfreqW,
      threshold)
    val batchPrefix = (if (prefixBaseCols.contains("pos"))
        batchPrefixAll else batchPrefixAll.drop("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gcountsBatch = batchPrefix.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("hub"))
    val (oldBits, bk) = Dedup.metaBloom(root)
    val batchBits = Dedup.buildIndexBloom(batchPrefix, "g", bk,
      oldBits.length)
    val merged = oldBits.zip(batchBits).map { case (a, b) => a | b }
    IndexLayout.promoteMeta(f, indexPath, IndexLayout.metaJson(
      paramFields(batchId) ++ Seq(
        "bloom_k" -> bk, "bloom_m" -> merged.length,
        "bloom_bits" -> Dedup.bitsToString(merged),
        "dfreq_dir" -> IndexLayout.baseDir(root,
          IndexLayout.JaccardDfreq),
        "sets_dir" -> IndexLayout.baseDir(root,
          IndexLayout.JaccardSets),
        "sets_compacted_through" -> IndexLayout.compactedThrough(root,
          IndexLayout.JaccardSets),
        "prefix_dir" -> IndexLayout.baseDir(root,
          IndexLayout.JaccardPrefix),
        "prefix_compacted_through" -> IndexLayout.compactedThrough(
          root, IndexLayout.JaccardPrefix),
        // epochs inherit the base schemas by construction, so the
        // recorded schemas stay true for the whole generation (a
        // pre-r16 pos-less base records a pos-less schema_prefix —
        // the upgrade happens at compaction, never mid-generation)
        "schema_sets" -> nsets.schema.toDDL,
        "schema_dfreq" -> dfreqW.schema.toDDL,
        "schema_prefix" -> batchPrefix.schema.toDDL) ++
      (if (hasCounts) Seq(
        "gcounts_dir" -> IndexLayout.baseDir(root,
          IndexLayout.JaccardGramCounts),
        "gcounts_compacted_through" -> IndexLayout.compactedThrough(
          root, IndexLayout.JaccardGramCounts),
        "schema_gcounts" -> gcountsBatch.schema.toDDL)
       else Nil)))
    IndexLayout.appendEpoch(nsets, indexPath, batchId,
      IndexLayout.JaccardSets)
    IndexLayout.appendEpoch(batchPrefix, indexPath, batchId,
      IndexLayout.JaccardPrefix)
    // the guard-count delta rides the SAME epoch id, appended last
    // (replay keys on it): an exact per-gram rollup of this batch's
    // prefix rows, folded with the base counts at probe time
    if (hasCounts)
      IndexLayout.appendEpoch(gcountsBatch, indexPath, batchId,
        IndexLayout.JaccardGramCounts)
    nsets.unpersist(); batchPrefix.unpersist()

    // 3) compaction: re-freeze the order from the accumulated sets
    if (batchId - through >= compactEvery) {
      val root2 = IndexLayout.readMeta(spark, indexPath)
      publishFrozen(
        IndexLayout.readPostings(spark, indexPath, root2, None,
          Some(batchId + 1), IndexLayout.JaccardSets),
        batchId)
    }
  }
}
