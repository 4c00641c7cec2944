package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.{Dedup, Similarity}
import graft.sink.{DirCommit, IndexLayout, Sinks}

/** Continuously maintained hierarchical-SemDeDup index — the streaming
  * twin of [[graft.operators.Similarity.buildHierarchyIndexAuto]] +
  * [[graft.operators.Similarity.semanticNearDupsAgainstIndex]]: each
  * arriving micro-batch is assigned through the persisted two-level
  * seeds, screened for semantic near-duplicates against the PRE-batch
  * corpus assignment (pairs out per epoch), and appended to the
  * maintained assignment table as an epoch partition; every
  * `compactEvery` epochs the tail folds into a fresh range-sorted base.
  *
  * The tree GEOMETRY is frozen between rebuilds, like the banded
  * maintainer's hyperplanes: the first batch sizes the hierarchy
  * (`k1 = k2 = ceil(sqrt(n0 / targetClusterSize))`) and selects both
  * seed levels; every later epoch assigns against those persisted
  * frames and NEVER re-derives them — the published-index rule, which
  * is also what keeps every epoch's cluster ids stable so the
  * assignment table stays join-consistent across epochs. The corollary
  * is the IVF-append contract: as the corpus outgrows its bootstrap
  * sizing (or its embedding distribution moves), cluster population
  * and member-mean drift grow and verification cost per batch row
  * grows with them. Since r19 the maintainer WIRES that trigger
  * instead of documenting it: at every compaction boundary it
  * measures the count-weighted mean of
  * [[graft.operators.Similarity.centroidDriftReport]] over the
  * maintained assignment vs the frozen sub-seeds, and when the excess
  * over the layout's recorded bootstrap baseline passes
  * `driftThreshold` it REBUILDS — fresh sqrt sizing and seed
  * selection from the full current corpus, published BESIDE the live
  * tree (`centroids_v<e>` / `subseeds_v<e>` / `assigned_v<e>`) and
  * switched in by one atomic meta promotion, the same crash-ordered
  * swap discipline compaction uses. Probes resolve every directory
  * through the meta, so they read the old tree until the promote and
  * the new tree after it; a crash before the promote leaves orphans
  * the next maintainer entry clears. The drift check costs one
  * corpus-wide mean per compaction window (clusters × dim shuffle
  * rows — the same shape compaction itself pays), nothing
  * per-epoch. Restarting with a different `targetClusterSize` or
  * column names fails loudly.
  *
  * Scale shape per epoch: the batch meets the k1-row centroid frame
  * (broadcast) and the k1×k2-row sub-seed frame (cell-keyed join) —
  * both bounded index artifacts; the exact verification reads ONLY the
  * manifest shards holding the batch's distinct clusters (bounded by
  * |batch|, cap-enforced at `maxClusters` with the probe family's
  * standard full-scan fallback past the cap) plus the batch-sized
  * uncompacted epoch tail. Nothing corpus-proportional is collected,
  * broadcast, or rewritten outside compaction.
  *
  * Exactly-once: pairs and the epoch append are both idempotent
  * (overwrite / stage-and-rename), so the replay check is the standard
  * layout discipline — meta promoted before the append, a replayed
  * epoch that finds its partition present is a no-op, and a crash
  * between meta and append re-runs the epoch body.
  *
  * Reference semantics: the reference has no streaming analogue — this
  * is the SemDeDup published-index shape (Abbas et al. 2023) under the
  * repo's maintained-layout protocol, cited from
  * [[graft.operators.Dedup.semanticNearDups]].
  */
object StreamingHierarchyIndex {

  private val T = IndexLayout.HierarchyAssigned

  /** Excess of current count-weighted mean drift over the recorded
    * bootstrap baseline past which the compaction-boundary check
    * rebuilds the tree. 0.1 of cosine drift is far above seed-choice
    * noise (the baseline subtraction removes that) while catching a
    * distribution that has genuinely moved; deployments tune it like
    * any retrain trigger. `Double.MaxValue` disables the gate.
    */
  val DefaultDriftThreshold = 0.1

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            indexPath: String, pairsOutDir: String, checkpoint: String,
            idCol: String, vecCol: String,
            targetClusterSize: Int = 50,
            shards: Int = 64, compactEvery: Int = 8,
            threshold: Double = 0.9, maxClusters: Int = 4096,
            trigger: Trigger = Trigger.AvailableNow(),
            driftThreshold: Double = DefaultDriftThreshold)
      : StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, indexPath, pairsOutDir, idCol,
          vecCol, targetClusterSize, shards, compactEvery, threshold,
          maxClusters, driftThreshold)
      }
      .start()
  }

  private def paramFields(k1: Int, k2: Int, targetClusterSize: Int,
      idCol: String, vecCol: String, lastEpoch: Long,
      centsDir: String, seedsDir: String,
      driftBaseline: Option[Double]): Seq[(String, Any)] = Seq[(String,
      Any)](
    "k1" -> k1, "k2" -> k2,
    "target_cluster_size" -> targetClusterSize,
    "id_col" -> idCol, "vec_col" -> vecCol,
    "layout" -> "hierarchy_maintained", "last_epoch" -> lastEpoch,
    "centroids_dir" -> centsDir, "subseeds_dir" -> seedsDir) ++
    // absent on pre-r19 layouts until a compaction boundary measures
    // one — never invent a 0.0 that would read as "rebuilt from zero
    // drift" and trip the gate spuriously
    driftBaseline.map("drift_baseline" -> (_: Any)).toSeq

  /** Seed-frame directories resolved through the meta — "centroids" /
    * "subseeds" on layouts published before rebuilds existed,
    * `centroids_v<e>` / `subseeds_v<e>` after a drift-gated rebuild.
    */
  private def centsDirOf(root: org.json4s.JValue): String =
    Dedup.metaStrOpt(root, "centroids_dir").getOrElse("centroids")
  private def seedsDirOf(root: org.json4s.JValue): String =
    Dedup.metaStrOpt(root, "subseeds_dir").getOrElse("subseeds")

  /** The rebuild grace window (r20). A drift-gated rebuild swaps the
    * meta atomically, but an out-of-stream [[probe]] that resolved the
    * OLD meta just before the swap still has lazy scans pointed at the
    * old generation's directories — deleting them at the swap could
    * fail that probe with FileNotFoundException. The rebuild therefore
    * RECORDS the superseded generation (`retired_dirs`, plus
    * `retired_through` = the pre-rebuild compaction watermark so the
    * old meta's visible epoch tail survives too) instead of deleting
    * it; every epoch's meta promote carries the fields forward, entry
    * healing retains the recorded set, and the NEXT compaction
    * boundary — whose fresh meta drops the fields — lets the ordinary
    * cleanup collect them. Mirrors how crash-window epoch orphans are
    * already healed lazily. At most one retired generation exists at a
    * time (a second rebuild replaces the fields; the older generation
    * then ages out at the following entry heal / boundary cleanup).
    */
  private def retiredDirsOf(root: org.json4s.JValue): Set[String] =
    Dedup.metaStrOpt(root, "retired_dirs")
      .map(_.split(',').toSet.filter(_.nonEmpty)).getOrElse(Set.empty)
  private def retiredThroughOf(root: org.json4s.JValue): Option[Long] =
    Dedup.metaLongOpt(root, "retired_through")
  private def retiredFields(root: org.json4s.JValue): Seq[(String, Any)] =
    Dedup.metaStrOpt(root, "retired_dirs").map(ds =>
      Seq[(String, Any)]("retired_dirs" -> ds) ++
        retiredThroughOf(root).map("retired_through" -> (_: Any)).toSeq)
      .getOrElse(Seq.empty)

  /** Count-weighted mean of `1 - cos(cluster member mean, its
    * sub-seed)` over the whole assignment — the scalar the drift gate
    * compares across time. Weighted so a thousand one-member clusters
    * cannot mask one drifted thousand-member cluster.
    */
  private[graft] def weightedDrift(assigned: DataFrame,
      subSeeds: DataFrame, vecCol: String): Double = {
    import org.apache.spark.sql.functions.sum
    val rep = Similarity.centroidDriftReport(assigned,
      subSeeds.select(col("sub_id").as("centroid_id"), col(vecCol)),
      vecCol)
    val row = rep.agg((sum(col("drift") * col("n_vectors")) /
      sum(col("n_vectors"))).as("d")).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      indexPath: String, pairsOutDir: String, idCol: String,
      vecCol: String, targetClusterSize: Int, shards: Int,
      compactEvery: Int, threshold: Double, maxClusters: Int,
      driftThreshold: Double = DefaultDriftThreshold): Unit = {
    require(compactEvery >= 1, "compactEvery must be >= 1")
    require(maxClusters >= 1, "maxClusters must be >= 1")
    val spark = batch.sparkSession
    val f = DirCommit.fs(spark, indexPath)
    IndexLayout.recoverMeta(f, indexPath)
    val metaPath = new Path(indexPath, IndexLayout.MetaFile)

    if (!f.exists(metaPath)) {
      // bootstrap: the first batch IS the corpus — it sizes the tree,
      // selects both seed levels, and becomes the assignment base.
      // The drift BASELINE is measured here: member-mean-vs-sub-seed
      // cosine drift is nonzero even on a fresh tree (a sub-seed is a
      // member, not a mean), so the gate triggers on EXCESS over this
      // recorded starting point, not on the raw number.
      val idx = Similarity.buildHierarchyIndexAuto(batch, idCol,
        vecCol, targetClusterSize)
      idx.centroids.write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$indexPath/centroids")
      idx.subSeeds.write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$indexPath/subseeds")
      val base = s"${T.name}_v$batchId"
      Sinks.writeRangeSorted(idx.assigned, s"$indexPath/$base",
        T.sortCol, shards)
      val baseline = weightedDrift(idx.assigned, idx.subSeeds, vecCol)
      IndexLayout.promoteMeta(f, indexPath, IndexLayout.metaJson(
        paramFields(idx.k1, idx.k2, targetClusterSize, idCol, vecCol,
          batchId, "centroids", "subseeds", Some(baseline)) ++ Seq(
          T.dirField -> base, T.throughField -> batchId)))
      return
    }

    val root = Dedup.readIndexMeta(spark, indexPath)
    val (mk1, mk2) =
      (Dedup.metaInt(root, "k1"), Dedup.metaInt(root, "k2"))
    val mtarget = Dedup.metaInt(root, "target_cluster_size")
    val (mid, mvec) =
      (Dedup.metaStr(root, "id_col"), Dedup.metaStr(root, "vec_col"))
    require(mtarget == targetClusterSize,
      s"hierarchy index at $indexPath was bootstrapped with " +
        s"targetClusterSize=$mtarget; the restarted stream passed " +
        s"targetClusterSize=$targetClusterSize - an epoch cannot " +
        "resize an existing tree (rebuild from a fresh bootstrap)")
    require(mid == idCol && mvec == vecCol,
      s"hierarchy index at $indexPath was published with columns " +
        s"($mid, $mvec), maintained with ($idCol, $vecCol)")
    val lastEpoch = IndexLayout.lastEpoch(root)
    val through = IndexLayout.compactedThrough(root, T)
    val epochDir = new Path(s"$indexPath/${T.epochsSub}/epoch=$batchId")
    if (lastEpoch >= batchId &&
        (through >= batchId || f.exists(epochDir))) return
    // entry healing honors the rebuild grace window: the retired
    // generation's dirs are retained and the epoch tail the OLD meta
    // still resolves (epochs > retired_through) survives until the
    // next compaction boundary drops the retired fields
    IndexLayout.healOrphans(spark, indexPath,
      keepDir = IndexLayout.baseDir(root, T),
      clearEpochsThrough = retiredThroughOf(root).getOrElse(through),
      T, retain = retiredDirsOf(root))

    // 1) assign the batch through the FROZEN seeds and probe the
    //    PRE-batch assignment (epoch-gated, manifest-pruned)
    val (asg, pairs) = assignAndProbe(batch, indexPath, root, idCol,
      vecCol, threshold, maxClusters,
      maxEpochExclusive = Some(batchId), cache = true)
    try {
      pairs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$pairsOutDir/epoch=$batchId")

      // 3) meta, then the epoch append (replay keys on the partition).
      // retiredFields carries a live grace window forward — dropping
      // it here would end the grace one epoch after the rebuild
      IndexLayout.promoteMeta(f, indexPath, IndexLayout.metaJson(
        paramFields(mk1, mk2, targetClusterSize, idCol, vecCol,
          batchId, centsDirOf(root), seedsDirOf(root),
          Dedup.metaDoubleOpt(root, "drift_baseline")) ++
          retiredFields(root) ++ Seq(
          T.dirField -> IndexLayout.baseDir(root, T),
          T.throughField -> through)))
      IndexLayout.appendEpoch(asg, indexPath, batchId, T)
    } finally asg.unpersist()

    // 4) compaction boundary: measure drift FIRST — a tree whose
    //    excess over the bootstrap baseline passes the threshold is
    //    REBUILT (fresh sizing + seeds from the full current corpus,
    //    atomic meta swap — the rebuild subsumes the fold), otherwise
    //    the epoch tail folds into a fresh base as before (a pre-r19
    //    layout with no recorded baseline adopts this boundary's
    //    measurement as its baseline instead of rebuilding on
    //    unknowable history). Reads the layout, not the cached
    //    assignment.
    if (batchId - through >= compactEvery) {
      val root2 = Dedup.readIndexMeta(spark, indexPath)
      rebuildIfDrifted(spark, indexPath, root2, idCol, vecCol,
          targetClusterSize, shards, batchId, driftThreshold) match {
        case None => // rebuilt — the swap already folded the tail
        case Some(carryBaseline) =>
          IndexLayout.compact(spark, indexPath, root2, T.sortCol,
            shards, upTo = batchId,
            metaFields = paramFields(mk1, mk2, targetClusterSize,
              idCol, vecCol, batchId, centsDirOf(root2),
              seedsDirOf(root2), carryBaseline), T)
      }
      cleanupSeedGens(spark, indexPath)
    }
  }

  /** The wired re-bootstrap trigger: compare the CURRENT
    * count-weighted drift of the full maintained assignment against
    * the layout's recorded baseline; past `driftThreshold` of excess,
    * rebuild the tree from the full corpus and swap it in with one
    * meta promotion. Returns None when a rebuild happened (the caller
    * then skips the ordinary fold — the rebuild IS a fold, with fresh
    * cluster ids), otherwise Some(baseline to carry forward) — the
    * recorded baseline, or for layouts published before the field
    * existed, this boundary's measurement (adopted as baseline rather
    * than rebuilding on unknowable history; stays absent while the
    * gate is disabled, so nothing is ever invented).
    */
  private[graft] def rebuildIfDrifted(spark: SparkSession,
      indexPath: String, root: org.json4s.JValue, idCol: String,
      vecCol: String, targetClusterSize: Int, shards: Int,
      epoch: Long, driftThreshold: Double): Option[Option[Double]] = {
    val baselineOpt = Dedup.metaDoubleOpt(root, "drift_baseline")
    if (driftThreshold == Double.MaxValue) return Some(baselineOpt)
    val assigned = IndexLayout.readPostings(spark, indexPath, root,
      points = None, maxEpochExclusive = Some(epoch + 1), T)
    val seeds = spark.read
      .parquet(s"$indexPath/${seedsDirOf(root)}")
    val current = weightedDrift(assigned, seeds, vecCol)
    val drifted = baselineOpt.exists(b => current - b > driftThreshold)
    if (!drifted) return Some(Some(baselineOpt.getOrElse(current)))

    val f = DirCommit.fs(spark, indexPath)
    // the rebuild's corpus STREAMS from the published layout itself —
    // base shards + the uncompacted epoch tail, all parquet already on
    // disk. Each pass of the streamed build re-scans those files; the
    // pre-r20 `localCheckpoint(true)` here eagerly duplicated the
    // whole corpus into executor block storage (at 10⁹ vectors, a
    // second corpus-sized copy of data the layout already holds).
    val corpus = assigned.select(col(idCol), col(vecCol))
    val idx = Similarity.buildHierarchyIndexStreamed(corpus, idCol,
      vecCol, targetClusterSize)
    val (cdir, sdir) = (s"centroids_v$epoch", s"subseeds_v$epoch")
    val adir = s"${T.name}_v$epoch"
    idx.centroids.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexPath/$cdir")
    idx.subSeeds.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexPath/$sdir")
    // ONE pass streams the lazy assignment into the new base; every
    // later consumer (the baseline below, probes after the swap) reads
    // the written copy — the layout-backed spelling end to end
    Sinks.writeRangeSorted(idx.assigned, s"$indexPath/$adir",
      T.sortCol, shards)
    val baseline = weightedDrift(
      spark.read.parquet(s"$indexPath/$adir"), idx.subSeeds, vecCol)
    // the swap: everything above is invisible until this promote (a
    // crash leaves orphans the next maintainer entry clears); after
    // it, probes resolve the new tree end to end. The superseded
    // generation is RECORDED (retired_*), not deleted: an
    // out-of-stream probe that resolved the old meta just before the
    // swap can still run its lazy scans; the next compaction boundary
    // collects the retired dirs (see retiredDirsOf).
    val retired = (Seq(IndexLayout.baseDir(root, T), centsDirOf(root),
      seedsDirOf(root)).distinct.filterNot(
        Seq(adir, cdir, sdir).contains(_))).mkString(",")
    IndexLayout.promoteMeta(f, indexPath, IndexLayout.metaJson(
      paramFields(idx.k1, idx.k2, targetClusterSize, idCol, vecCol,
        epoch, cdir, sdir, Some(baseline)) ++ Seq(
        "retired_dirs" -> retired,
        "retired_through" -> IndexLayout.compactedThrough(root, T),
        T.dirField -> adir, T.throughField -> epoch)))
    None
  }

  /** Drop seed-frame generations the meta no longer points at — the
    * rebuild counterpart of [[IndexLayout.healOrphans]]'s base-dir
    * cleanup, safe at every maintainer entry. Only the exact shapes
    * this maintainer generates (`centroids`/`subseeds` at bootstrap,
    * `..._v<epoch>` from rebuilds) are eligible.
    */
  private def cleanupSeedGens(spark: SparkSession,
                              indexPath: String): Unit = {
    val f = DirCommit.fs(spark, indexPath)
    val root = Dedup.readIndexMeta(spark, indexPath)
    // a live grace window (meta carries retired_dirs) keeps the
    // superseded seed generation; once a compaction boundary promotes
    // a meta without the fields, the same call collects it
    val keep = Set(centsDirOf(root), seedsDirOf(root)) ++
      retiredDirsOf(root)
    val generated = "(centroids|subseeds)(_v\\d+)?".r
    val rootPath = new Path(indexPath)
    if (f.exists(rootPath))
      f.listStatus(rootPath).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory &&
            generated.pattern.matcher(name).matches() &&
            !keep.contains(name))
          f.delete(st.getPath, true)
      }
  }

  /** The shared assign-then-verify body: the batch is assigned
    * through the layout's FROZEN seed frames (the single-pass lazy
    * spelling), and the exact verification reads the manifest shards
    * holding the batch's distinct clusters (bounded by |batch|,
    * cap-enforced; full-scan fallback past the cap) plus the
    * uncompacted epoch tail — extra rows from shard granularity are
    * correctness-neutral because the verification joins on the
    * cluster id.
    *
    * `cache = true` persists the assignment for the caller's multiple
    * consumers (the cluster collect, the pairs join, the maintainer's
    * epoch append) — the caller MUST unpersist it when the epoch's
    * writes complete. The eager-localCheckpoint spelling was measured
    * hoarding block-manager storage across a 20-epoch soak (each
    * epoch's checkpoint lingers until the context cleaner gets to it;
    * epochs 18-19 hit eviction and ran 3-10x slow) — an explicit
    * persist/unpersist pair bounds the maintainer's storage at one
    * batch. `cache = false` (the serving probe) keeps the plan pure:
    * the assign recomputes once for the cluster collect and once
    * inside the returned pairs plan — batch-sized work, zero blocks
    * left behind per probe call.
    */
  private def assignAndProbe(batch: DataFrame, indexPath: String,
      root: org.json4s.JValue, idCol: String, vecCol: String,
      threshold: Double, maxClusters: Int,
      maxEpochExclusive: Option[Long],
      cache: Boolean): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    // seed dirs resolve through the meta: a drift-gated rebuild
    // repoints them atomically with the assignment base
    val cents = spark.read.parquet(s"$indexPath/${centsDirOf(root)}")
    val seeds = spark.read.parquet(s"$indexPath/${seedsDirOf(root)}")
    val asg0 = Similarity.assignToSeedsLazy(batch, cents, seeds,
      idCol, vecCol)
    val asg =
      if (cache) asg0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else asg0
    // the persist above is only handed to the caller (whose
    // try/finally unpersists it) if this method RETURNS — a throw in
    // the collect or the layout read below would otherwise leak one
    // batch-sized persisted frame per failed/retried micro-batch,
    // the same storage-hoarding class the 20-epoch soak fix bounded
    try {
      val picked = asg.select(col("cluster")).distinct()
        .limit(maxClusters + 1).collect().map(_.getLong(0))
      val points =
        if (picked.length > maxClusters) None
        else Some(picked.toIndexedSeq)
      val corpus = IndexLayout.readPostings(spark, indexPath, root,
        points, maxEpochExclusive, T)
      (asg, Dedup.semanticNearDupsAgainst(asg, corpus, idCol, vecCol,
        "cluster", threshold))
    } catch { case e: Throwable =>
      if (cache) asg.unpersist()
      throw e
    }
  }

  /** Probe a MAINTAINED hierarchy layout outside the stream — the
    * [[graft.operators.Similarity.semanticNearDupsAgainstIndex]] twin
    * for this layout: the batch is assigned through the frozen seeds
    * and verified exactly against the manifest-pruned assignment
    * (base shards holding the batch's clusters + the uncompacted
    * epoch tail). Emits `(new_id, corpus_id)`. Safe to serve
    * concurrently with a drift-gated rebuild: the swap retains the
    * superseded generation until the maintainer's next compaction
    * boundary (the `retired_*` grace window), so a probe that
    * resolved the pre-swap meta can still execute its lazy scans.
    */
  def probe(batch: DataFrame, indexPath: String, idCol: String,
            vecCol: String, threshold: Double,
            maxClusters: Int = 4096): DataFrame = {
    val spark = batch.sparkSession
    val root = Dedup.readIndexMeta(spark, indexPath)
    val (mid, mvec) =
      (Dedup.metaStr(root, "id_col"), Dedup.metaStr(root, "vec_col"))
    require(mid == idCol && mvec == vecCol,
      s"hierarchy index at $indexPath was published with columns " +
        s"($mid, $mvec), probed with ($idCol, $vecCol)")
    assignAndProbe(batch, indexPath, root, idCol, vecCol, threshold,
      maxClusters, maxEpochExclusive = None, cache = false)._2
  }
}
