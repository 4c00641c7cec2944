package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only end-to-end LATENCY soak of the three streaming maintainers
  * a long-running deployment leans on hardest — StreamingMerge's
  * partitioned CDC flush, StreamingIndex's inverted-index epochs, and
  * StreamingComponents' incremental label merges — driven for 20+
  * epochs each at sf0.1-scale accumulated state. StressStreamingState
  * proved flat epoch cost for two maintainers over 5 epochs; this tool
  * records the full per-epoch wall/state-size CURVES so epoch-cost
  * growth (e.g. the label table rewrite that scales with accumulated
  * nodes, or partition-rewrite amplification) is a measured number, not
  * an asserted bound. Numbers land in docs/SEARCH_SOAK.md.
  *
  * Usage: runMain graft.tools.StressStreaming [epochs] [workDir]
  * (defaults 20, /tmp/graft-streaming-soak)
  */
object StressStreaming {

  def main(args: Array[String]): Unit = {
    val epochs = if (args.length > 0) args(0).toInt else 20
    val workDir = if (args.length > 1) args(1)
      else "/tmp/graft-streaming-soak"
    // optional section selector:
    // all | merge | index | components | sig | banded | emb | jaccard
    //   | hier
    val only = if (args.length > 2) args(2) else "all"
    def want(s: String): Boolean = only == "all" || only == s
    val spark = graft.Sessions.start()

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def dirBytes(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }
    def curve(name: String, pts: Seq[(Double, Long, Long)]): Unit = {
      println(s"[stress-streaming] $name per-epoch " +
        "(wall_sec/state_rows/state_mb):")
      println("  " + pts.zipWithIndex.map { case ((w, r, b), i) =>
        f"e$i=$w%.1fs/$r/${b / 1000000}MB" }.mkString(" "))
    }

    // ---- StreamingMerge (partitioned CDC flush): epochs of 100k
    // changes — 80% updates of already-present keys, 20% inserts — into
    // a table that grows toward 2M+ live rows. Flat-epoch claim: the
    // flush rewrites only the PK-hash partitions the batch touches.
    val mergePath = s"$workDir/merge-table"
    val mergeCurve = if (!want("merge")) Nil
    else (0 until epochs).map { ep =>
      val base = ep * 20000L // 20k fresh keys per epoch
      val inserts = spark.range(base, base + 20000L)
        .select(col("id"), lit(ep.toLong).as("ver"),
          concat(lit(s"payload-e$ep-"), col("id")).as("payload"))
      val updates =
        if (ep == 0) inserts.limit(0)
        else spark.range(80000L)
          .select(pmod(xxhash64(col("id"), lit(ep)), lit(base)).as("id"),
            lit(ep.toLong).as("ver"),
            concat(lit(s"update-e$ep-"), col("id")).as("payload"))
      val batch = inserts.unionByName(updates)
        .withColumn("_sdc_deleted_at", lit(null).cast("timestamp"))
      val w = timed(graft.sink.MergeSink.flushPartitioned(
        spark, batch, mergePath, Seq("id"), "ver", numParts = 64))
      (w, spark.read.parquet(mergePath).count(), dirBytes(mergePath))
    }
    curve("merge_partitioned_cdc", mergeCurve)

    // ---- StreamingIndex: epochs of 20k fresh docs into the maintained
    // inverted index (cap 1000). State is vocab-bounded (70-word synth
    // vocab x cap) — the curve should be FLAT in rows after the caps
    // saturate even as indexed docs grow linearly.
    val indexPath = s"$workDir/index-table"
    val idxCurve = if (!want("index")) Nil
    else (0 until epochs).map { ep =>
      val batch = StressCurate
        .synthesize(spark, (ep + 1) * 20000L)
        .filter(col("doc_id") >= ep * 20000L)
      val w = timed(callIndexEpoch(batch, ep.toLong, indexPath))
      (w, spark.read.parquet(indexPath).count(), dirBytes(indexPath))
    }
    curve("inverted_index_epochs", idxCurve)

    // ---- StreamingComponents: epochs of 52k chain edges + 2k bridges
    // into the previous epoch's range. Touched-component recompute is
    // bounded per epoch; the label TABLE grows linearly — the rewrite
    // cost curve is the honest number this soak exists to record.
    val compPath = s"$workDir/comp-state"
    val compCurve = if (!want("components")) Nil
    else (0 until epochs).map { ep =>
      val base = ep * 260000L
      val chains = spark.range(52000L)
        .select((col("id") * 5 + base).as("id_a"),
          (col("id") * 5 + base + 1).as("id_b"))
      val batch =
        if (ep == 0) chains
        else chains.union(spark.range(2000L)
          .select((col("id") * 5 + base).as("id_a"),
            (col("id") * 5 + (base - 260000L)).as("id_b")))
      val w = timed(graft.streaming.StreamingComponents.applyBatch(
        batch.toDF(), ep.toLong, compPath, "id_a", "id_b"))
      (w, spark.read.parquet(compPath).count(), dirBytes(compPath))
    }
    curve("components_epochs", compCurve)

    // ---- StreamingSignatureIndex (r14): epochs of 50k docs from ONE
    // synthesized universe (the dup-basis modulus depends on the total,
    // and the probe needs real cross-epoch duplicates to find) into the
    // maintained published signature index. Append + Bloom-OR are
    // O(batch); the per-epoch PROBE scans the whole banded index
    // map-side (no shuffle, but a linear scan) — the curve records that
    // honest growth alongside the flat append.
    val sigIdxPath = s"$workDir/sig-index"
    val sigPairsPath = s"$workDir/sig-pairs"
    // the 1M-doc sig universe and its probe slice serve ONLY the sig
    // and banded sections — lazy + gated so a selector run of another
    // section never synthesizes, persists, or materializes them
    val needSig = want("sig") || want("banded")
    lazy val sigDocs = StressCurate.synthesize(spark, epochs * 50000L)
      .select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigCurve = if (!want("sig")) Nil
    else (0 until epochs).map { ep =>
      val batch = sigDocs.filter(col("doc_id") >= ep * 50000L &&
        col("doc_id") < (ep + 1) * 50000L)
      val w = timed(graft.streaming.StreamingSignatureIndex.applyBatch(
        batch, ep.toLong, sigIdxPath, sigPairsPath, "doc_id", "text",
        3, 12, 3, 0.5, 1024, 5, 1 << 16))
      (w, spark.read.parquet(s"$sigIdxPath/signatures").count(),
        dirBytes(sigIdxPath))
    }
    curve("signature_index_epochs", sigCurve)

    // ---- StreamingBandedSignatureIndex (r15): the banded-postings
    // maintainer over the SAME universe. Two claims: (a) per-epoch
    // maintenance is O(batch + epoch tail), with the fold cost
    // visible only at compaction epochs; (b) the SERVING probe latency
    // stays FLAT as the index grows — manifest-pruned point reads are
    // the answer to the flat maintainer's linear-scan residual, whose
    // honest growth the sig_index curve above records. The probe is a
    // fixed 1k-doc batch timed against the maintained layout after
    // every epoch.
    val bandIdxPath = s"$workDir/band-index"
    val bandPairsPath = s"$workDir/band-pairs"
    val bandCurve = if (!want("banded")) Nil
    else {
      val probeDocs = sigDocs.filter(col("doc_id") % 997 === 0)
        .limit(1000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      probeDocs.count()
      val c = (0 until epochs).map { ep =>
        val batch = sigDocs.filter(col("doc_id") >= ep * 50000L &&
          col("doc_id") < (ep + 1) * 50000L)
        val w = timed(
          graft.streaming.StreamingBandedSignatureIndex.applyBatch(
            batch, ep.toLong, bandIdxPath, bandPairsPath, "doc_id",
            "text", 3, 12, 3, 64, 8, 0.5))
        val p = timed(graft.operators.Dedup
          .minhashNearDupsAgainstBandedIndex(probeDocs, bandIdxPath,
            "doc_id", "text").count())
        (w, p)
      }
      probeDocs.unpersist()
      c
    }
    // drop the 1M-doc cache BEFORE the spill-prone emb/jaccard
    // sections — holding it through them cost the exact /tmp headroom
    // those sections exhaust
    if (needSig) sigDocs.unpersist()
    bandCurve.zipWithIndex.foreach { case ((w, p), ep) =>
      println(f"[stress-streaming] banded_signature_epochs epoch=$ep " +
        f"apply_sec=$w%.2f probe_sec=$p%.2f")
    }

    // ---- StreamingBandedEmbeddingIndex (r15): the TWO-table banded
    // maintainer (postings + id-sorted vector sidecar). Same claims as
    // the signature twin over 100k-vector epochs — flat apply with the
    // fold visible at compaction epochs, flat serving-probe latency —
    // plus the id-pruned exact-cosine verification staying correct
    // mid-stream (the probe's corpus argument is a poisoned frame;
    // wrong fetches would change pair counts). Vectors are the
    // lowmatch construction: near-orthogonal randoms, the probe batch
    // copying corpus ids [0, 1000).
    val embIdxPath = s"$workDir/bandemb-index"
    val embPairsPath = s"$workDir/bandemb-pairs"
    val embDim = 64
    val embComps = (0 until embDim).map { j =>
      ((pmod(xxhash64(col("base_id"), lit(j)), lit(2000L))
        .cast("double") / 1000.0) - 1.0).cast("float")
    }
    def embSlice(lo: Long, hi: Long): org.apache.spark.sql.DataFrame =
      spark.range(lo, hi)
        .select(col("id").as("vec_id"), col("id").as("base_id"))
        .select(col("vec_id"), array(embComps: _*).as("embedding"))
    val embProbe = spark.range(900000000L, 900001000L)
      .select(col("id").as("vec_id"),
        (col("id") - 900000000L).as("base_id"))
      .select(col("vec_id"), array(embComps: _*).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    embProbe.count()
    val poisonedCorpus = spark.range(1)
      .select(col("id").as("vec_id"),
        array((0 until embDim).map(_ => lit(0.0f)): _*).as("embedding"))
    val embCurve = if (!want("emb")) Nil
    else (0 until epochs).map { ep =>
      val batch = embSlice(ep * 100000L, (ep + 1) * 100000L)
      val w = timed(
        graft.streaming.StreamingBandedEmbeddingIndex.applyBatch(
          batch, ep.toLong, embIdxPath, embPairsPath, "vec_id",
          "embedding", 48, 24, 64, 8, 0.9))
      val p = timed(graft.operators.Dedup
        .embeddingNearDupsAgainstBandedIndex(embProbe, poisonedCorpus,
          embIdxPath, "vec_id", "embedding", 0.9).count())
      (w, p)
    }
    embProbe.unpersist()
    embCurve.zipWithIndex.foreach { case ((w, p), ep) =>
      println(f"[stress-streaming] banded_embedding_epochs epoch=$ep " +
        f"apply_sec=$w%.2f probe_sec=$p%.2f")
    }

    // ---- StreamingHierarchyIndex (r18): the maintained SemDeDup
    // hierarchy. The tree is FROZEN between rebuilds (epoch 0 sizes k
    // from its own 100k rows), so cluster POPULATION grows with the
    // corpus while cluster COUNT stays fixed. Since r19 the rebuild
    // trigger is WIRED (drift excess over the bootstrap baseline at
    // compaction boundaries); this soak runs the stationary synthetic
    // distribution, where the gate correctly stays closed, so the
    // curve still measures the frozen-tree trade: apply cost should
    // stay near-flat (assignment is batch x (k1+k2) against frozen
    // seeds; the epoch probe verifies batch x population), and the
    // serving probe's growth tracks population — linear in
    // accumulated corpus over a fixed tree.
    val hierIdxPath = s"$workDir/hier-index"
    val hierPairsPath = s"$workDir/hier-pairs"
    val hierCurve = if (!want("hier")) Nil
    else (0 until epochs).map { ep =>
      val batch = embSlice(ep * 100000L, (ep + 1) * 100000L)
      val w = timed(
        graft.streaming.StreamingHierarchyIndex.applyBatch(
          batch, ep.toLong, hierIdxPath, hierPairsPath, "vec_id",
          "embedding", targetClusterSize = 50, shards = 64,
          compactEvery = 8, threshold = 0.9, maxClusters = 4096))
      val p = timed(graft.streaming.StreamingHierarchyIndex
        .probe(embProbe, hierIdxPath, "vec_id", "embedding", 0.9)
        .count())
      (w, p)
    }
    hierCurve.zipWithIndex.foreach { case ((w, p), ep) =>
      println(f"[stress-streaming] hierarchy_index_epochs epoch=$ep " +
        f"apply_sec=$w%.2f probe_sec=$p%.2f")
    }

    // ---- StreamingJaccardIndex (r15): frozen-df-order epoch appends
    // over the SAME doc universe, with compaction re-freezing all
    // three tables (the honest heavy step — a full artifacts rebuild
    // from accumulated sets, amortized over compactEvery epochs and
    // visible as spikes). The serving probe is the same fixed 1k-doc
    // batch through the manifest-pruned path probe after every epoch.
    // maxGramPostings=1024: this synthetic corpus is the AllPairs
    // worst case — a ~70-word vocabulary makes even the df-rarest
    // prefix grams carry corpus-scale posting lists, and the UNCAPPED
    // candidate join spilled ~50 GB on one 1k-doc probe at 150k docs
    // (the soak run that motivated the guard). Real corpora are
    // Zipfian where prefix filtering works; the cap bounds the
    // adversarial case at hub-representative output.
    // 10k-doc epochs (own universe, ONE synthesize call): even capped,
    // the per-epoch BULK pairs probe joins B_g x P_g rows per gram,
    // and this corpus's gram distribution keeps that product near the
    // cap for thousands of grams — 50k-doc epochs accumulated
    // shuffle/spill past the disk during the first guarded run.
    val jacIdxPath = s"$workDir/jac-index"
    val jacPairsPath = s"$workDir/jac-pairs"
    val jacCurve = if (!want("jaccard")) Nil
    else {
      val jacDocs = StressCurate.synthesize(spark, epochs * 10000L)
        .select(col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val jacProbe = jacDocs.filter(col("doc_id") % 199 === 0)
        .limit(1000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      jacProbe.count()
      val c = (0 until epochs).map { ep =>
        val batch = jacDocs.filter(col("doc_id") >= ep * 10000L &&
          col("doc_id") < (ep + 1) * 10000L)
        val w = timed(
          graft.streaming.StreamingJaccardIndex.applyBatch(
            batch, ep.toLong, jacIdxPath, jacPairsPath, "doc_id",
            "text", 3, 0.8, 64, 8, 5, 1 << 16, 1024))
        val p = timed(graft.operators.Dedup
          .ngramJaccardAgainstPath(jacProbe, jacIdxPath,
            "doc_id", "text", maxGramPostings = 1024).count())
        (w, p)
      }
      jacProbe.unpersist(); jacDocs.unpersist()
      c
    }
    jacCurve.zipWithIndex.foreach { case ((w, p), ep) =>
      println(f"[stress-streaming] jaccard_index_epochs epoch=$ep " +
        f"apply_sec=$w%.2f probe_sec=$p%.2f")
    }

    // growth summary: late-epoch cost vs the first post-bootstrap
    // epoch (NaN: section skipped by the selector)
    def ratio(c: Seq[(Double, Long, Long)]): Double =
      if (c.size < 4) Double.NaN
      else (c.takeRight(3).map(_._1).sum / 3) / math.max(c(1)._1, 0.001)
    def ratio1(c: Seq[Double]): Double =
      if (c.size < 4) Double.NaN
      else (c.takeRight(3).sum / 3) / math.max(c(1), 0.001)
    println(f"[stress-streaming] epoch-cost growth (last3avg / e1): " +
      f"merge=${ratio(mergeCurve)}%.2fx index=${ratio(idxCurve)}%.2fx " +
      f"components=${ratio(compCurve)}%.2fx " +
      f"sig_index=${ratio(sigCurve)}%.2fx " +
      f"banded_apply=${ratio1(bandCurve.map(_._1))}%.2fx " +
      f"banded_probe=${ratio1(bandCurve.map(_._2))}%.2fx " +
      f"emb_apply=${ratio1(embCurve.map(_._1))}%.2fx " +
      f"emb_probe=${ratio1(embCurve.map(_._2))}%.2fx " +
      f"jaccard_apply=${ratio1(jacCurve.map(_._1))}%.2fx " +
      f"jaccard_probe=${ratio1(jacCurve.map(_._2))}%.2fx " +
      f"hier_apply=${ratio1(hierCurve.map(_._1))}%.2fx " +
      f"hier_probe=${ratio1(hierCurve.map(_._2))}%.2fx " +
      f"over $epochs epochs")
    spark.stop()
  }

  // StreamingIndex.applyBatch is private[streaming]; drive the epoch
  // through the same code path via the public streaming entry on a
  // one-batch file source would add file-listing noise — instead the
  // bridge below lives in the streaming package.
  private def callIndexEpoch(batch: org.apache.spark.sql.DataFrame,
      ep: Long, path: String): Unit =
    graft.streaming.StreamingBridge.indexEpoch(batch, ep, path,
      "doc_id", "text", 1000)
}
