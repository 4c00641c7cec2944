package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dev-only soak of the incremental (`...Against`) dedup family — the
  * production ingest shape: a 5% batch screened against PERSISTED
  * 5M-doc indexes (exact hash, minhash band signatures, simhash
  * fingerprints, AllPairs Jaccard artifacts), each probe measured
  * against what the batch-less alternative (full all-pairs rerun over
  * corpus+batch) would cost. Indexes are written to parquet and read
  * back, so each probe pays realistic publish/serve I/O, not lineage
  * recomputation. Batch and corpus slice ONE synthesized universe (the
  * StressSearch lesson: the generator's dup-basis modulus depends on
  * its total-doc argument).
  *
  * Usage: runMain graft.tools.StressProbe [nDocs] [workDir]
  * (defaults 5,000,000 and /tmp/graft-probe-soak). Numbers recorded in
  * docs/SEARCH_SOAK.md.
  */
object StressProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 5000000L
    val workDir = if (args.length > 1) args(1) else "/tmp/graft-probe-soak"
    // optional family selector:
    // all | exact | minhash | simhash | jaccard | embedding |
    // lowmatch | mirror
    val only = if (args.length > 2) args(2) else "all"
    def want(f: String): Boolean = only == "all" || only == f
    val spark = graft.Sessions.start()
    // the soak's recorded shapes were measured at 64 shuffle partitions
    spark.conf.set("spark.sql.shuffle.partitions", "64")

    val total = nDocs + nDocs / 20
    val allPath = s"$workDir/documents_all.parquet"
    // the document universe only feeds the text families — an
    // embedding-only run must not pay its generation
    val needDocs = Seq("exact", "minhash", "simhash", "jaccard",
      "mirror").exists(want)
    if (needDocs && !new java.io.File(allPath).exists()) {
      println(s"[probe-soak] generating $total docs -> $allPath")
      StressCurate.synthesize(spark, total).repartition(64)
        .write.mode("overwrite").parquet(allPath)
    }
    lazy val all = spark.read.parquet(allPath)
    lazy val corpus = all.filter(col("doc_id") < nDocs)
    lazy val batch = all.filter(col("doc_id") >= nDocs)

    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe-soak] $name%-34s ${(System.nanoTime() - t0) / 1e9}%7.1fs rows=$n")
      spark.catalog.clearCache()
    }

    // ---- exact: hash index + Bloom, probe the 5% batch --------------
    if (want("exact")) {
    val exactIdx = s"$workDir/exact_index.parquet"
    timed("exact_index_publish") {
      Dedup.exact(corpus, "doc_id", "text")
        .write.mode("overwrite").parquet(exactIdx); 0L
    }
    val exBloom = Dedup.buildIndexBloom(
      spark.read.parquet(exactIdx), "text_hash", k = 5, m = 1 << 16)
    timed("exact_probe_bloomed") {
      Dedup.exactAgainstBloomed(batch, spark.read.parquet(exactIdx),
          "doc_id", "text", exBloom, bloomK = 5)
        .filter(col("dup_of").isNotNull).count()
    }

    }
    // ---- minhash: signature index + band Bloom ----------------------
    if (want("minhash")) {
    val sigIdx = s"$workDir/sig_index"
    timed("minhash_index_publish") {
      Dedup.writeSignatureIndex(
        Dedup.minhashSignatures(corpus, "doc_id", "text"), sigIdx); 0L
    }
    timed("minhash_probe_bloomed") {
      val idx = Dedup.readSignatureIndex(spark, sigIdx)
      Dedup.minhashNearDupsAgainstIndex(batch, idx, "doc_id", "text")
        .count()
    }
    // the r14 banded-postings layout: the probe opens only the shards
    // whose manifest range contains one of the batch's band-key
    // hashes, instead of scanning the whole signature table. With a
    // 5%-of-corpus batch most shards are hit — shrink to a 1k-doc
    // batch (the per-trigger streaming shape) to show the prune
    val bandIdx = s"$workDir/banded_index"
    timed("minhash_banded_publish") {
      Dedup.writeBandedSignatureIndex(
        spark.read.parquet(s"$sigIdx/signatures"), "doc_id", bandIdx,
        shards = 512); 0L
    }
    val smallBatch = batch.limit(1000)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    smallBatch.count()
    timed("minhash_banded_probe_1k") {
      Dedup.minhashNearDupsAgainstBandedIndex(smallBatch, bandIdx,
        "doc_id", "text").count()
    }
    timed("minhash_flat_probe_1k_reference") {
      Dedup.minhashNearDupsAgainst(smallBatch,
        spark.read.parquet(s"$sigIdx/signatures"), "doc_id", "text")
        .count()
    }
    // the prune only pays when |batch band keys| << shards: a 1k-doc
    // batch brings ~4k keys into 512 shards (every shard hit), a
    // 10-doc probe ~40 keys (~8% of shards) — the point-lookup shape
    val tinyBatch = batch.limit(10)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tinyBatch.count()
    timed("minhash_banded_probe_10") {
      Dedup.minhashNearDupsAgainstBandedIndex(tinyBatch, bandIdx,
        "doc_id", "text").count()
    }
    timed("minhash_flat_probe_10_reference") {
      Dedup.minhashNearDupsAgainst(tinyBatch,
        spark.read.parquet(s"$sigIdx/signatures"), "doc_id", "text")
        .count()
    }
    tinyBatch.unpersist()
    smallBatch.unpersist()

    }
    // ---- simhash: 64-bit fingerprints, 16-bit bands -----------------
    if (want("simhash")) {
    // the first soak run proved 8-bit bands (256 buckets/band) generate
    // ~|corpus|x|batch|/256 candidate pairs per band at this scale —
    // tens of billions. 64-bit fingerprints with 16-bit bands keep the
    // identical ham<=3 pigeonhole certainty (4 bands) at 65,536-value
    // buckets: 256x fewer collisions.
    val fpIdx = s"$workDir/simhash_index.parquet"
    timed("simhash64_index_publish") {
      Dedup.simhash(corpus, "doc_id", "text", bits = 64)
        .write.mode("overwrite").parquet(fpIdx); 0L
    }
    // wide bands alone cannot save a corpus whose fingerprints
    // COLLAPSE (the 70-word synth vocab makes most long docs' distinct
    // word sets near-identical — mega-clusters share every band at any
    // width); the probe-side viral-bucket hub guard bounds those to
    // one representative answer per cluster
    timed("simhash64_probe_16bit_bands_capped") {
      Dedup.simhashNearDupsAgainst(batch, spark.read.parquet(fpIdx),
        "doc_id", "text", bits = 64, maxHamming = 3, bandBits = 16,
        maxBucket = 1024).count()
    }

    }
    // ---- exact Jaccard: AllPairs artifacts --------------------------
    if (want("jaccard")) {
    // scoped to a 1/25 corpus slice: AllPairs prefix pruning needs
    // ZIPFIAN gram rarity — real text has doc-specific hapax n-grams
    // that make every prefix posting list tiny. The 70-word synthetic
    // vocabulary instead gives every 3-gram a near-POISSON df
    // (mean ~290 even at 1M docs), so each doc's "rarest" grams
    // concentrate on the distribution's left tail, prefix posting
    // lists stay hundreds deep, and the candidate join measured
    // ~2.5e9 rows / 60+ GB of shuffle at 1M docs — a DATA property
    // (prefix pruning degenerates without rarity), not an operator
    // bug; the operator is oracle-exact where it runs. The measured
    // point below records the probe shape at the scale this corpus
    // admits.
    val jacCorpus = all.filter(col("doc_id") < nDocs / 25)
    // batch ids chosen so their dup-basis seeds (doc_id mod total/10)
    // land INSIDE the 200k corpus slice — otherwise the probe has no
    // true pairs to find and measures only empty candidate machinery
    val jacBatch = all.filter(col("doc_id") >= total / 10 &&
      col("doc_id") < total / 10 + nDocs / 500)
    val jacDir = s"$workDir/jaccard_index"
    timed("jaccard_index_publish_200k") {
      Dedup.writeJaccardIndex(
        Dedup.buildJaccardIndex(jacCorpus, "doc_id", "text"), jacDir,
        shards = 128); 0L
    }
    timed("jaccard_probe_200k_10k") {
      Dedup.ngramJaccardAgainst(jacBatch,
        Dedup.readJaccardIndex(spark, jacDir), "doc_id", "text").count()
    }
    // the manifest-pruned path probe, at the point-lookup batch size
    // where pruning can pay (a 10k-doc batch's gram set covers the
    // whole synthetic vocabulary — every shard hit)
    val jacTiny = jacBatch.limit(20)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    jacTiny.count()
    timed("jaccard_pruned_probe_20") {
      Dedup.ngramJaccardAgainstPath(jacTiny, jacDir, "doc_id", "text")
        .count()
    }
    timed("jaccard_flat_probe_20_reference") {
      Dedup.ngramJaccardAgainst(jacTiny,
        Dedup.readJaccardIndex(spark, jacDir), "doc_id", "text").count()
    }
    jacTiny.unpersist()

    }
    // ---- embedding: published hyperplane index + guarded probe ------
    if (want("embedding")) {
      // StressIvf's deterministic blob corpus: 32 blob directions in
      // 64-dim, hash-noise on top. Same-blob vectors are ~0.97 cosine,
      // so every blob is a ~62k-member near-dup clique at 2M vectors —
      // the clustered-corpus hazard the probe's hub guard exists for
      // (unguarded output would be |batch| x |blob| ≈ 3e9 pairs).
      val dim = 64
      val nBlobs = 32
      val nVec = math.min(nDocs, 2000000L)
      val noise = (j: Int) =>
        (pmod(xxhash64(col("id"), lit(j)), lit(1000L)).cast("double")
          / 1000.0 - 0.5) * 0.2
      val comps = (0 until dim).map { j =>
        (when(col("id") % nBlobs === j % nBlobs, 1.0).otherwise(0.0)
          + noise(j)).cast("float")
      }
      val embPath = s"$workDir/embeddings.parquet"
      if (!new java.io.File(embPath).exists()) {
        // one universe: corpus = ids < nVec, batch = the 5% tail
        spark.range(nVec + nVec / 20)
          .select(col("id").as("vec_id"), array(comps: _*).as("embedding"))
          .write.mode("overwrite").parquet(embPath)
      }
      val emb = spark.read.parquet(embPath)
      val corpusE = emb.filter(col("vec_id") < nVec)
      val batchE = emb.filter(col("vec_id") >= nVec)
      val embIdxDir = s"$workDir/emb_index"
      timed("embedding_index_publish") {
        Dedup.writeEmbeddingIndex(
          Dedup.buildEmbeddingIndex(corpusE, "vec_id", "embedding",
            numPlanes = 32, bandBits = 16), embIdxDir); 0L
      }
      timed("embedding_probe_guarded_5pct") {
        val idx = Dedup.readEmbeddingIndex(spark, embIdxDir)
        Dedup.embeddingNearDupsAgainst(batchE, corpusE, idx,
          "vec_id", "embedding", threshold = 0.9,
          maxBucket = 1024).count()
      }
      // banded-postings point lookup: embedding band keys are only
      // numPlanes/bandBits (= 2) per vector, the shape where manifest
      // pruning pays (vs ~150 grams/doc for Jaccard, where it cannot)
      val embBandDir = s"$workDir/emb_banded"
      timed("embedding_banded_publish") {
        Dedup.writeBandedEmbeddingIndex(
          Dedup.readEmbeddingIndex(spark, embIdxDir), embBandDir,
          shards = 256); 0L
      }
      val tinyE = batchE.limit(10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      tinyE.count()
      timed("embedding_banded_probe_10") {
        Dedup.embeddingNearDupsAgainstBandedIndex(tinyE, corpusE,
          embBandDir, "vec_id", "embedding", threshold = 0.9).count()
      }
      timed("embedding_flat_probe_10_reference") {
        val idx = Dedup.readEmbeddingIndex(spark, embIdxDir)
        Dedup.embeddingNearDupsAgainst(tinyE, corpusE, idx,
          "vec_id", "embedding", threshold = 0.9).count()
      }
      tinyE.unpersist()
    }
    // ---- embedding, LOW-match corpus (r15): the id-pruned vector-
    // fetch crossover. The blob corpus above is ~100% match rate —
    // every batch vector's candidate set is a ~62k-member clique, so
    // exact verification is candidate-bound however the corpus vectors
    // are fetched, which masked the r14 finding that the FULL-table
    // vector scan dominates the banded probe's pruned candidate read
    // (docs/SEARCH_SOAK.md). Here the corpus is 2M near-orthogonal
    // random vectors (pairwise cosine ~0) and the batch copies a
    // corpus slice: ~1 candidate per batch vector, so verification
    // cost is all in HOW the vectors are read. 48 planes / 24-bit
    // bands -> 16M buckets: collision candidates are rare and the
    // candidate-id point set actually prunes shards for small batches.
    if (want("lowmatch")) {
      val dim = 64
      val nVec = math.min(nDocs, 20000000L)
      val comps = (0 until dim).map { j =>
        ((pmod(xxhash64(col("base_id"), lit(j)), lit(2000L))
          .cast("double") / 1000.0) - 1.0).cast("float")
      }
      val lmPath = s"$workDir/lowmatch_embeddings.parquet"
      if (!new java.io.File(lmPath).exists()) {
        // corpus ids [0, nVec); batch ids [nVec, nVec+1000) COPY the
        // vectors of corpus ids [0, 1000): each batch vector has
        // exactly one exact-cosine-1 corpus match
        spark.range(nVec + 1000)
          .select(col("id").as("vec_id"),
            when(col("id") < nVec, col("id"))
              .otherwise(col("id") - nVec).as("base_id"))
          .select(col("vec_id"), array(comps: _*).as("embedding"))
          .write.mode("overwrite").parquet(lmPath)
      }
      val lm = spark.read.parquet(lmPath)
      val corpusL = lm.filter(col("vec_id") < nVec)
      val bandDir = s"$workDir/lm_banded"         // no vectors sidecar
      val bandVecDir = s"$workDir/lm_banded_vecs" // with vectors sidecar
      timed("lm_banded_publish_x2") {
        val idx = Dedup.buildEmbeddingIndex(corpusL, "vec_id",
          "embedding", numPlanes = 48, bandBits = 24)
        Dedup.writeBandedEmbeddingIndex(idx, bandDir, shards = 256)
        Dedup.writeBandedEmbeddingIndex(idx, bandVecDir, shards = 256)
        0L
      }
      timed("lm_vectors_publish") {
        Dedup.writeIndexVectors(corpusL, bandVecDir, "vec_id",
          "embedding", shards = 256); 0L
      }
      for (bsz <- Seq(10, 1000)) {
        val b = lm.filter(col("vec_id") >= nVec).limit(bsz)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        b.count()
        timed(s"lm_banded_idpruned_$bsz") {
          Dedup.embeddingNearDupsAgainstBandedIndex(b, corpusL,
            bandVecDir, "vec_id", "embedding", threshold = 0.9).count()
        }
        timed(s"lm_banded_fulltable_$bsz") {
          Dedup.embeddingNearDupsAgainstBandedIndex(b, corpusL,
            bandDir, "vec_id", "embedding", threshold = 0.9).count()
        }
        b.unpersist()
      }
    }
    // ---- mirror farm: the viral-bucket guard's motivating case ------
    if (want("mirror")) {
      // a planted 10^6-member cluster of IDENTICAL text (every member
      // shares every LSH band key) plus an equal volume of normal docs.
      // The guarded probe answers each matching batch doc with the
      // cluster's min-id hub: fan-out is numBands rows per batch doc.
      // The unguarded probe emits |cluster| x numBands candidate rows
      // per matching batch doc BEFORE distinct — and its distinct
      // output is |cluster| pairs per doc, so even the exact answer is
      // mirror-farm-sized. Measured contrast recorded in
      // docs/SEARCH_SOAK.md.
      val farmN = math.min(nDocs, 1000000L)
      val viral = "same exact content repeated across the whole mirror " +
        "farm again and again for every single crawled copy we fetched " +
        "from ten thousand scraper domains serving one shared template " +
        "with nothing changed between hosts except the serving name"
      val farm = spark.range(farmN)
        .select((col("id") + 2000000000L).as("doc_id"),
          lit(viral).as("text"))
      // ONE synthesize universe sliced into corpus + batch docs (the
      // generator's dup-basis modulus depends on its total argument)
      val norm = StressCurate.synthesize(spark, farmN + 900L)
        .select(col("doc_id"), col("text"))
      val mirrorCorpus = farm.unionByName(norm.filter(col("doc_id") < farmN))
      val sigPath = s"$workDir/mirror_sig_index.parquet"
      timed("mirror_sig_index_publish") {
        Dedup.minhashSignatures(mirrorCorpus, "doc_id", "text")
          .write.mode("overwrite").parquet(sigPath); 0L
      }
      val sigs = spark.read.parquet(sigPath)
      val viralBatch = spark.range(100)
        .select((col("id") + 3000000000L).as("doc_id"),
          lit(viral).as("text"))
      val batch1k = viralBatch
        .unionByName(norm.filter(col("doc_id") >= farmN))
      timed("mirror_probe_guarded_1k_batch") {
        Dedup.minhashNearDupsAgainst(batch1k, sigs, "doc_id", "text",
          maxBucket = 1024).count()
      }
      // degradation reference, deliberately 10x smaller batch: 10 viral
      // docs x 10^6-member bucket x 4 bands = 4e7 join rows and 10^7
      // distinct output pairs; scale linearly for the full batch
      timed("mirror_probe_UNGUARDED_10_viral") {
        Dedup.minhashNearDupsAgainst(viralBatch.limit(10), sigs,
          "doc_id", "text").count()
      }
    }
    // reference point: what ONE all-pairs minhash rerun over the
    // combined corpus costs — the thing the probes avoid per batch
    if (want("reference")) {
      timed("rebuild_reference_minhash_lsh") {
        Dedup.minhashNearDups(all, "doc_id", "text",
          maxBucket = 256).count()
      }
    }
    spark.stop()
  }
}
