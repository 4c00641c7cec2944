package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.StableHash._

/** Document deduplication operators for training-data pipelines.
  *
  * All hashing uses [[graft.functions.StableHash]] so every operator has a
  * bit-identical DuckDB oracle. Scale notes per operator inline — the
  * design constraint is 100 TB of documents on a 1000-executor cluster:
  * never materialize O(n^2) pairs; always go through an inverted index
  * (explode -> shuffle on the index key -> pair join within buckets).
  */
object Dedup {

  /** Exact dedup by content hash: one shuffle on the 60-bit text hash,
    * keep the smallest id per group. At 100 TB this is a single
    * hash-partitioned aggregation — the optimal plan.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(hash60(col(textCol)).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the daily-increment shape: a new batch is
    * checked against the PERSISTED hash index of the already-deduped
    * corpus ([[exact]]'s output, stored as a table). Emits one row per
    * batch document: `(id, text_hash, dup_of)` where `dup_of` is the
    * corpus keep-id the text collides with, or null when the document is
    * novel.
    *
    * Scale shape: the corpus index is the big side and must NOT
    * re-shuffle per batch — persist it bucketed on `text_hash` (e.g.
    * [[graft.sink.MergeSink.publishBucketed]]) so only the (small)
    * hashed batch moves; the join is then co-located the same way the
    * bucketed merge path is (BucketedMergeSpec). The minhash twin is
    * [[minhashNearDupsAgainst]].
    */
  def exactAgainst(newDocs: DataFrame, corpusIndex: DataFrame,
                   idCol: String, textCol: String): DataFrame =
    warnIfIndexShuffles(newDocs
      .select(col(idCol).as("id"), hash60(col(textCol)).as("text_hash"))
      .join(corpusIndex.select(col("text_hash"),
        col("keep_id").as("dup_of")), Seq("text_hash"), "left")
      .select(col("id"), col("text_hash"), col("dup_of")), "exactAgainst")

  /** Build the Bloom pre-filter of a persisted corpus index's keys
    * (ONE scan at index-publish time; store it next to the index like
    * centroids or a vocab — it is a bounded model artifact of
    * `m * 8` bytes, broadcastable into every future batch scan).
    */
  def buildIndexBloom(corpusIndex: DataFrame, keyCol: String,
                      k: Int, m: Int): Array[Long] =
    corpusIndex.agg(graft.functions.BloomBits
        .sketch(col(keyCol), k, m).as("sk"))
      .head().getSeq[Long](0).toArray

  /** [[exactAgainst]] with a Bloom short-circuit: batch rows whose hash
    * definitely isn't in the index (no false negatives — Bloom's
    * guarantee) resolve to `dup_of = null` WITHOUT touching the index
    * join; only possible-hits join. For novel-heavy batches (the common
    * crawl-ingest case) this cuts the join input to the false-positive
    * band. Result rows are identical to [[exactAgainst]]'s
    * (spec-asserted parity).
    */
  def exactAgainstBloomed(newDocs: DataFrame, corpusIndex: DataFrame,
                          idCol: String, textCol: String,
                          bloomBits: Array[Long], bloomK: Int)
      : DataFrame = {
    import graft.operators.Sketches
    val sk = typedLit(bloomBits.toIndexedSeq)
    // persisted: both the misses and hits branches consume this frame —
    // without the persist each branch re-scans the batch and re-md5s
    // every text, costing a second full hash pass that can exceed the
    // join work the Bloom filter saves
    val hashed = newDocs.select(col(idCol).as("id"),
        hash60(col(textCol)).as("text_hash"))
      .withColumn("__might", Sketches.bloomMightContain(sk,
        col("text_hash"), bloomK, bloomBits.length))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val misses = hashed.filter(!col("__might"))
      .select(col("id"), col("text_hash"),
        lit(null).cast("long").as("dup_of"))
    val hits = hashed.filter(col("__might"))
      .join(corpusIndex.select(col("text_hash"),
        col("keep_id").as("dup_of")), Seq("text_hash"), "left")
      .select(col("id"), col("text_hash"), col("dup_of"))
    releaseAfter(warnIfIndexShuffles(misses.unionByName(hits),
      "exactAgainstBloomed"), hashed)
  }

  /** Runtime guard for the incremental ("...Against") operators' 100 TB
    * contract: the persisted corpus index must NOT re-shuffle per batch.
    * The healthy plans are a broadcast probe (batch broadcasts) or a
    * one-sided exchange into a bucketed index scan; a join that
    * hash-exchanges BOTH of its own sides is the signature of an
    * unbucketed index silently degrading to a full index shuffle per
    * batch. Warn-only (correctness is unaffected); planning here costs
    * milliseconds once per batch and never executes the query.
    *
    * Detection walks each join's OWN input subtrees
    * ([[indexShuffleFindings]]) — the pre-r15 whole-plan string check
    * (`contains("BroadcastHashJoin")`) let ANY broadcast join elsewhere
    * in the plan mask a corpus-side sort-merge shuffle.
    *
    * AQE caveat: this is the INITIAL plan — when a join side is small
    * enough at runtime AQE broadcast-converts it, making the warning
    * moot for that batch (the message says so). For a corpus-SIZED
    * index, the case the 100 TB contract is about, no runtime
    * conversion is possible and the warning is accurate.
    */
  private[graft] def warnIfIndexShuffles(result: DataFrame, op: String)
      : DataFrame = {
    try {
      val findings =
        indexShuffleFindings(result.queryExecution.executedPlan)
      if (findings.nonEmpty)
        System.err.println(s"[graft] $op: ${findings.size} join(s) " +
          "hash-exchange both of their own sides - a corpus-sized index " +
          "there would re-shuffle per batch (AQE may still broadcast a " +
          s"small side at runtime): ${findings.mkString("; ")}. Persist " +
          "the index bucketed on the join key " +
          "(MergeSink.publishBucketed) so only the batch moves.")
    } catch {
      // Guard must never fail the operator — but only for recoverable
      // failures: NonFatal excludes OOM/fatal VM errors, and a plan-walk
      // interrupt must re-assert the thread's interrupt flag so the
      // caller's cancellation still lands (same contract as
      // PreCheckpointLint.hook).
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }
    result
  }

  /** The joins of `plan` that hash-exchange BOTH of their own input
    * subtrees — each a candidate full-index-reshuffle. Per-join subtree
    * walk: a child spine is "shuffled" when a hash-partitioning
    * exchange (or an adaptive shuffle stage) sits between the join and
    * the next join/leaf below it, so a broadcast join ANYWHERE else in
    * the plan cannot mask a finding, and the healthy one-sided-exchange
    * -into-bucketed-scan shape (only the batch side exchanges) stays
    * clean. Returns one description per offending join.
    */
  private[graft] def indexShuffleFindings(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.{
      ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.{
      BaseJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case other => other
    }
    def hashShuffle(p: SparkPlan): Boolean = p match {
      case s: ShuffleExchangeLike =>
        s.outputPartitioning.isInstanceOf[HashPartitioning]
      case _: ShuffleQueryStageExec => true
      case r: ReusedExchangeExec =>
        r.child.isInstanceOf[ShuffleExchangeLike] &&
          r.child.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    }
    def shuffledSpine(p: SparkPlan): Boolean =
      hashShuffle(p) || (p match {
        case _: BaseJoinExec => false // nested join: its own check below
        case other => other.children.exists(shuffledSpine)
      })
    unwrap(plan).collect {
      case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec)
          if j.children.nonEmpty && j.children.forall(shuffledSpine) =>
        s"${j.nodeName} on ${j.asInstanceOf[BaseJoinExec].leftKeys
          .map(_.sql).mkString(",")}"
    }
  }

  /** Driver-side point-list budget for the path-served probes. The
    * banded/manifest-pruned layouts need the batch's distinct point
    * keys ON THE DRIVER to prune shard files — bounded by
    * |batch| x bands (or the batch vocabulary) for the intended
    * point-lookup shape, but nothing used to ENFORCE that contract: a
    * caller probing a huge batch through the path API pushed an
    * unbounded point list through the driver. Above this cap the
    * probes fall back to the flat scan of the same published files
    * (oracle-identical — pruning only skips files with no matching
    * key), which is also the measured faster plan for large batches
    * (docs/SEARCH_SOAK.md: the banded point read wins for ~10-doc
    * lookups and loses to the flat join by ~1k-doc batches).
    */
  val DefaultMaxProbePoints: Int = 1 << 18

  /** Up to `cap` distinct longs of `df`'s single column; None when the
    * count exceeds `cap` — the caller must fall back to the flat scan
    * instead of collecting an unbounded point list to the driver.
    */
  private def collectPointsCapped(df: DataFrame, cap: Int)
      : Option[IndexedSeq[Long]] = {
    // Cast to long BEFORE collecting: the candidate-id callers feed the
    // raw id column, and writeRangeSorted accepts any integral id type
    // (byte/short/int included) — Row.getLong on an int-typed id would
    // throw ClassCastException at probe time.
    val col0 = org.apache.spark.sql.functions.col(df.columns.head)
    val rows =
      df.select(col0.cast("long")).distinct().limit(cap + 1).collect()
    if (rows.length > cap) None
    else Some(rows.map(_.getLong(0)).toIndexedSeq)
  }

  /** Candidate-ID fetch budget for a range-sorted table: uniformly
    * distributed ids hit `1 - e^(-ids/shards)` of the shard files, so
    * past ~4 ids per shard (98% of files) manifest pruning cannot pay
    * and the flat scan is strictly cheaper — cap the driver collect at
    * that saturation point (measured at 10M vectors: the id-pruned
    * fetch wins 1.46x for a 10-doc point lookup and LOSES 1.33x for a
    * 1k-doc batch whose ids hit every shard; docs/SEARCH_SOAK.md).
    * Band-key/gram point lists keep the caller's `maxPoints` — their
    * keys are range-sorted by the SAME hash the manifest indexes, so
    * pruning holds far longer.
    */
  private def idFetchCap(spark: org.apache.spark.sql.SparkSession,
                         dir: String, maxPoints: Int): Int =
    math.max(1, math.min(maxPoints,
      4 * graft.sink.Sinks.rangeManifest(spark, dir).size))

  /** Word shingles (k-grams) of a text column as array<string>.
    * Lowercased, whitespace-tokenized; single-pass custom expression
    * (see [[graft.functions.WordShingles]] for why not higher-order
    * functions).
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.TextShingles.wordShingles(text, k)

  /** MinHash signatures: explode distinct shingles, one shuffle to
    * aggregate `min((a_i*h + b_i) mod P)` per doc for each of `numHashes`
    * permutations — map-side partial aggregation keeps the shuffle small
    * regardless of document size. Output: (id, sig_0..sig_{n-1}).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 12): DataFrame =
    minhashSignaturesFromPostings(
      shingleHashPostings(docs, idCol, textCol, k), idCol, numHashes)

  /** `(id, h)` shingle-hash postings — ONE text scan + shingle explode.
    * Factored out (r20) so pair-audit consumers that need BOTH the
    * signatures and the exact postings ([[minhashPrecision]] /
    * [[minhashContainment]]) can share a single persisted frame instead
    * of scanning and re-shingling the corpus once per use — at 100 TB
    * the corpus text pass is the dominant cost of the whole family.
    */
  private[graft] def shingleHashPostings(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    docs.select(col(idCol),
        explode(array_distinct(shingles(col(textCol), k))).as("shingle"))
      .select(col(idCol), hash60(col("shingle")).as("h"))

  /** [[minhashSignatures]] over an existing postings frame. */
  private[graft] def minhashSignaturesFromPostings(post: DataFrame,
      idCol: String, numHashes: Int): DataFrame = {
    val aggs = minhashParams(numHashes).zipWithIndex.map {
      case ((a, b), i) => min(minhashPerm(col("h"), a, b)).as(s"sig_$i")
    }
    post.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH near-dup candidate pairs: band the signature (bands of
    * `rowsPerBand`), self-join docs sharing a band bucket, then verify with
    * exact signature agreement fraction >= `threshold`.
    *
    * The band join is the scale path: candidates are generated per-bucket
    * (shuffle on band hash), never as a global cross join.
    *
    * `maxBucket` guards the remaining quadratic term: a band bucket with
    * B members emits B^2/2 pair rows, and a web-scale crawl's viral
    * boilerplate cluster (the same page mirrored a million times) lands
    * its million members in ONE bucket — 5*10^11 pairs from a single
    * key, found as the dominant cost of the StressCurate soak
    * (docs/CURATE_SOAK.md). Buckets larger than `maxBucket` switch to a
    * STAR over the bucket's min id: B-1 member↔hub pairs, each still
    * signature-verified against `threshold`. For the downstream
    * connected-components/keep-canonical use the star is
    * connectivity-equivalent on true dup clusters (members agree with
    * the hub as they do with each other); pair-level recall inside the
    * capped bucket is intentionally traded for survival. Default keeps
    * every bucket exact (oracle-parity behavior).
    */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
                      threshold: Double = 0.5,
                      maxBucket: Int = Int.MaxValue): DataFrame =
    minhashNearDupsFromPostings(
      shingleHashPostings(docs, idCol, textCol, k), idCol, numHashes,
      rowsPerBand, threshold, maxBucket)

  /** [[minhashNearDups]] over an existing `(id, h)` postings frame —
    * the pair-audit family passes its persisted postings here so the
    * corpus is scanned and shingled exactly once per query.
    */
  private[graft] def minhashNearDupsFromPostings(post: DataFrame,
                      idCol: String,
                      numHashes: Int = 12, rowsPerBand: Int = 3,
                      threshold: Double = 0.5,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    val sigs = minhashSignaturesFromPostings(post, idCol, numHashes)
    val numBands = numHashes / rowsPerBand
    // one posexplode over band keys -> ONE shuffle for all bands (vs one
    // self-join per band), carrying the signature array so agreement is
    // computed in-place with no extra joins against the signature table
    val sigArr = array((0 until numHashes).map(i => col(s"sig_$i")): _*)
    val bandKeys = array((0 until numBands).map { b =>
      concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"sig_${b * rowsPerBand + r}")): _*)
    }: _*)
    // persist the SIGNATURE frame, band per consumer: the self-join
    // references its input on both sides (four references when
    // maxBucket splits small/big) and the planner does NOT reuse
    // subtrees across alias-renamed sides (ReusedExchange never fires —
    // sameResult is defeated), so without the persist each side re-ran
    // the full text scan + shingle explode. Banding FROM the cache is a
    // cheap posexplode per side. r20 A/B'd the alternative — repartition
    // the banded frame on the bucket key and persist that, making the
    // self-join exchange-free — and it measured SLOWER at bench scale
    // (canary-normalized 4.87 vs 3.86 units, measured with the
    // tools/ProfileMinhash of commit 045a9c4): at
    // broadcastable banded sizes AQE already plans the join with one
    // tiny broadcast, so the forced up-front exchange + the ~4x larger
    // cache buy nothing. The banded-persist spelling remains the right
    // trade only when the banded frame exceeds broadcast range AND the
    // cluster is network-bound; revisit with a stats gate if a soak
    // ever shows the double exchange dominating.
    val sigsP = sigs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigsP.select(col(idCol).as("id"), sigArr.as("sig"),
      posexplode(bandKeys).as(Seq("band_no", "bk")))
    val candidates = bucketPairs(banded, Seq("band_no", "bk"), "id",
      Seq("sig"), maxBucket)
    val agree = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    // threshold BEFORE the cross-band dedup: agreement is per-row
    // arithmetic, so filter-then-distinct is set-identical to
    // distinct-then-filter — but sub-threshold candidates (the bulk of
    // band collisions at any scale) no longer ride the distinct's
    // exchange (guide §2.3: shuffle fewer bytes).
    val pairs = candidates
      .select(col("id_a"), col("id_b"),
        (agree.cast("double") / numHashes).as("sig_agreement"))
      .filter(col("sig_agreement") >= threshold)
      .distinct()
    releaseAfter(pairs, sigsP)
  }

  /** Estimator-quality audit for the minhash-LSH pipeline: every
    * candidate pair's signature agreement next to its EXACT shingle
    * Jaccard — the report that tunes (numHashes, rowsPerBand, threshold)
    * before a 100 TB run commits to them. Emits
    * `(id_a, id_b, sig_agreement, jaccard)`.
    *
    * Scale shape: exact Jaccard is only computed for the (small) LSH
    * survivor set — the pair list joins the per-doc shingle-hash
    * postings twice (intersection counts), never all-pairs. The postings
    * side is corpus-sized but 16 bytes/row; at scale the pair set
    * broadcasts into those scans.
    */
  def minhashPrecision(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, numHashes: Int = 12,
                       rowsPerBand: Int = 3, threshold: Double = 0.5)
      : DataFrame =
    pairOverlap(docs, idCol, textCol, k, numHashes, rowsPerBand,
      threshold)
      .select(col("id_a"), col("id_b"), col("sig_agreement"),
        (col("__inter").cast("double") /
          (col("__sza") + col("__szb") - col("__inter")).cast("double"))
          .as("jaccard"))

  /** Asymmetric CONTAINMENT over the LSH survivor pairs:
    * `containment_a = |A∩B| / |A|` and the mirror for B — the measure
    * Jaccard misses: a short document quoted verbatim inside a long one
    * has tiny Jaccard but containment_a ≈ 1. This is the
    * quote/subset/benchmark-inclusion detector; pair generation and
    * cost structure are exactly [[minhashPrecision]]'s (exact overlap
    * only for the LSH survivor set, postings filtered to pair members).
    */
  def minhashContainment(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, numHashes: Int = 12,
                         rowsPerBand: Int = 3, threshold: Double = 0.5)
      : DataFrame =
    pairOverlap(docs, idCol, textCol, k, numHashes, rowsPerBand,
      threshold)
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") / col("__sza").cast("double"))
          .as("containment_a"),
        (col("__inter").cast("double") / col("__szb").cast("double"))
          .as("containment_b"))

  /** Shared exact-overlap machinery for the pair-audit family:
    * `(id_a, id_b, sig_agreement, __inter, __sza, __szb)` for every LSH
    * survivor pair.
    */
  private def pairOverlap(docs: DataFrame, idCol: String, textCol: String,
                          k: Int, numHashes: Int, rowsPerBand: Int,
                          threshold: Double): DataFrame = {
    // ONE corpus text scan + shingle explode for the whole audit (r20):
    // the signature pipeline and the exact-overlap verification both
    // consume this persisted postings frame. The pre-r20 spelling let
    // minhashNearDups build its own postings and re-scanned +
    // re-shingled the corpus a second time for the overlap side —
    // measured as a dedicated single-task 0.8 s stage at sf0.1, and at
    // 100 TB a second full pass over the corpus text.
    val post = shingleHashPostings(docs, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = minhashNearDupsFromPostings(post, idCol, numHashes,
      rowsPerBand, threshold)
    // every postings consumer below (intersection x2, sizes x2) only
    // needs the ids that appear in some pair — a tiny set by
    // construction. Filter the corpus-sized postings to pair members in
    // ONE scan (the member list is derived from the already-materialized
    // pair set, so AQE sizes the semi side at runtime) and persist the
    // survivor postings; without this the executed plan re-scanned and
    // re-shingled the full corpus once per consumer (4 parquet scans in
    // the executed plan; now `graft.tools.Profile ... executed`).
    val ids = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("__id"))
      .distinct()
    val g = post.select(col(idCol).as("__id"), col("h").as("__h"))
      .join(ids, "__id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = g.groupBy(col("__id")).agg(count(lit(1)).as("__sz"))
    val inter = pairs.select(col("id_a"), col("id_b"))
      .join(g.select(col("__id").as("id_a"), col("__h")), "id_a")
      .join(g.select(col("__id").as("id_b"), col("__h")), Seq("id_b", "__h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("__inter"))
    val out = pairs
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("__inter", coalesce(col("__inter"), lit(0L)))
      .join(sz.select(col("__id").as("id_a"), col("__sz").as("__sza")),
        "id_a")
      .join(sz.select(col("__id").as("id_b"), col("__sz").as("__szb")),
        "id_b")
      .select(col("id_a"), col("id_b"), col("sig_agreement"),
        col("__inter"), col("__sza"), col("__szb"))
    releaseAfterAll(out, g, post)
  }

  /** The within-bucket self-join shared by every LSH family (minhash
    * bands, Hamming byte-bands, hyperplane-signature bands), with the
    * viral-bucket guard: buckets up to `maxBucket` emit the exact
    * clique (B^2/2 pairs); larger buckets emit a STAR over the
    * bucket-min hub (B-1 pairs) so one mega-cluster can't square the
    * job to death. Bucket size + hub come from ONE window pass over the
    * same key the join shuffles on — the heavy bucket costs one linear
    * task instead of a quadratic join key. `payload` columns ride to
    * both sides as `<name>_a` / `<name>_b`; hub = bucket min, so
    * `id_a < id_b` holds on star pairs too and cross-band duplicates
    * collapse in the caller's distinct.
    */
  private def bucketPairs(banded: DataFrame, keyCols: Seq[String],
      idName: String, payload: Seq[String], maxBucket: Int): DataFrame = {
    def side(df: DataFrame, sfx: String) =
      df.select(keyCols.map(col) ++ (col(idName).as(s"id$sfx") +:
        payload.map(p => col(p).as(s"$p$sfx"))): _*)
    if (maxBucket == Int.MaxValue)
      side(banded, "_a").join(side(banded, "_b"), keyCols)
        .filter(col("id_a") < col("id_b"))
    else {
      val w = Window.partitionBy(keyCols.map(col): _*)
      val sized = banded
        .withColumn("__bn", count(lit(1)).over(w))
        .withColumn("__hub", min(col(idName)).over(w))
      val small = sized.filter(col("__bn") <= maxBucket)
      val big = sized.filter(col("__bn") > maxBucket)
      side(small, "_a").join(side(small, "_b"), keyCols)
        .filter(col("id_a") < col("id_b"))
        .unionByName(
          side(big.filter(col(idName) =!= col("__hub")), "_b")
            .join(side(big.filter(col(idName) === col("__hub")), "_a"),
              keyCols))
    }
  }

  /** SimHash: 32-bit locality-sensitive fingerprint from word hashes.
    * For each bit b, sum +1/-1 over words by bit b of the word hash; the
    * sign gives the fingerprint bit. One explode + one aggregation — same
    * scale shape as minhash.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame = {
    val words = docs.select(col(idCol),
      explode(array_distinct(split(trim(lower(col(textCol))), "\\s+")))
        .as("w"))
      .withColumn("h", hash60(col("w")))
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"bs_$b")
    }
    val summed = words.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until bits).map { b =>
      when(col(s"bs_$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    summed.select(col(idCol), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: candidates via byte-band buckets (any shared
    * 8-bit band of the fingerprint), verified by Hamming distance <=
    * `maxHamming`. Bucketed join, not cross join.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      bits: Int = 32, maxHamming: Int = 3,
                      maxBucket: Int = Int.MaxValue): DataFrame =
    bandedHammingPairs(simhash(docs, idCol, textCol, bits), idCol,
      "simhash", bits, maxHamming, maxBucket)

  /** Banded Hamming LSH over ANY 64-bit-or-narrower fingerprint column
    * (simhash, perceptual aHash, …): candidates are pairs sharing any
    * `bandBits`-wide band of the fingerprint, verified by
    * `bit_count(xor) <= maxHamming`. Pairs with Hamming <=
    * bits/bandBits - 1 are caught with certainty (pigeonhole over the
    * bands); larger thresholds trade recall for the same bucketed
    * cost — candidates are generated per-bucket (ONE shuffle on the
    * band key), never as a cross join. Arithmetic-shift sign-fill is
    * harmless: the mask extracts the true band either way, so
    * bit-63-set fingerprints band correctly.
    *
    * BAND WIDTH IS THE SCALE KNOB: 8-bit bands give only 256 buckets
    * per band, so candidate volume grows ~n²/256 per band — measured
    * as the dominant cost of the 5M-doc probe soak. A 64-bit
    * fingerprint with 16-bit bands keeps the SAME ham<=3 certainty
    * (4 bands) with 65,536-value buckets — 256× fewer collisions
    * (docs/SEARCH_SOAK.md). Default stays 8 for the 32-bit
    * oracle-parity configuration.
    */
  /** Recall contract of every banded-Hamming geometry, said ONCE per
    * (bits, bandBits, maxHamming) per JVM at the call surface (the r19
    * default flip 8→16 bandBits silently narrowed it for default-knob
    * callers): pigeonhole guarantees a shared band only for Hamming
    * <= nBands-1; pairs in the (nBands-1, maxHamming] "luck range" are
    * found only when their differing bits happen to cluster outside
    * one band. Wider bands (fewer of them) trade exactly that
    * luck-range recall for the bucket-count scale win — never
    * certainty-range pairs.
    */
  private val luckRangeWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int, Int)]()
  /** The warn, exposed for the streaming maintainer (same geometry,
    * same trade, one shared dedup set).
    */
  private[graft] def warnBandedHammingRecall(bits: Int, bandBits: Int,
      maxHamming: Int): Unit = warnLuckRange(bits, bandBits, maxHamming)
  private def warnLuckRange(bits: Int, bandBits: Int,
                            maxHamming: Int): Unit = {
    val nBands = bits / bandBits
    if (maxHamming > nBands - 1 &&
        luckRangeWarned.add((bits, bandBits, maxHamming)))
      System.err.println("[graft] banded Hamming: maxHamming=" +
        s"$maxHamming exceeds the pigeonhole certainty range of " +
        s"$nBands x $bandBits-bit bands (guaranteed recall only for " +
        s"hamming <= ${nBands - 1}; higher distances are luck-range)." +
        " Narrow bandBits for full recall at quadratic candidate " +
        "cost, or lower maxHamming to the certainty range.")
  }

  def bandedHammingPairs(fps: DataFrame, idCol: String, hashCol: String,
                         bits: Int, maxHamming: Int,
                         maxBucket: Int = Int.MaxValue,
                         bandBits: Int = 8): DataFrame = {
    require(bandBits > 0 && bandBits < 64 &&
        bits % bandBits == 0 && bits > 0 && bits <= 64,
      s"bits ($bits) must be a positive multiple of bandBits " +
        s"($bandBits in [1, 63]), at most 64")
    warnLuckRange(bits, bandBits, maxHamming)
    val nBands = bits / bandBits
    val bandMask = (1L << bandBits) - 1
    // persist: both join sides reference the fingerprint pipeline and
    // the planner does not reuse it across sides (see minhashNearDups);
    // fingerprints are 16 bytes/doc
    val fpP = fps.select(col(idCol).as("id"), col(hashCol).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = fpP.select(col("id"), col("fp"),
      posexplode(array((0 until nBands).map(b =>
        concat_ws("_", lit(b),
          shiftright(col("fp"), b * bandBits).bitwiseAND(bandMask))): _*))
        .as(Seq("band_no", "bk")))
    // viral guard (see bucketPairs): a cluster of IDENTICAL fingerprints
    // shares every band, so an uncapped mega-cluster squares in all
    // bits/8 buckets at once
    // threshold BEFORE the cross-band dedup (r20, the minhashNearDups
    // reorder): hamming is per-row arithmetic, so filter-then-distinct
    // is set-identical — but over-threshold candidates no longer ride
    // the distinct's exchange (guide §2.3).
    val pairs = bucketPairs(banded, Seq("bk"), "id", Seq("fp"), maxBucket)
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    releaseAfter(pairs, fpP)
  }

  /** Hyperplane-LSH artifacts for the incremental embedding probe: the
    * bounded plane table (the probe MUST sign against the same planes
    * the index was built with) plus the per-vector corpus signatures.
    * In production both persist next to the embedding table (planes are
    * numPlanes rows; sigs are 16 bytes/vector).
    */
  final case class EmbeddingIndex(planes: DataFrame, sigs: DataFrame,
      numPlanes: Int, bandBits: Int,
      bloom: Option[(Array[Long], Int)] = None)

  /** Build the [[EmbeddingIndex]] for a corpus — same deterministic
    * plane seeding (lowest-id vectors, BoundedRank-densified) and sign
    * bits as [[embeddingNearDups]], factored out so an ingest batch can
    * be screened later without re-signing the corpus.
    */
  def buildEmbeddingIndex(corpus: DataFrame, idCol: String,
                          vecCol: String, numPlanes: Int = 32,
                          bandBits: Int = 16): EmbeddingIndex = {
    require(bandBits > 0 && numPlanes % bandBits == 0 && numPlanes <= 63,
      s"numPlanes ($numPlanes) must be a multiple of bandBits " +
        s"($bandBits) and <= 63")
    val proj = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val seed = proj.orderBy(col("id").asc).limit(numPlanes)
      .select(col("id").as("pid"), col("v").as("plane_vec"))
    val planes = BoundedRank.packedIndex(seed,
        Seq(col("pid")), Seq("plane_vec" -> col("plane_vec")), "plane_id")
      .select(col("plane_id").cast("int").as("plane_id"),
        col("plane_vec"))
    EmbeddingIndex(planes, hyperplaneSigs(proj, planes),
      numPlanes, bandBits)
  }

  /** Publish an [[EmbeddingIndex]] as a directory layout —
    * `<path>/planes` + `<path>/signatures` (parquet) plus a band-key
    * Bloom and ALL probe parameters in `_index_meta.json` (the
    * [[writeSignatureIndex]] treatment: a probe cannot silently sign
    * or band differently than the index was built). The Bloom hashes
    * `band_no` TOGETHER with the band value: band values alone span
    * only `2^bandBits` distinct ints and would saturate immediately.
    */
  def writeEmbeddingIndex(index: EmbeddingIndex, path: String,
                          bloomK: Int = 5, bloomM: Int = 1 << 16): Unit = {
    val spark = index.sigs.sparkSession
    index.planes.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/planes")
    index.sigs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/signatures")
    val bits = spark.read.parquet(s"$path/signatures")
      .select(posexplode(embBandKeys(index.numPlanes, index.bandBits))
        .as(Seq("band_no", "bk")))
      .agg(graft.functions.BloomBits.sketch(
        hash60(concat_ws("_", col("band_no"), col("bk"))),
        bloomK, bloomM).as("sk"))
      .head().getSeq[Long](0).toArray
    writeIndexMeta(spark, path, graft.sink.IndexLayout.metaJson(Seq(
      "num_planes" -> index.numPlanes, "band_bits" -> index.bandBits,
      "bloom_k" -> bloomK, "bloom_m" -> bits.length,
      "bloom_bits" -> bitsToString(bits))))
  }

  def readEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): EmbeddingIndex = {
    val root = graft.sink.IndexLayout.readMeta(spark, path)
    EmbeddingIndex(spark.read.parquet(s"$path/planes"),
      spark.read.parquet(s"$path/signatures"),
      metaInt(root, "num_planes"), metaInt(root, "band_bits"),
      Some(metaBloom(root)))
  }

  /** Publish the probe-optimized banded-postings layout for the
    * embedding index — the [[writeBandedSignatureIndex]] twin for the
    * hyperplane family: one posting row per (band, bucket) membership
    * `(bh, band_no, bk, corpus_id)`, range-sorted by the band-key hash
    * into manifest-indexed shards, plus the plane table (a probe must
    * sign with the index's planes). Embedding band keys are
    * `numPlanes / bandBits` per vector (2–4 at defaults) — the shape
    * where manifest point-pruning genuinely pays, unlike gram-level
    * Jaccard postings (docs/SEARCH_SOAK.md).
    */
  def writeBandedEmbeddingIndex(index: EmbeddingIndex, path: String,
                                shards: Int = 64): Unit = {
    val spark = index.sigs.sparkSession
    index.planes.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/planes")
    val postings =
      embPostingsOfSigs(index.sigs, index.numPlanes, index.bandBits)
    graft.sink.Sinks.writeRangeSorted(postings, s"$path/postings",
      "bh", shards)
    writeIndexMeta(spark, path, graft.sink.IndexLayout.metaJson(Seq(
      "num_planes" -> index.numPlanes, "band_bits" -> index.bandBits,
      "shards" -> shards, "layout" -> "banded_postings")))
  }

  /** Publish the corpus VECTOR table beside a banded embedding index
    * as `<path>/vectors` — `(id, v)` range-sorted by id into
    * manifest-indexed shards. With it in place,
    * [[embeddingNearDupsAgainstBandedIndex]]'s exact-cosine
    * verification fetches ONLY the shards holding candidate ids
    * instead of scanning the corpus vector table whole — the r14 soak
    * measured full-table verification (2.7 s at 2M vectors) eating the
    * banded candidate read's win (docs/SEARCH_SOAK.md). Requires an
    * integral id (the range-manifest convention).
    */
  def writeIndexVectors(vectors: DataFrame, path: String,
                        idCol: String, vecCol: String,
                        shards: Int = 64): Unit = {
    graft.sink.Sinks.writeRangeSorted(
      vectors.select(col(idCol).as("id"), col(vecCol).as("v")),
      s"$path/vectors", "id", shards)
    ()
  }

  /** Probe a [[writeBandedEmbeddingIndex]] layout — output-identical
    * to [[embeddingNearDupsAgainst]] over the same corpus, with the
    * candidate generation reading ONLY the shards containing the
    * batch's band keys. Verification: when the publisher also wrote
    * `<path>/vectors` ([[writeIndexVectors]]), the exact-cosine pass
    * reads ONLY the shards holding candidate corpus ids; otherwise it
    * is the same AQE-adaptive join against `corpusEmb` as the flat
    * probe (slim id pairs meet the corpus vector table; bounded batch
    * vectors broadcast). Driver point lists (batch band keys,
    * candidate ids) are capped at `maxPoints`; above the cap the probe
    * falls back to the flat scan of the same published files —
    * oracle-identical, and the measured faster plan for large batches.
    */
  def embeddingNearDupsAgainstBandedIndex(newEmb: DataFrame,
      corpusEmb: DataFrame, path: String, idCol: String, vecCol: String,
      threshold: Double = 0.9,
      maxPoints: Int = DefaultMaxProbePoints,
      maxEpochExclusive: Option[Long] = None): DataFrame =
    embeddingNearDupsAgainstBandedIndexOpt(newEmb, Some(corpusEmb),
      path, idCol, vecCol, threshold, maxPoints, maxEpochExclusive)

  /** Sidecar-only spelling: the layout at `path` MUST carry the
    * published vector sidecar (fails loudly otherwise) — the streaming
    * maintainer's entry, where no caller-side corpus table exists.
    */
  private[graft] def embeddingNearDupsAgainstBandedIndexOpt(
      newEmb: DataFrame, corpusEmbOpt: Option[DataFrame], path: String,
      idCol: String, vecCol: String, threshold: Double,
      maxPoints: Int,
      maxEpochExclusive: Option[Long]): DataFrame = {
    import graft.functions.VectorOps
    val spark = newEmb.sparkSession
    val root = graft.sink.IndexLayout.readMeta(spark, path)
    val numPlanes = metaInt(root, "num_planes")
    val bandBits = metaInt(root, "band_bits")
    val planes = spark.read.parquet(s"$path/planes")
    // persisted: the point collection and the band join both consume
    // the banded batch; re-deriving re-signs the batch
    val newBanded = hyperplaneSigs(
        newEmb.select(col(idCol).as("id"), col(vecCol).as("v")), planes)
      .select(col("id").as("new_id"),
        posexplode(embBandKeys(numPlanes, bandBits))
          .as(Seq("band_no", "bk")))
      .withColumn("bh", hash60(concat_ws("_", col("band_no"), col("bk"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posts = graft.sink.IndexLayout.readPostings(spark, path, root,
      collectPointsCapped(newBanded.select(col("bh")), maxPoints),
      maxEpochExclusive)
    val candBase = posts
      .join(broadcast(newBanded), Seq("band_no", "bk"))
      .select(col("new_id"), col("corpus_id")).distinct()
    val vecsBase = s"$path/${graft.sink.IndexLayout
      .baseDir(root, graft.sink.IndexLayout.Vectors)}"
    val prunedVectors =
      graft.sink.Sinks.hasRangeManifest(spark, vecsBase)
    // The published sidecar, when present, IS the corpus vector table
    // — a passed corpusEmb that has drifted from it (stale vectors,
    // re-normalization) would change pairs with no signal, so say so.
    if (prunedVectors && corpusEmbOpt.isDefined)
      System.err.println(s"[graft] embeddingNearDupsAgainstBandedIndex:" +
        s" verification reads the published vector sidecar at " +
        s"$vecsBase; the corpusEmb argument is ignored (keep it in " +
        "sync with writeIndexVectors or drop the sidecar)")
    require(prunedVectors || corpusEmbOpt.isDefined,
      s"banded embedding index at $path has no vector sidecar and no " +
        "corpusEmb was supplied - nothing to verify candidates against")
    // persisted only when the id-pruned fetch consumes it twice
    // (candidate-id collection + the verification join)
    val cand =
      if (prunedVectors) candBase
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else candBase
    val nv = newEmb.select(col(idCol).as("new_id"),
      col(vecCol).as("__nv"))
    val cv =
      if (prunedVectors)
        graft.sink.IndexLayout.readPostings(spark, path, root,
            collectPointsCapped(cand.select(col("corpus_id")),
              idFetchCap(spark, vecsBase, maxPoints)),
            maxEpochExclusive, graft.sink.IndexLayout.Vectors)
          .select(col("id").as("corpus_id"), col("v").as("__cv"))
      else corpusEmbOpt.get.select(col(idCol).as("corpus_id"),
        col(vecCol).as("__cv"))
    val out = warnIfIndexShuffles(cv
      .join(cand, Seq("corpus_id"))
      .join(broadcast(nv), Seq("new_id"))
      .filter(VectorOps.cosineF(col("__nv"), col("__cv")) >= threshold)
      .select(col("new_id"), col("corpus_id")),
      "embeddingNearDupsAgainstBandedIndex")
    if (prunedVectors) releaseAfterAll(out, newBanded, cand)
    else releaseAfter(out, newBanded)
  }

  /** The posting rows of a hyperplane signature frame —
    * `(corpus_id, band_no, bk, bh)`, one per band membership — shared
    * by the batch publisher ([[writeBandedEmbeddingIndex]]) and the
    * streaming epoch appender
    * ([[graft.streaming.StreamingBandedEmbeddingIndex]]).
    */
  private[graft] def embPostingsOfSigs(sigs: DataFrame, numPlanes: Int,
                                       bandBits: Int): DataFrame =
    sigs.select(col("id").as("corpus_id"),
        posexplode(embBandKeys(numPlanes, bandBits))
          .as(Seq("band_no", "bk")))
      .withColumn("bh", hash60(concat_ws("_", col("band_no"), col("bk"))))

  /** Hyperplane signatures of an embedding frame signed with the
    * INDEX'S planes — the maintainer's epoch-append entry.
    */
  private[graft] def embSignWithPlanes(emb: DataFrame, planes: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    hyperplaneSigs(
      emb.select(col(idCol).as("id"), col(vecCol).as("v")), planes)

  /** The `numBands` hyperplane-sig band keys of a `sig` column. */
  private def embBandKeys(numPlanes: Int, bandBits: Int): Column = {
    val numBands = numPlanes / bandBits
    val mask = (1L << bandBits) - 1
    array((0 until numBands).map(b =>
      shiftright(col("sig"), b * bandBits).bitwiseAND(mask)): _*)
  }

  private def hyperplaneSigs(proj: DataFrame,
                             planes: DataFrame): DataFrame = {
    import graft.functions.VectorOps
    proj.join(broadcast(planes))
      .select(col("id"),
        when(VectorOps.dotF(col("v"), col("plane_vec")) >= 0,
          expr("shiftleft(1L, plane_id)")).otherwise(0L).as("bit"))
      .groupBy(col("id"))
      .agg(sum(col("bit")).as("sig"))
  }

  /** Incremental embedding-cosine probe — the `...Against` member for
    * the hyperplane-LSH family: sign an ingest batch with the INDEX'S
    * planes, band-join against the persisted corpus signatures (batch
    * side broadcast — the signature table never shuffles), verify
    * candidates by exact cosine against the corpus vectors. Emits
    * `(new_id, corpus_id)` for every batch vector near-duplicating an
    * indexed one.
    */
  def embeddingNearDupsAgainst(newEmb: DataFrame, corpusEmb: DataFrame,
                               index: EmbeddingIndex, idCol: String,
                               vecCol: String,
                               threshold: Double = 0.9,
                               maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.functions.VectorOps
    def banded(sigs: DataFrame, side: String): DataFrame =
      sigs.select(col("id").as(s"${side}_id"),
        posexplode(embBandKeys(index.numPlanes, index.bandBits))
          .as(Seq("band_no", "bk")))
    val newSigs = hyperplaneSigs(
      newEmb.select(col(idCol).as("id"), col(vecCol).as("v")),
      index.planes)
    // published-index Bloom short-circuit (no false negatives): batch
    // band keys definitely absent from the index never enter the
    // broadcast build
    val newBanded = index.bloom match {
      case Some((bits, bk)) =>
        banded(newSigs, "new").filter(graft.operators.Sketches
          .bloomMightContain(typedLit(bits.toIndexedSeq),
            hash60(concat_ws("_", col("band_no"), col("bk"))),
            bk, bits.length))
      case None => banded(newSigs, "new")
    }
    // viral-bucket guard, probe flavor — same semantics and trade as
    // [[hammingNearDupsAgainst]]: an over-cap corpus band bucket answers
    // with its MIN-id hub only, so a mirror-farm cluster (10^6 identical
    // vectors sharing every band key) emits one candidate per band
    // instead of |bucket| per band. The hub pair's verification outcome
    // is exact; every (new_id, non-hub member) pair of an over-cap
    // bucket is intentionally DROPPED — the output is a representative
    // hub pair, not the full pair set, even for identical-vector
    // clusters. Persisted when enabled: the stats aggregate and
    // the guarded join are two references the planner will not reuse.
    val guarded = maxBucket != Int.MaxValue
    val corpusBanded =
      if (guarded) banded(index.sigs, "corpus")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else banded(index.sigs, "corpus")
    val corpusSide =
      if (!guarded) corpusBanded
      else {
        val stats = corpusBanded.groupBy(col("band_no"), col("bk"))
          .agg(count(lit(1)).as("__n"), min(col("corpus_id")).as("__hub"))
        corpusBanded.join(stats, Seq("band_no", "bk"))
          .filter(col("__n") <= maxBucket ||
            col("corpus_id") === col("__hub"))
          .drop("__n", "__hub")
      }
    val cand = corpusSide
      .join(broadcast(newBanded), Seq("band_no", "bk"))
      .select(col("new_id"), col("corpus_id")).distinct()
    // exact verification, shaped so NOTHING unbounded reaches the
    // driver and no fat column rides a shuffle:
    //   - the candidate id pairs join the corpus vector table FIRST.
    //     No broadcast hint: AQE broadcast-converts the slim pair set
    //     when it is batch-sized (the common case — corpus probed in
    //     place), and falls back to a legitimate distributed join on
    //     16-byte id rows when a clustered corpus makes the candidate
    //     set corpus-scale. (A forced broadcast(cand) here collected
    //     the candidates to the driver and aborted at 2M vectors /
    //     32-blob clustering — StressProbe's embedding soak, r14.)
    //   - the batch vectors broadcast (bounded by the batch) and the
    //     cosine filter runs in the same stage as that join, so the
    //     corpus vectors attached by the first join never shuffle.
    val nv = newEmb.select(col(idCol).as("new_id"),
      col(vecCol).as("__nv"))
    val cv = corpusEmb.select(col(idCol).as("corpus_id"),
      col(vecCol).as("__cv"))
    val out = warnIfIndexShuffles(cv
      .join(cand, Seq("corpus_id"))
      .join(broadcast(nv), Seq("new_id"))
      .filter(VectorOps.cosineF(col("__nv"), col("__cv")) >= threshold)
      .select(col("new_id"), col("corpus_id")),
      "embeddingNearDupsAgainst")
    if (guarded) releaseAfter(out, corpusBanded) else out
  }

  /** Incremental Hamming-fingerprint probe — the `...Against` member
    * for the simhash / perceptual-hash family: screen a batch's
    * fingerprints against a PERSISTED corpus fingerprint table
    * `(id, fp)` without re-fingerprinting the corpus. Candidates share
    * any `bandBits`-wide band (the width knob trades bucket count
    * against the pigeonhole guarantee, exactly as in
    * [[bandedHammingPairs]]); verification is
    * `bit_count(xor) <= maxHamming`.
    * Emits `(new_id, corpus_id, hamming)`.
    *
    * Scale shape mirrors [[minhashNearDupsAgainst]]: the NEW side —
    * small by definition of an incremental batch — is broadcast, so the
    * corpus fingerprint table is probed with a map-side join and never
    * shuffles ([[warnIfIndexShuffles]] guards the contract). Works for
    * any <=64-bit fingerprint: simhash tables, media aHash tables.
    */
  def hammingNearDupsAgainst(newFps: DataFrame, corpusFps: DataFrame,
                             idCol: String, fpCol: String,
                             bits: Int = 32, maxHamming: Int = 3,
                             bandBits: Int = 8,
                             maxBucket: Int = Int.MaxValue)
      : DataFrame = {
    require(bandBits > 0 && bandBits < 64 &&
        bits % bandBits == 0 && bits > 0 && bits <= 64,
      s"bits ($bits) must be a positive multiple of bandBits " +
        s"($bandBits in [1, 63]), at most 64")
    warnLuckRange(bits, bandBits, maxHamming)
    val nBands = bits / bandBits
    val bandMask = (1L << bandBits) - 1
    def banded(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as(s"${side}_id"),
        col(fpCol).as(s"fp_$side"),
        posexplode(array((0 until nBands).map(b =>
          concat_ws("_", lit(b),
            shiftright(col(fpCol), b * bandBits).bitwiseAND(bandMask)))
          : _*))
          .as(Seq("band_no", "bk")))
    // viral-bucket guard, probe flavor: a corpus fingerprint cluster
    // whose band bucket exceeds maxBucket answers with its MIN-id hub
    // only. The hub pair's verification outcome is exact, but every
    // (new_id, non-hub member) pair of an over-cap bucket is
    // intentionally DROPPED — representative output, not pair parity,
    // even for identical-fingerprint clusters (the mirror-farm case
    // that motivates the guard). For a mixed over-cap bucket this also
    // trades recall — a batch doc within maxHamming of a non-hub
    // member but not of the hub loses that pair, the same
    // trade bucketPairs' star guard documents. Measured necessity: the
    // 5M-doc soak's small-vocab corpus collapses simhash fingerprints
    // into mega-clusters that share every band at any band width
    // (docs/SEARCH_SOAK.md). When enabled, the banded corpus frame is
    // persisted — the stats aggregate and the guarded join are two
    // references the planner will not reuse, and recomputing them would
    // re-fingerprint the corpus. The default skips all of it.
    val guarded = maxBucket != Int.MaxValue
    val corpusBanded =
      if (guarded) banded(corpusFps, "corpus")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else banded(corpusFps, "corpus")
    val corpusSide =
      if (!guarded) corpusBanded
      else {
        val stats = corpusBanded.groupBy(col("band_no"), col("bk"))
          .agg(count(lit(1)).as("__n"), min(col("corpus_id")).as("__hub"))
        corpusBanded.join(stats, Seq("band_no", "bk"))
          .filter(col("__n") <= maxBucket ||
            col("corpus_id") === col("__hub"))
          .drop("__n", "__hub")
      }
    val out = warnIfIndexShuffles(corpusSide
      .join(broadcast(banded(newFps, "new")), Seq("band_no", "bk"))
      .select(col("new_id"), col("corpus_id"),
        bit_count(col("fp_new").bitwiseXOR(col("fp_corpus")))
          .cast("int").as("hamming"))
      // threshold BEFORE the cross-band dedup (r20): set-identical,
      // over-threshold candidates skip the distinct's exchange
      .filter(col("hamming") <= maxHamming)
      .distinct(), "hammingNearDupsAgainst")
    if (guarded) releaseAfter(out, corpusBanded) else out
  }

  /** [[hammingNearDupsAgainst]] with the batch fingerprinted in place:
    * the simhash spelling of the incremental probe (corpus side is the
    * persisted [[simhash]] output).
    */
  def simhashNearDupsAgainst(newDocs: DataFrame, corpusFps: DataFrame,
                             idCol: String, textCol: String,
                             bits: Int = 32, maxHamming: Int = 3,
                             bandBits: Int = 8,
                             maxBucket: Int = Int.MaxValue): DataFrame =
    hammingNearDupsAgainst(simhash(newDocs, idCol, textCol, bits),
      corpusFps.select(col(idCol), col("simhash")), idCol, "simhash",
      bits, maxHamming, bandBits, maxBucket)

  /** Embedding-cosine near-duplicate pairs with deterministic
    * random-hyperplane-style LSH: the sign bits of the dot product against
    * `numPlanes` fixed probe vectors (the lowest-id corpus vectors, given
    * dense 0..numPlanes-1 positions — deterministic, so the DuckDB oracle
    * reproduces them) form a signature, which is banded minhash-style into
    * `numPlanes / bandBits` bands of `bandBits` bits; pairs colliding in
    * ANY band are candidates, verified by exact cosine >= `threshold`.
    *
    * Scale design (the 100 TB constraints, in order):
    *   - signature aggregation groups on id ONLY — raw float vectors never
    *     ride a shuffle key; they are re-joined for verification at the end
    *   - defaults give 2^bandBits = 64k buckets per band, so within-bucket
    *     pair counts are ~n^2/64k per band, and banding (vs one monolithic
    *     bucket key) restores the recall that narrower single buckets lose
    *   - candidates are generated per band bucket (one posexplode -> one
    *     shuffle), never as a cross join
    */
  def embeddingNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                        numPlanes: Int = 32, bandBits: Int = 16,
                        threshold: Double = 0.9,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.functions.VectorOps
    require(bandBits > 0, s"bandBits ($bandBits) must be positive")
    require(numPlanes % bandBits == 0 && numPlanes <= 63,
      s"numPlanes ($numPlanes) must be a multiple of bandBits ($bandBits) " +
        "and <= 63")
    val numBands = numPlanes / bandBits
    val mask = (1L << bandBits) - 1
    // the (id, vec) projection feeds three consumers (plane seed, signature
    // aggregation, verification re-join) — persist it once instead of
    // re-scanning the corpus three times. At 100 TB this is the
    // write-to-storage point; locally MEMORY_AND_DISK is the same idea.
    val proj = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dense plane index 0..numPlanes-1 (NOT the raw id: ids are arbitrary
    // longs, and using them as bit positions would collide mod 64).
    // BoundedRank packs/sorts/explodes the numPlanes-row seed set —
    // no partition-less WindowExec, per the registry plan lint.
    val seed = proj.orderBy(col("id").asc).limit(numPlanes)
      .select(col("id").as("pid"), col("v").as("plane_vec"))
    val planes = broadcast(BoundedRank.packedIndex(seed,
        Seq(col("pid")), Seq("plane_vec" -> col("plane_vec")), "plane_id")
      .select(col("plane_id").cast("int").as("plane_id"),
        col("plane_vec")))
    // persist: bucketPairs references the signature frame on both join
    // sides and the planner does not reuse it (see minhashNearDups) —
    // without this each side redoes numPlanes dot products per vector.
    // Signatures are 16 bytes/doc.
    val sigs = proj
      .join(planes)
      .select(col("id"),
        when(VectorOps.dotF(col("v"), col("plane_vec")) >= 0,
          expr("shiftleft(1L, plane_id)")).otherwise(0L).as("bit"))
      .groupBy(col("id"))
      .agg(sum(col("bit")).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandKeys = array((0 until numBands).map { b =>
      shiftright(col("sig"), b * bandBits).bitwiseAND(mask)
    }: _*)
    val banded = sigs.select(col("id"),
      posexplode(bandKeys).as(Seq("band_no", "bk")))
    val cand = bucketPairs(banded, Seq("band_no", "bk"), "id", Seq(),
        maxBucket)
      .select(col("id_a"), col("id_b")).distinct()
    val vecs = proj.select(col("id").as("vid"), col("v").as("vv"))
    val pairs = cand
      .join(vecs.select(col("vid").as("id_a"), col("vv").as("v_a")), "id_a")
      .join(vecs.select(col("vid").as("id_b"), col("vv").as("v_b")), "id_b")
      .filter(VectorOps.cosineF(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    releaseAfterAll(pairs, proj, sigs)
  }

  /** Materialize the (small) pair result eagerly and release a
    * corpus-sized cached intermediate: `localCheckpoint(eager = true)`
    * cuts the result's lineage off the persisted frame, so the immediate
    * `unpersist` is safe — repeated operator calls no longer pin
    * corpus-sized blocks for the lifetime of the session. Near-dup
    * output is pairs, tiny relative to the corpus, so the eager
    * materialization costs one pass that the caller was about to pay
    * anyway.
    */
  private[graft] def releaseAfter(result: DataFrame, cached: DataFrame)
      : DataFrame = releaseAfterAll(result, cached)

  /** [[releaseAfter]] for multiple cached frames: ONE eager checkpoint,
    * then every frame unpersists (nesting releaseAfter would checkpoint
    * the already-materialized result once per frame).
    */
  private[graft] def releaseAfterAll(result: DataFrame,
      cached: DataFrame*): DataFrame = {
    PreCheckpointLint.hook(result)
    val out = result.localCheckpoint(eager = true)
    cached.foreach(_.unpersist())
    out
  }

  /** N-gram Jaccard near-dup pairs with exact prefix filtering
    * (AllPairs/PPJoin family, public literature): with a global shingle
    * order (ascending document frequency), any pair with J >= t shares a
    * shingle inside both docs' first `|d| - ceil(t*|d|) + 1` shingles —
    * so only those prefixes are indexed for the candidate join. This is
    * the scale path: the O(pairs-sharing-any-shingle) blowup of a naive
    * inverted-index join collapses to pairs sharing a *rare* prefix
    * shingle. Verification computes the true Jaccard from the full
    * shingle sets (array_intersect), so the output is exact.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.8): DataFrame = {
    // materialize the per-doc shingle sets ONCE (persisted): the three
    // consumers below (document frequency, sizes, prefix index) would
    // otherwise each re-run the shingle extraction over the full corpus.
    // At 100 TB this intermediate is the thing you'd write to storage;
    // locally MEMORY_AND_DISK is the same idea.
    val sets = docs.select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), k)).as("gs"))
      .withColumn("sz", size(col("gs")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = sets.select(col("id"), col("sz"), explode(col("gs")).as("g"))
    // global document frequency = the prefix ordering key
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("id"))
      .orderBy(col("df").asc, col("g").asc)
    // persisted (r20): BOTH candidate-join sides reference the prefix
    // index, and the planner does not reuse the subtree across
    // alias-renamed sides — without the persist the dfreq aggregation,
    // the join and the ordering window all ran TWICE (once per side).
    // The prefix table is exactly what buildJaccardIndex publishes to
    // storage at scale, so caching it here is the in-memory spelling of
    // the production layout, like the sets persist above.
    val prefix = grams.join(dfreq, "g")
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("g"), col("sz"), col("rn").as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = prefix.select(col("id").as("id_a"), col("g"),
      col("sz").as("sz_a"), col("pos").as("pos_a"))
    val r = prefix.select(col("id").as("id_b"), col("g"),
      col("sz").as("sz_b"), col("pos").as("pos_b"))
    val candidates = l.join(r, Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        // length filter: J >= t forces t <= |A|/|B| <= 1/t
        col("sz_a") >= lit(threshold) * col("sz_b") &&
        col("sz_b") >= lit(threshold) * col("sz_a") &&
        positionalFilter(threshold))
      .select(col("id_a"), col("id_b")).distinct()
    val pairs = candidates
      .join(sets.select(col("id").as("id_a"), col("gs").as("gs_a"),
        col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("gs").as("gs_b"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("gs_a"), col("gs_b")))
        .cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    releaseAfterAll(pairs, sets, prefix)
  }

  /** AllPairs artifacts for the incremental exact-Jaccard probe: the
    * frozen document-frequency order (the probe MUST order its prefixes
    * by the same total order the index's prefixes used — the prefix
    * theorem needs one consistent order on both sides), the corpus
    * prefix index, and the per-doc shingle sets for exact verification.
    * At 100 TB these are the three tables an index publish writes.
    */
  final case class JaccardIndex(dfreq: DataFrame, prefix: DataFrame,
      sets: DataFrame, k: Int, threshold: Double,
      bloom: Option[(Array[Long], Int)] = None,
      gramCounts: Option[DataFrame] = None)

  /** Build the [[JaccardIndex]] — the same sets/df/prefix pipeline
    * [[ngramJaccardPairs]] runs internally, factored out so an ingest
    * batch can be screened later without re-shingling the corpus.
    *
    * Grams ride as hash60 LONGS end to end (postings 8 bytes, stored
    * sets ~8 bytes/gram instead of ~20-char strings): the 5M-doc probe
    * soak filled the disk shipping string-array pairs through the
    * verification join. Jaccard is then over DISTINCT HASHED grams —
    * identical to string Jaccard up to hash collisions, and
    * oracle-exact because the DuckDB oracle hashes with the same
    * StableHash (a collision collapses the same two grams in both
    * engines).
    */
  def buildJaccardIndex(corpus: DataFrame, idCol: String,
                        textCol: String, k: Int = 3,
                        threshold: Double = 0.8): JaccardIndex = {
    // persist: dfreq, prefix, and sets all derive from this frame and
    // the planner does not reuse the subtree (the ngramJaccardPairs
    // lesson) — without it every consumer re-shingles and re-hashes the
    // corpus. An in-memory index holds the cache until the session
    // evicts it (bench clears cache per query); the production path
    // writes the three tables to storage and reads them back instead.
    val sets = hashedShingleSets(corpus, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dfreq, prefix) = jaccardArtifactsOfSets(sets, threshold)
    JaccardIndex(dfreq, prefix, sets, k, threshold)
  }

  /** The AllPairs document-frequency and prefix tables of a stored
    * shingle-set frame `(id, gs, sz)` — factored from
    * [[buildJaccardIndex]] so the streaming maintainer's compaction
    * can RE-FREEZE the df order from the stored sets alone (the
    * original texts are gone by then).
    */
  private[graft] def jaccardArtifactsOfSets(sets: DataFrame,
      threshold: Double): (DataFrame, DataFrame) = {
    val grams = sets.select(col("id"), col("sz"), explode(col("gs")).as("g"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("id"))
      .orderBy(col("df").asc, col("g").asc)
    // `pos` (the gram's 1-based rank in the doc's df-ordered gram
    // list) rides along for the PPJoin positional filter (r16) — 4
    // bytes per posting buys a 2-5x candidate cut downstream
    val prefix = grams.join(dfreq, "g")
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("g"), col("sz"), col("rn").as("pos"))
    (dfreq, prefix)
  }

  /** A batch's prefix rows `(id, g, sz)` under an index's FROZEN df
    * order — grams unseen by `dfreq` rank rarest-first, a consistent
    * extension of the frozen total order, so prefixes appended to a
    * maintained index under it stay sound against every probe that
    * uses the same frozen order (the prefix-filter theorem needs ONE
    * global order, not the current frequencies).
    */
  private[graft] def frozenOrderPrefix(nsets: DataFrame,
      dfreq: DataFrame, t: Double): DataFrame = {
    val ngrams = nsets.select(col("id"), col("sz"),
      explode(col("gs")).as("g"))
    val wOrd = Window.partitionBy(col("id"))
      .orderBy(col("df").asc, col("g").asc)
    val batchDf = dfreq
      .join(broadcast(ngrams.select(col("g")).distinct()), Seq("g"))
    ngrams
      .join(broadcast(batchDf), Seq("g"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("id"), col("g"), col("sz"), col("rn").as("pos"))
  }

  /** Publish a [[JaccardIndex]] as a directory layout — the three
    * AllPairs tables (`<path>/dfreq`, `<path>/prefix`, `<path>/sets`)
    * plus a Bloom over the corpus PREFIX grams and both probe
    * parameters (shingle size, threshold) in `_index_meta.json`. The
    * Bloom is sound as a probe prefilter: a candidate requires a batch
    * prefix gram to EQUAL some corpus prefix gram, so batch prefix
    * grams the Bloom rejects cannot contribute a pair.
    */
  def writeJaccardIndex(index: JaccardIndex, path: String,
                        bloomK: Int = 5, bloomM: Int = 1 << 16,
                        shards: Int = 64): Unit = {
    val spark = index.sets.sparkSession
    val sm = org.apache.spark.sql.SaveMode.Overwrite
    // dfreq and prefix are keyed by the gram hash (a long): publish
    // them RANGE-SORTED on `g` with the shard manifest, so a probe can
    // open only the files containing its batch's grams
    // ([[ngramJaccardAgainstPath]]); plain reads (readJaccardIndex)
    // are unaffected — the manifest is a hidden sidecar.
    graft.sink.Sinks.writeRangeSorted(index.dfreq, s"$path/dfreq",
      "g", shards)
    graft.sink.Sinks.writeRangeSorted(index.prefix, s"$path/prefix",
      "g", shards)
    // per-gram posting counts `(g, n, hub)` — the viral-gram guard's
    // statistics, published so a guarded probe never recounts the
    // posting table (see [[jaccardCandidates]]'s sidecar branch)
    val gcounts = index.prefix.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("hub"))
    graft.sink.Sinks.writeRangeSorted(gcounts, s"$path/gcounts",
      "g", shards)
    // the stored shingle sets are keyed by doc id: with an integral id
    // (the engine convention) they publish range-sorted too, so the
    // probe's exact verification fetches ONLY candidate ids' shards
    // instead of scanning the corpus set table whole (the r14 soak
    // measured full-table verification eating the pruned candidate
    // read's win, docs/SEARCH_SOAK.md). Non-integral ids keep the
    // plain layout; readers detect the manifest sidecar.
    val idIntegral = Seq(org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
      .contains(index.sets.schema("id").dataType)
    if (idIntegral)
      graft.sink.Sinks.writeRangeSorted(index.sets, s"$path/sets",
        "id", shards)
    else index.sets.write.mode(sm).parquet(s"$path/sets")
    val bits = buildIndexBloom(
      spark.read.parquet(s"$path/prefix"), "g", bloomK, bloomM)
    // table schemas travel in the meta (r16): readers pass them to
    // spark.read.schema(...), so opening the layout launches ZERO
    // footer-inference jobs — the SQL TVF expands at analysis time,
    // where a planning-only consumer (EXPLAIN) must not run work, and
    // at scale a probe skips three footer reads per open
    writeIndexMeta(spark, path, graft.sink.IndexLayout.metaJson(Seq(
      "shingle_k" -> index.k, "threshold" -> index.threshold,
      "bloom_k" -> bloomK, "bloom_m" -> bits.length, "shards" -> shards,
      "bloom_bits" -> bitsToString(bits),
      "gcounts_dir" -> "gcounts",
      "schema_dfreq" -> index.dfreq.schema.toDDL,
      "schema_prefix" -> index.prefix.schema.toDDL,
      "schema_sets" -> index.sets.schema.toDDL,
      "schema_gcounts" -> gcounts.schema.toDDL)))
  }

  /** Probe a published Jaccard index by PATH with manifest pruning:
    * the batch's distinct gram hashes (bounded by the batch's own
    * vocabulary) select which `dfreq` and `prefix` shard files are
    * opened at all — the corpus-sized posting tables are never
    * scanned whole — and the exact verification reads ONLY the
    * stored-set shards holding candidate corpus ids (when the index
    * was published with an integral doc id; see [[writeJaccardIndex]]).
    * Output-identical to [[ngramJaccardAgainst]] over
    * [[readJaccardIndex]] (pruned-away files contain no batch gram /
    * candidate id by the manifest invariant; the df-order semi-join,
    * prefix join and verification join only ever consume matching
    * rows). Driver point lists (batch grams, candidate ids) are
    * capped at `maxPoints`; above the cap the probe falls back to the
    * flat scan of the same published files — oracle-identical, and
    * the measured faster plan for large batches (docs/SEARCH_SOAK.md).
    *
    * `maxGramPostings` (default unlimited = exact) is the viral-gram
    * guard: a gram whose posting list exceeds the cap answers with
    * its min-id hub posting only, so (batch, non-hub) pairs reachable
    * ONLY through over-cap grams are intentionally dropped —
    * representative output, NOT the exact pair set, when the cap is
    * set (the minhash `maxBucket` trade; see [[ngramJaccardAgainst]]).
    */
  def ngramJaccardAgainstPath(newDocs: DataFrame, path: String,
                              idCol: String, textCol: String,
                              maxPoints: Int = DefaultMaxProbePoints,
                              maxEpochExclusive: Option[Long] = None,
                              maxGramPostings: Int = Int.MaxValue)
      : DataFrame = {
    import graft.sink.IndexLayout
    val spark = newDocs.sparkSession
    val root = IndexLayout.readMeta(spark, path)
    val k = metaInt(root, "shingle_k")
    val nsets = hashedShingleSets(newDocs, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gs = collectPointsCapped(
      nsets.select(explode(col("gs")).as("g")), maxPoints)
    // dfreq: the FROZEN base only (the maintained layout's df order is
    // frozen between compactions — every appended prefix and every
    // probe must rank by the same order). prefix: base + epoch tail.
    val dfreqDir = s"$path/${IndexLayout.baseDir(root,
      IndexLayout.JaccardDfreq)}"
    val dfreqSchema = metaSchemaOpt(root, "schema_dfreq")
    val setsSchema = metaSchemaOpt(root, "schema_sets")
    val dfreq = gs match {
      case Some(ps) => graft.sink.Sinks.readRangePoints(spark, dfreqDir,
        ps, dfreqSchema)
      case None => dfreqSchema.fold(spark.read)(s =>
        spark.read.schema(s)).parquet(dfreqDir)
    }
    val prefix = IndexLayout.readPostings(spark, path, root, gs,
      maxEpochExclusive, IndexLayout.JaccardPrefix,
      metaSchemaOpt(root, "schema_prefix"))
    // the guard's count sidecar, gated EXACTLY like the prefix view
    // (same epoch listing, same manifest point-pruning on g) — counts
    // match the postings the candidate join will actually see. A
    // layout without the sidecar takes the recount branch.
    val gcounts =
      if (IndexLayout.hasTable(root, IndexLayout.JaccardGramCounts))
        Some(IndexLayout.readPostings(spark, path, root, gs,
          maxEpochExclusive, IndexLayout.JaccardGramCounts,
          metaSchemaOpt(root, "schema_gcounts")))
      else None
    val idx = JaccardIndex(dfreq, prefix,
      setsSchema.fold(spark.read)(s => spark.read.schema(s))
        .parquet(s"$path/${IndexLayout.baseDir(root,
          IndexLayout.JaccardSets)}"),
      k, metaDouble(root, "threshold"), Some(metaBloom(root)),
      gramCounts = gcounts)
    // persisted: the candidate-id collection and the verification join
    // both consume the candidate pairs
    val candidates = jaccardCandidates(nsets, idx, maxGramPostings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val setsDir = s"$path/${IndexLayout.baseDir(root,
      IndexLayout.JaccardSets)}"
    val corpusSets =
      if (graft.sink.Sinks.hasRangeManifest(spark, setsDir))
        IndexLayout.readPostings(spark, path, root,
          collectPointsCapped(candidates.select(col("corpus_id")),
            idFetchCap(spark, setsDir, maxPoints)),
          maxEpochExclusive, IndexLayout.JaccardSets, setsSchema)
      else setsSchema.fold(spark.read)(s => spark.read.schema(s))
        .parquet(setsDir)
    val pairs = jaccardVerify(candidates, nsets, corpusSets,
      idx.threshold)
    releaseAfterAll(warnIfIndexShuffles(pairs, "ngramJaccardAgainstPath"),
      nsets, candidates)
  }

  def readJaccardIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): JaccardIndex =  {
    import graft.sink.IndexLayout
    val root = IndexLayout.readMeta(spark, path)
    // resolve through the meta so a STREAM-MAINTAINED layout reads
    // whole (frozen dfreq base; prefix/sets base + epoch tail); a
    // batch-published layout resolves to the plain dirs unchanged
    // meta-recorded schemas (r16) make the open job-free: no footer
    // inference — required by the analysis-time SQL TVF expansion,
    // where even EXPLAIN must not launch Spark jobs
    val dfreqRd = metaSchemaOpt(root, "schema_dfreq")
      .fold(spark.read)(s => spark.read.schema(s))
    JaccardIndex(
      dfreqRd.parquet(s"$path/${IndexLayout.baseDir(root,
        IndexLayout.JaccardDfreq)}"),
      IndexLayout.readPostings(spark, path, root, None, None,
        IndexLayout.JaccardPrefix, metaSchemaOpt(root, "schema_prefix")),
      IndexLayout.readPostings(spark, path, root, None, None,
        IndexLayout.JaccardSets, metaSchemaOpt(root, "schema_sets")),
      metaInt(root, "shingle_k"), metaDouble(root, "threshold"),
      Some(metaBloom(root)),
      gramCounts =
        if (IndexLayout.hasTable(root, IndexLayout.JaccardGramCounts))
          Some(IndexLayout.readPostings(spark, path, root, None, None,
            IndexLayout.JaccardGramCounts,
            metaSchemaOpt(root, "schema_gcounts")))
        else None)
  }

  /** `(id, gs: sorted array<long> of distinct gram hashes, sz)`. */
  private[graft] def hashedShingleSets(docs: DataFrame, idCol: String,
                                textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        array_sort(array_distinct(transform(
          array_distinct(shingles(col(textCol), k)),
          g => hash60(g)))).as("gs"))
      .withColumn("sz", size(col("gs")).cast("long"))

  /** Incremental exact-Jaccard probe — the `...Against` member for the
    * AllPairs family: the batch's prefixes are ordered by the INDEX'S
    * frozen df order (grams unseen at index time rank rarest-first —
    * a consistent extension of the total order, and unseen grams cannot
    * match any corpus prefix anyway), joined against the stored corpus
    * prefix index, length-filtered, then verified EXACTLY from the
    * stored shingle sets. Emits `(new_id, corpus_id, jaccard)` — at
    * the default `maxGramPostings` (unlimited): no false negatives,
    * same soundness as the all-pairs run. Setting the cap enables the
    * viral-gram guard and TRADES that completeness: an over-cap gram
    * answers with its min-id hub posting only, so (batch, non-hub)
    * pairs reachable only through over-cap grams are intentionally
    * dropped — representative output for adversarial/small-vocab
    * corpora where the exact candidate join goes quadratic (the
    * minhash `maxBucket` trade).
    */
  def ngramJaccardAgainst(newDocs: DataFrame, index: JaccardIndex,
                          idCol: String, textCol: String,
                          maxGramPostings: Int = Int.MaxValue)
      : DataFrame = {
    val nsets = hashedShingleSets(newDocs, idCol, textCol, index.k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = jaccardVerify(
      jaccardCandidates(nsets, index, maxGramPostings), nsets,
      index.sets, index.threshold)
    releaseAfter(warnIfIndexShuffles(pairs, "ngramJaccardAgainst"), nsets)
  }

  /** [[ngramJaccardAgainst]] as a PURE LAZY plan — no persist, no
    * eager checkpoint — for callers that must compose the probe
    * without executing anything (the SQL TVF expands at ANALYSIS
    * time; `EXPLAIN` must not launch Spark jobs). The trade: the
    * batch's shingle sets are re-derived by each consumer instead of
    * being cached and released — batch-sized work, while the eager
    * spelling's checkpoint exists to release the cache, which a
    * one-shot SQL query never accumulates.
    */
  private[graft] def ngramJaccardAgainstLazy(newDocs: DataFrame,
      index: JaccardIndex, idCol: String, textCol: String,
      maxGramPostings: Int = Int.MaxValue): DataFrame = {
    val nsets = hashedShingleSets(newDocs, idCol, textCol, index.k)
    jaccardVerify(
      jaccardCandidates(nsets, index, maxGramPostings), nsets,
      index.sets, index.threshold)
  }

  /** The AllPairs prefix-filter stage of [[ngramJaccardAgainst]] —
    * candidate `(new_id, corpus_id)` pairs of a batch's hashed shingle
    * sets against the index's frozen-df-order prefix tables. Factored
    * out so [[ngramJaccardAgainstPath]] can interpose an id-pruned
    * stored-set fetch between candidate generation and verification.
    */
  private def jaccardCandidates(nsets: DataFrame,
                                index: JaccardIndex,
                                maxGramPostings: Int = Int.MaxValue)
      : DataFrame = {
    val t = index.threshold
    // dfreq is corpus-VOCABULARY-sized and must never broadcast or
    // shuffle per probe: frozenOrderPrefix shrinks it first with a
    // broadcast semi-join on the batch's distinct grams (small by
    // definition of a batch), then the batch grams join the shrunken
    // slice broadcast
    val nprefixAll = frozenOrderPrefix(nsets, index.dfreq, t)
      .select(col("id").as("new_id"), col("g"), col("sz").as("sz_n"),
        col("pos").as("pos_n"))
    // published-index Bloom prefilter (sound — a pair needs a batch
    // prefix gram EQUAL to a corpus prefix gram, so definite-miss
    // grams cannot contribute): applied AFTER prefix selection, since
    // the rank above must see the doc's full gram list
    val nprefix = index.bloom match {
      case Some((bits, bk)) =>
        nprefixAll.filter(graft.operators.Sketches.bloomMightContain(
          typedLit(bits.toIndexedSeq), col("g"), bk, bits.length))
      case None => nprefixAll
    }
    // viral-gram guard, the Jaccard analog of the minhash family's
    // maxBucket: AllPairs assumes Zipfian grams whose PREFIX entries
    // are rare, but an adversarial/small-vocab corpus puts
    // corpus-scale posting lists behind "rare" grams and the
    // candidate join goes quadratic (found by the maintainer soak:
    // one 1k-doc probe spilled ~50 GB against 150k synthetic docs).
    // An over-cap gram answers with its MIN-id hub posting only —
    // the hub pair still verifies EXACTLY; (batch, non-hub member)
    // pairs reachable ONLY through over-cap grams are intentionally
    // dropped (representative output, the star trade the minhash
    // guard documents). Default keeps every gram exact.
    val guarded = maxGramPostings != Int.MaxValue
    val cprefix =
      if (!guarded) index.prefix
      else index.gramCounts match {
        case Some(counts) =>
          // maintained count sidecar (r16): the guard statistics come
          // from the layout's `(g, n, hub)` table — base counts from
          // the last compaction plus per-epoch deltas, folded here by
          // an exact long sum/min — restricted to the batch's grams
          // and BROADCAST. The posting table is scanned ONCE (the
          // candidate join); the pre-sidecar spelling re-scanned and
          // re-shuffled the posting sliver per probe, which the
          // 20-epoch maintainer soak measured growing linearly with
          // the index on the adversarial small-vocab corpus.
          val gset = broadcast(nprefix.select(col("g")).distinct())
          val stats = counts.join(gset, Seq("g"), "leftsemi")
            .groupBy(col("g"))
            .agg(sum(col("n")).as("__n"), min(col("hub")).as("__hub"))
          // LEFT join + null-relax: a gram the sidecar has no row for
          // (a crash window dropped its counts epoch) must pass the
          // guard UNCAPPED — undercounting may only relax the guard
          // (exact output, more candidates), never drop postings
          index.prefix.join(gset, Seq("g"), "leftsemi")
            .join(broadcast(stats), Seq("g"), "left")
            .filter(col("__n").isNull ||
              col("__n") <= maxGramPostings ||
              col("id") === col("__hub"))
            .drop("__n", "__hub")
        case None =>
          // no sidecar (pre-r16 layout / in-memory index): recount.
          // Guard work scales with the BATCH's grams, not the corpus
          // vocabulary: the broadcast semi-join keeps only the posting
          // lists of grams the batch actually probes (whole lists — the
          // per-gram counts stay exact). The stats rollup then runs on
          // that sliver; its join back stays a PLAIN join on purpose:
          // the sliver's exchange on g is reused between the aggregate
          // and the join input (one scan), and AQE broadcasts the stats
          // side when it is small — a forced broadcast(stats) plus
          // unshuffled double scan measured SLOWER on the adversarial
          // small-vocab corpus where the sliver IS the whole prefix
          // table (apply 30 s vs 22 s per epoch at 200k docs).
          val gset = broadcast(nprefix.select(col("g")).distinct())
          val relevant = index.prefix.join(gset, Seq("g"), "leftsemi")
          val stats = relevant.groupBy(col("g"))
            .agg(count(lit(1)).as("__n"), min(col("id")).as("__hub"))
          relevant.join(stats, Seq("g"))
            .filter(col("__n") <= maxGramPostings ||
              col("id") === col("__hub"))
            .drop("__n", "__hub")
      }
    // the positional filter needs the CORPUS prefix positions too —
    // present on layouts published since r16 (and on in-memory
    // indexes); pre-r16 published layouts lack the column and keep
    // the plain (still sound, just less pruned) candidate join
    val corpusHasPos = cprefix.columns.contains("pos")
    val cp =
      if (corpusHasPos) cprefix.select(col("id").as("corpus_id"),
        col("g"), col("sz").as("sz_c"), col("pos").as("pos_c"))
      else cprefix.select(col("id").as("corpus_id"), col("g"),
        col("sz").as("sz_c"))
    val lengthFiltered = cp
      .join(broadcast(nprefix), Seq("g"))
      .filter(col("sz_n") >= lit(t) * col("sz_c") &&
        col("sz_c") >= lit(t) * col("sz_n"))
    // skipped in guarded mode: the guard keeps only HUB postings for
    // over-cap grams, so a hub pair's FIRST shared gram may be gone
    // and the first-gram soundness argument with it — the positional
    // filter could then drop hub pairs the guard contract promises to
    // verify exactly
    val posFiltered =
      if (corpusHasPos && !guarded) lengthFiltered.filter(
        (lit(1L) + least(col("sz_n") - col("pos_n"),
          col("sz_c") - col("pos_c"))) * lit(1.0 + t) >=
          lit(t) * (col("sz_n") + col("sz_c")) - lit(1e-9))
      else lengthFiltered
    posFiltered.select(col("new_id"), col("corpus_id")).distinct()
  }

  /** PPJoin positional filter (public AllPairs/PPJoin literature):
    * for a candidate generated by a shared gram at 1-based positions
    * `(pos_a, pos_b)` of the two docs' common-order gram lists, the
    * overlap is at most `1 + min(sz_a - pos_a, sz_b - pos_b)`, while
    * `J >= t` forces `overlap * (1 + t) >= t * (sz_a + sz_b)`. The
    * bound is sound for each pair through its FIRST shared prefix
    * gram (nothing common precedes it), so filtering EVERY generating
    * gram match keeps every true pair while cutting candidates that
    * share only late-prefix grams. The `1e-9` slack shields the float
    * boundary (a boundary-equal true pair must not be dropped;
    * verification downstream is exact, so the slack costs nothing).
    */
  private def positionalFilter(t: Double): Column =
    (lit(1L) + least(col("sz_a") - col("pos_a"),
      col("sz_b") - col("pos_b"))) * lit(1.0 + t) >=
      lit(t) * (col("sz_a") + col("sz_b")) - lit(1e-9)

  /** Exact-Jaccard verification of candidate pairs from the stored
    * shingle sets — the closing stage of [[ngramJaccardAgainst]].
    */
  private def jaccardVerify(candidates: DataFrame, nsets: DataFrame,
                            corpusSets: DataFrame,
                            t: Double): DataFrame =
    candidates
      .join(broadcast(nsets.select(col("id").as("new_id"),
        col("gs").as("gs_n"), col("sz").as("sz_n"))), "new_id")
      .join(corpusSets.select(col("id").as("corpus_id"),
        col("gs").as("gs_c"), col("sz").as("sz_c")), "corpus_id")
      .withColumn("inter", size(array_intersect(col("gs_n"), col("gs_c")))
        .cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_n") + col("sz_c") - col("inter")))
      .filter(col("jaccard") >= t)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))

  /** Edit-distance-verified near-duplicate pairs — Ed-Join-style q-gram
    * prefix filtering (Xiao et al., "Ed-Join", PVLDB 2008) with bounded
    * Levenshtein verification. Text is normalized (lowercase, whitespace
    * collapsed), cut into distinct character `q`-grams, and candidate
    * pairs must (a) share a gram inside the `q*maxEdit + 1`-length
    * df-ascending prefix of each gram set and (b) differ in length by at
    * most `maxEdit` — both filters are SOUND for edit distance: one edit
    * destroys at most `q` positional grams, so `ed <= maxEdit` implies
    * the distinct-gram sets differ by at most `q*maxEdit` elements, and
    * the classic prefix-filter theorem then guarantees a shared gram in
    * the first `q*maxEdit + 1` grams under any global ordering. Emits
    * `(id_a, id_b, edit_dist)` for verified pairs with
    * `ed(a, b) <= maxEdit`.
    *
    * Complements [[ngramJaccardPairs]] (set similarity ignores order and
    * multiplicity; edit distance is the literature's strictest near-dup
    * criterion) and [[simhashNearDups]] (whose 32-bit fingerprint is too
    * coarse to separate small-edit pairs on short documents — measured on
    * the synthetic corpus: a 4-edit pair lands at Hamming 8).
    *
    * Scale shape: the gram sets are persisted ONCE for the three
    * consumers (df, prefix index, verification); candidates are generated
    * per shared-gram bucket (ONE shuffle on the gram), never as a cross
    * join; df-ascending ordering keeps prefix buckets rare by
    * construction. Verification cost is bounded by Spark's thresholded
    * `levenshtein(l, r, maxEdit)` — O(maxEdit * min(len)) per candidate
    * via the banded DP, not O(len^2). Documents shorter than `q`
    * characters produce no grams and never pair (both engines agree).
    */
  def editVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                        q: Int = 5, maxEdit: Int = 12): DataFrame = {
    require(q >= 2, s"gram size ($q) must be >= 2")
    require(maxEdit >= 1, s"maxEdit ($maxEdit) must be >= 1")
    val norm = regexp_replace(trim(lower(col(textCol))), "\\s+", " ")
    val sets = docs.select(col(idCol).as("id"), norm.as("__t"))
      .withColumn("gs", when(length(col("__t")) >= q,
        array_distinct(transform(
          sequence(lit(1), length(col("__t")) - (q - 1)),
          i => col("__t").substr(i, lit(q)))))
        .otherwise(array().cast("array<string>")))
      .withColumn("len", length(col("__t")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = sets.select(col("id"), col("len"), explode(col("gs")).as("g"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("id"))
      .orderBy(col("df").asc, col("g").asc)
    // persisted (r20, the ngramJaccardPairs lesson): both candidate-join
    // sides reference the prefix index; without the persist the dfreq
    // aggregation, its join and the ordering window ran twice
    val prefix = grams.join(dfreq, "g")
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= q * maxEdit + 1)
      .select(col("id"), col("g"), col("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = prefix.select(col("id").as("id_a"), col("g"),
      col("len").as("len_a"))
    val r = prefix.select(col("id").as("id_b"), col("g"),
      col("len").as("len_b"))
    val candidates = l.join(r, Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxEdit)
      .select(col("id_a"), col("id_b")).distinct()
    val pairs = candidates
      .join(sets.select(col("id").as("id_a"), col("__t").as("__ta")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("__t").as("__tb")), "id_b")
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxEdit).cast("int"))
      .filter(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
    releaseAfterAll(pairs, sets, prefix)
  }

  /** Incremental near-dup check — the production shape at 100 TB: a new
    * ingest batch is screened against the EXISTING corpus's persisted
    * minhash-signature index (the output of [[minhashSignatures]], stored
    * once, never recomputed), instead of re-running all-pairs LSH over
    * corpus+batch. Returns `(new_id, corpus_id, sig_agreement)` for every
    * batch document colliding with an indexed document in any LSH band
    * with signature agreement >= `threshold`.
    *
    * Scale design: band keys are recomputed from the signature columns on
    * both sides (the index stores signatures only), and the NEW side —
    * small by definition of an incremental batch — is broadcast, so the
    * corpus index is probed with a map-side join and never shuffles. A
    * daily 1M-doc batch against a 10B-doc index touches the index once,
    * in place. In-batch duplicates are a separate (tiny) concern:
    * compose with [[minhashNearDups]] over the batch itself.
    */
  def minhashNearDupsAgainst(newDocs: DataFrame, corpusSigs: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 3, numHashes: Int = 12,
                             rowsPerBand: Int = 3,
                             threshold: Double = 0.5,
                             maxBucket: Int = Int.MaxValue): DataFrame =
    minhashAgainstImpl(newDocs, corpusSigs, idCol, textCol, k, numHashes,
      rowsPerBand, threshold, bloom = None, "minhashNearDupsAgainst",
      maxBucket)

  /** The LSH band-key array shared by the signature probe paths:
    * `numBands` keys, each the '_'-joined `rowsPerBand` signature run.
    */
  private def bandKeyArray(numHashes: Int, rowsPerBand: Int): Column = {
    val numBands = numHashes / rowsPerBand
    array((0 until numBands).map { b =>
      concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"sig_${b * rowsPerBand + r}")): _*)
    }: _*)
  }

  /** Publish-time Bloom artifact over a persisted signature index's LSH
    * band keys — the [[buildIndexBloom]] twin for the minhash probe
    * path. One scan of the index at index-publish time; the result is a
    * bounded `bloomM * 8`-byte model artifact stored next to the index
    * and broadcast into every future batch probe.
    */
  def buildMinhashBandBloom(corpusSigs: DataFrame, numHashes: Int = 12,
                            rowsPerBand: Int = 3, bloomK: Int = 5,
                            bloomM: Int = 1 << 16): Array[Long] =
    corpusSigs
      .select(explode(bandKeyArray(numHashes, rowsPerBand)).as("bk"))
      .agg(graft.functions.BloomBits
        .sketch(hash60(col("bk")), bloomK, bloomM).as("sk"))
      .head().getSeq[Long](0).toArray

  /** A published signature index: the signature frame plus the bounded
    * probe artifacts stored beside it.
    */
  final case class SignatureIndex(sigs: DataFrame, bloomBits: Array[Long],
      bloomK: Int, numHashes: Int, rowsPerBand: Int, shingleK: Int)

  /** Publish a minhash signature index as a directory layout:
    * `<path>/signatures` (parquet) plus the band-key Bloom and its
    * parameters in `<path>/_index_meta.json` — the production shape of
    * the incremental probe path, where the Bloom is built ONCE at
    * publish time (one scan of the just-written signatures) instead of
    * per batch. [[readSignatureIndex]] restores both;
    * [[minhashNearDupsAgainstIndex]] probes with them.
    */
  def writeSignatureIndex(corpusSigs: DataFrame, path: String,
                          numHashes: Int = 12, rowsPerBand: Int = 3,
                          bloomK: Int = 5, bloomM: Int = 1 << 16,
                          shingleK: Int = 3): Unit = {
    val spark = corpusSigs.sparkSession
    corpusSigs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/signatures")
    val bits = buildMinhashBandBloom(
      spark.read.parquet(s"$path/signatures"), numHashes, rowsPerBand,
      bloomK, bloomM)
    writeIndexMeta(spark, path, graft.sink.IndexLayout.metaJson(Seq(
      "num_hashes" -> numHashes, "rows_per_band" -> rowsPerBand,
      "shingle_k" -> shingleK, "bloom_k" -> bloomK,
      "bloom_m" -> bits.length, "bloom_bits" -> bitsToString(bits))))
  }

  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): SignatureIndex = {
    import org.json4s._
    val root = graft.sink.IndexLayout.readMeta(spark, path)
    // shingle_k added mid-r13; pre-existing sidecars carry the default
    val shingleK = (root \ "shingle_k") match {
      case JNothing => 3
      case _ => metaInt(root, "shingle_k")
    }
    val (bits, bloomK) = metaBloom(root)
    SignatureIndex(spark.read.parquet(s"$path/signatures"),
      bits, bloomK, metaInt(root, "num_hashes"),
      metaInt(root, "rows_per_band"), shingleK)
  }

  // ---- published-index sidecar plumbing (shared by the minhash,
  // Jaccard and embedding index layouts): `_index_meta.json` carries
  // every parameter the probe must not re-derive, plus the Bloom bits
  // as a compact 0/1 string ----------------------------------------

  private[graft] def writeIndexMeta(spark: org.apache.spark.sql.SparkSession,
                             path: String, json: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(path, "_index_meta.json"), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def bitsToString(bits: Array[Long]): String =
    bits.map(b => if (b != 0L) '1' else '0').mkString

  private[graft] def metaInt(root: org.json4s.JValue, name: String): Int = {
    import org.json4s._
    (root \ name) match {
      case JInt(n) => n.intValue
      case JLong(n) => n.toInt
      case o => throw new IllegalStateException(s"bad index meta $name: $o")
    }
  }

  /** [[metaInt]] for fields added after layouts were first published —
    * absent means "pre-upgrade layout", not corruption.
    */
  private[graft] def metaIntOpt(root: org.json4s.JValue,
                                name: String): Option[Int] = {
    import org.json4s._
    (root \ name) match {
      case JNothing => None
      case JInt(n) => Some(n.intValue)
      case JLong(n) => Some(n.toInt)
      case o => throw new IllegalStateException(s"bad index meta $name: $o")
    }
  }

  private[graft] def metaStr(root: org.json4s.JValue, name: String)
      : String = {
    import org.json4s._
    (root \ name) match {
      case JString(s) => s
      case o => throw new IllegalStateException(s"bad index meta $name: $o")
    }
  }

  /** [[metaStr]] for post-publication fields — absent means "layout
    * predates the field", not corruption.
    */
  private[graft] def metaStrOpt(root: org.json4s.JValue,
                                name: String): Option[String] = {
    import org.json4s._
    (root \ name) match {
      case JNothing => None
      case JString(s) => Some(s)
      case o => throw new IllegalStateException(s"bad index meta $name: $o")
    }
  }

  /** [[metaDouble]] for post-publication fields. */
  private[graft] def metaDoubleOpt(root: org.json4s.JValue,
                                   name: String): Option[Double] = {
    import org.json4s._
    (root \ name) match {
      case JNothing => None
      case JDouble(d) => Some(d)
      case JInt(n) => Some(n.doubleValue)
      case JLong(n) => Some(n.toDouble)
      case o => throw new IllegalStateException(s"bad index meta $name: $o")
    }
  }

  private[graft] def metaLong(root: org.json4s.JValue, name: String): Long = {
    import org.json4s._
    (root \ name) match {
      case JInt(n) => n.longValue
      case JLong(n) => n
      case o => throw new IllegalStateException(s"bad index meta $name: $o")
    }
  }

  /** [[metaLong]] for post-publication fields. */
  private[graft] def metaLongOpt(root: org.json4s.JValue,
                                 name: String): Option[Long] = {
    import org.json4s._
    (root \ name) match {
      case JNothing => None
      case JInt(n) => Some(n.longValue)
      case JLong(n) => Some(n)
      case o => throw new IllegalStateException(s"bad index meta $name: $o")
    }
  }

  /** A table schema recorded in the meta (DDL string), if present —
    * absent on pre-r16 layouts, where readers fall back to footer
    * inference.
    */
  private[graft] def metaSchemaOpt(root: org.json4s.JValue, name: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.json4s._
    (root \ name) match {
      case JString(ddl) =>
        Some(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      case _ => None
    }
  }

  private[graft] def metaDouble(root: org.json4s.JValue, name: String): Double = {
    import org.json4s._
    (root \ name) match {
      case JDouble(x) => x
      case JDecimal(x) => x.toDouble
      case JInt(n) => n.toDouble
      case o => throw new IllegalStateException(s"bad index meta $name: $o")
    }
  }

  /** `(bloomBits, bloomK)` from a meta sidecar, validating the
    * recorded length.
    */
  private[graft] def metaBloom(root: org.json4s.JValue): (Array[Long], Int) = {
    import org.json4s._
    val bitsStr = (root \ "bloom_bits") match {
      case JString(s) => s
      case o => throw new IllegalStateException(s"bad bloom_bits: $o")
    }
    require(bitsStr.length == metaInt(root, "bloom_m"),
      "bloom_bits length disagrees with bloom_m")
    (bitsStr.map(c => if (c == '1') 1L else 0L).toArray,
      metaInt(root, "bloom_k"))
  }

  /** Probe a published [[SignatureIndex]] — ALL parameters (banding AND
    * the shingle size the signatures were minhashed over) travel with
    * the index, so a probe cannot silently shingle or band differently
    * than the index was built.
    */
  def minhashNearDupsAgainstIndex(newDocs: DataFrame, idx: SignatureIndex,
                                  idCol: String, textCol: String,
                                  threshold: Double = 0.5,
                                  maxBucket: Int = Int.MaxValue): DataFrame =
    minhashNearDupsAgainstBloomed(newDocs, idx.sigs, idCol, textCol,
      idx.bloomBits, idx.bloomK, idx.shingleK, idx.numHashes,
      idx.rowsPerBand, threshold, maxBucket)

  /** [[minhashNearDupsAgainst]] with a Bloom short-circuit — the
    * [[exactAgainstBloomed]] twin for the LSH probe: batch band keys
    * that are definitely not in the index (no false negatives) are
    * dropped BEFORE the broadcast build, so a novel-heavy ingest batch
    * broadcasts only its false-positive band — often near-empty —
    * instead of every band key of every batch document. Output is
    * row-identical to [[minhashNearDupsAgainst]] (the dropped keys
    * could only have produced empty join matches; spec-asserted
    * parity).
    */
  def minhashNearDupsAgainstBloomed(newDocs: DataFrame,
                                    corpusSigs: DataFrame,
                                    idCol: String, textCol: String,
                                    bloomBits: Array[Long], bloomK: Int,
                                    k: Int = 3, numHashes: Int = 12,
                                    rowsPerBand: Int = 3,
                                    threshold: Double = 0.5,
                                    maxBucket: Int = Int.MaxValue): DataFrame =
    minhashAgainstImpl(newDocs, corpusSigs, idCol, textCol, k, numHashes,
      rowsPerBand, threshold, bloom = Some((bloomBits, bloomK)),
      "minhashNearDupsAgainstBloomed", maxBucket)

  /** Publish the PROBE-OPTIMIZED banded-postings layout: one posting
    * row per (band, bucket) membership — `(bh, band_no, bk, corpus_id,
    * sig_corpus)`, range-sorted by `bh` (the hash of the band key)
    * into `shards` manifest-indexed files
    * ([[graft.sink.Sinks.writeRangeSorted]]). A probe computes its
    * batch's `bh` points and opens ONLY the shards whose manifest
    * range contains one ([[graft.sink.Sinks.rangePointFiles]]) — the
    * answer to the linear index scan every flat-layout probe pays
    * (measured: the signature-index maintainer's per-epoch probe cost
    * grows with indexed docs, docs/SEARCH_SOAK.md). The trade is
    * storage: signatures are denormalized into each of their
    * `numBands` postings. Parameters travel in `_index_meta.json`.
    */
  def writeBandedSignatureIndex(corpusSigs: DataFrame, idCol: String,
                                path: String, numHashes: Int = 12,
                                rowsPerBand: Int = 3, shards: Int = 64,
                                shingleK: Int = 3): Unit = {
    val spark = corpusSigs.sparkSession
    val postings =
      bandedPostingsOf(corpusSigs, idCol, numHashes, rowsPerBand)
    graft.sink.Sinks.writeRangeSorted(postings, s"$path/postings",
      "bh", shards)
    writeIndexMeta(spark, path, graft.sink.IndexLayout.metaJson(Seq(
      "num_hashes" -> numHashes, "rows_per_band" -> rowsPerBand,
      "shingle_k" -> shingleK, "shards" -> shards,
      "layout" -> "banded_postings")))
  }

  /** The posting rows of a signature frame — `(corpus_id, sig_corpus,
    * band_no, bk, bh)`, one per (band, bucket) membership — shared by
    * the batch publisher ([[writeBandedSignatureIndex]]) and the
    * streaming epoch appender
    * ([[graft.streaming.StreamingBandedSignatureIndex]]).
    */
  private[graft] def bandedPostingsOf(corpusSigs: DataFrame,
      idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val sigArr = array((0 until numHashes).map(i => col(s"sig_$i")): _*)
    corpusSigs.select(col(idCol).as("corpus_id"),
        sigArr.as("sig_corpus"),
        posexplode(bandKeyArray(numHashes, rowsPerBand))
          .as(Seq("band_no", "bk")))
      .withColumn("bh", hash60(concat_ws("_", col("band_no"), col("bk"))))
  }

  /** Probe a [[writeBandedSignatureIndex]] layout — output-identical to
    * [[minhashNearDupsAgainst]] over the same corpus, but the index
    * read is manifest-pruned to the shards containing the batch's band
    * keys instead of a full scan. The driver holds only the batch's
    * distinct `bh` points (bounded by |batch| × numBands — the same
    * boundedness class as broadcasting the batch itself), and that
    * boundedness is now ENFORCED: above `maxPoints` distinct keys the
    * probe falls back to the flat scan of the same postings files
    * (oracle-identical — pruning only skips files with no matching
    * key, and the flat join is the measured faster plan for large
    * batches anyway, docs/SEARCH_SOAK.md).
    */
  def minhashNearDupsAgainstBandedIndex(newDocs: DataFrame, path: String,
                                        idCol: String, textCol: String,
                                        threshold: Double = 0.5,
                                        maxPoints: Int =
                                          DefaultMaxProbePoints,
                                        maxEpochExclusive: Option[Long] =
                                          None)
      : DataFrame = {
    val spark = newDocs.sparkSession
    val root = graft.sink.IndexLayout.readMeta(spark, path)
    val nh = metaInt(root, "num_hashes")
    val rpb = metaInt(root, "rows_per_band")
    val kk = metaInt(root, "shingle_k")
    val sigArr = array((0 until nh).map(i => col(s"sig_$i")): _*)
    // persisted: the point collection and the probe join both consume
    // the banded batch, and re-deriving it re-shingles the batch
    val newBanded = minhashSignatures(newDocs, idCol, textCol, kk, nh)
      .select(col(idCol).as("new_id"), sigArr.as("sig_new"),
        posexplode(bandKeyArray(nh, rpb)).as(Seq("band_no", "bk")))
      .withColumn("bh", hash60(concat_ws("_", col("band_no"), col("bk"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posts = graft.sink.IndexLayout.readPostings(spark, path, root,
      collectPointsCapped(newBanded.select(col("bh")), maxPoints),
      maxEpochExclusive)
    val agree = aggregate(
      zip_with(col("sig_new"), col("sig_corpus"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    releaseAfter(warnIfIndexShuffles(posts
      .join(broadcast(newBanded), Seq("band_no", "bk"))
      .select(col("new_id"), col("corpus_id"),
        (agree.cast("double") / nh).as("sig_agreement"))
      // threshold before the cross-band dedup (r20): set-identical,
      // sub-threshold candidates skip the distinct's exchange
      .filter(col("sig_agreement") >= threshold)
      .distinct(),
      "minhashNearDupsAgainstBandedIndex"), newBanded)
  }

  private def minhashAgainstImpl(newDocs: DataFrame, corpusSigs: DataFrame,
                                 idCol: String, textCol: String,
                                 k: Int, numHashes: Int, rowsPerBand: Int,
                                 threshold: Double,
                                 bloom: Option[(Array[Long], Int)],
                                 op: String,
                                 maxBucket: Int = Int.MaxValue): DataFrame = {
    val newSigs = minhashSignatures(newDocs, idCol, textCol, k, numHashes)
    val sigArr = array((0 until numHashes).map(i => col(s"sig_$i")): _*)
    val bandKeys = bandKeyArray(numHashes, rowsPerBand)
    def banded(sigs: DataFrame, side: String): DataFrame =
      sigs.select(col(idCol).as(s"${side}_id"), sigArr.as(s"sig_$side"),
        posexplode(bandKeys).as(Seq("band_no", "bk")))
    val newBanded = bloom match {
      case Some((bits, bk)) =>
        banded(newSigs, "new").filter(graft.operators.Sketches
          .bloomMightContain(typedLit(bits.toIndexedSeq),
            hash60(col("bk")), bk, bits.length))
      case None => banded(newSigs, "new")
    }
    val agree = aggregate(
      zip_with(col("sig_new"), col("sig_corpus"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    // viral-bucket guard, probe flavor — same semantics and trade as
    // [[hammingNearDupsAgainst]]: an over-cap corpus band bucket answers
    // with its MIN-id hub only, bounding a mirror-farm cluster's
    // candidate fan-out at numBands rows per matching batch doc instead
    // of |bucket| * numBands. The hub pair's verification outcome is
    // exact; every (new_id, non-hub member) pair of an over-cap bucket
    // is intentionally DROPPED — representative output, not pair
    // parity, even for identical-signature clusters. Persisted when enabled
    // because the stats aggregate and the guarded join are two
    // references the planner will not reuse; Catalyst prunes sig_corpus
    // out of the stats scan. Default skips all of it.
    val guarded = maxBucket != Int.MaxValue
    val corpusBanded =
      if (guarded) banded(corpusSigs, "corpus")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else banded(corpusSigs, "corpus")
    val corpusSide =
      if (!guarded) corpusBanded
      else {
        val stats = corpusBanded.groupBy(col("band_no"), col("bk"))
          .agg(count(lit(1)).as("__n"), min(col("corpus_id")).as("__hub"))
        corpusBanded.join(stats, Seq("band_no", "bk"))
          .filter(col("__n") <= maxBucket ||
            col("corpus_id") === col("__hub"))
          .drop("__n", "__hub")
      }
    val out = warnIfIndexShuffles(corpusSide
      .join(broadcast(newBanded), Seq("band_no", "bk"))
      .select(col("new_id"), col("corpus_id"),
        (agree.cast("double") / numHashes).as("sig_agreement"))
      // threshold before the cross-band dedup (r20): set-identical,
      // sub-threshold candidates skip the distinct's exchange
      .filter(col("sig_agreement") >= threshold)
      .distinct(), op)
    if (guarded) releaseAfter(out, corpusBanded) else out
  }

  /** Connected components over a near-dup pair graph — the cluster
    * resolution step that turns pairwise candidates (from
    * [[minhashNearDups]], [[simhashNearDups]], [[ngramJaccardPairs]] or
    * [[embeddingNearDups]]) into `(id, component_id)` labels, where
    * `component_id` is the smallest id in the component. Downstream,
    * "keep one doc per duplicate cluster" is `id === component_id` (see
    * [[keepCanonical]]).
    *
    * Algorithm: hash-min label propagation with pointer jumping (the
    * two-phase trick from the large-star/small-star literature). Each
    * iteration (a) lowers every node's label to the min label among its
    * neighbors, then (b) replaces each label by its label's label
    * (path compression) — so label chains halve every round and
    * convergence is O(log(diameter)) iterations, not O(diameter).
    *
    * Scale shape: state is one `(id, comp)` row per distinct endpoint —
    * never the pair list squared; every iteration is two shuffles on id
    * (edge join + compression self-join) over that state, with
    * `localCheckpoint` truncating lineage so plan size stays constant
    * across iterations. Convergence is detected with a scalar aggregate
    * (labels only ever decrease, so `sum(comp)` strictly decreases until
    * the fixpoint) — no per-iteration driver-side data collection.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // symmetrize in ONE pass over pairs (explode of both orientations) —
    // a union of two selects would evaluate the pair-producing plan
    // (often a full LSH pipeline) twice
    val edges = pairs.select(explode(array(
        struct(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")),
        struct(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v"))))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // sum(comp) as the convergence fingerprint: exact (decimal, no
    // overflow at any corpus size) and monotone — strictly smaller every
    // iteration that changed at least one label. It rides the eager
    // localCheckpoint materialization as an Observation metric, so each
    // iteration costs ONE Spark action, not a checkpoint plus a
    // separate aggregate job.
    def checkpointWithFp(l: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation()
      val out = l.observe(obs,
        sum(col("comp").cast("decimal(38,0)")).as("fp"))
        .localCheckpoint(true)
      val fp = Option(obs.get("fp")) // null on an empty pair graph
        .map(_.asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO)
      (out, fp)
    }
    var (labels, fp) = checkpointWithFp(
      edges.groupBy(col("u").as("id"))
        .agg(min(col("v")).as("mv"))
        .select(col("id"), least(col("id"), col("mv")).as("comp")))
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // (a) min over neighbors' labels
      val viaEdges = edges
        .join(labels.select(col("id").as("v"), col("comp").as("vcomp")), "v")
        .groupBy(col("u").as("id")).agg(min(col("vcomp")).as("ncomp"))
      val lowered = labels.join(viaEdges, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // (b) pointer jumping: comp <- comp's comp (labels are always node
      // ids, so the lookup is a self-join on the label table)
      val (jumped, nfp) = checkpointWithFp(lowered
        .join(lowered.select(col("id").as("comp"), col("comp").as("pcomp")),
          Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("pcomp"), col("comp"))).as("comp")))
      converged = nfp.compareTo(fp) == 0
      fp = nfp
      labels = jumped
      it += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations")
    labels.select(col("id"), col("comp").as("component_id"))
  }

  /** Incremental component maintenance — the production shape for a
    * continuously-growing corpus: merge a batch of NEW near-dup pairs
    * (in-batch pairs plus batch-vs-corpus pairs from
    * [[minhashNearDupsAgainst]]) into an EXISTING `(id, component_id)`
    * label table, recomputing only the components the new edges touch.
    *
    * Provably equal to [[connectedComponents]] over the full pair set:
    * within an existing component, the stored `id -> component_id` edges
    * preserve its connectivity exactly (every member connects to the
    * component min); a new edge can only merge touched components with
    * each other or with new nodes; and a component no new edge reaches
    * cannot change — so re-running CC over {new edges} ∪ {label edges of
    * touched components} and passing every untouched label through
    * unchanged reproduces the full rebuild bit-for-bit
    * (`dedup_incremental_components` hash-matches the full-rebuild
    * oracle; IncrementalComponentsSpec proves equivalence on adversarial
    * graphs).
    *
    * Scale shape: the daily batch touches a vanishing fraction of a
    * 10B-doc component table. Membership of touched components is pulled
    * with one semi-join on `component_id`, the CC loop runs over that
    * small subgraph only, and the untouched majority flows through a
    * single anti-join — the full label table is scanned twice and never
    * enters the iterative loop.
    */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame,
                      aCol: String, bCol: String,
                      maxIter: Int = 25): DataFrame = {
    val touchedIds = newPairs.select(explode(array(
        col(aCol).cast("long"), col(bCol).cast("long"))).as("id"))
      .distinct()
    val touchedComps = labels.join(touchedIds, Seq("id"), "left_semi")
      .select(col("component_id")).distinct()
    val touched = labels.join(touchedComps, Seq("component_id"), "left_semi")
    // label edges (id -> component_id) carry the touched components'
    // connectivity into the subgraph CC alongside the new edges
    val subEdges = newPairs
      .select(col(aCol).cast("long").as("id_a"),
        col(bCol).cast("long").as("id_b"))
      .union(touched.select(col("id").cast("long").as("id_a"),
        col("component_id").cast("long").as("id_b")))
    val recomputed = connectedComponents(subEdges, "id_a", "id_b", maxIter)
    labels.join(touchedComps, Seq("component_id"), "left_anti")
      .select(col("id"), col("component_id"))
      .union(recomputed)
  }

  /** Keep-list after cluster resolution: drops every document whose id is
    * a non-canonical member of a near-dup component (canonical = the
    * component min, the id [[connectedComponents]] labels with itself).
    * Docs that appear in no pair are kept untouched.
    *
    * No broadcast hint on purpose: the drop list is the duplicate
    * fraction of the corpus — tiny at test scale, but a web-scale crawl
    * dedups 30-50% of billions of docs, and a forced broadcast of
    * billions of ids kills the driver. AQE sees the actual runtime size
    * and picks broadcast exactly when the list fits (it does at every
    * scale we bench), shuffle anti-join when it doesn't.
    */
  def keepCanonical(docs: DataFrame, idCol: String,
                    labels: DataFrame): DataFrame = {
    val drop = labels.filter(col("id") =!= col("component_id"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Priority-aware canonical keep: within each near-dup component keep
    * the member with the HIGHEST `priority` (ties to the smallest id),
    * instead of [[keepCanonical]]'s blind component-min — the "prefer
    * the wiki copy over the crawl mirror" rule every curated corpus
    * wants. `priority` is evaluated against the doc row (any integer
    * expression over its columns). Docs in no component keep themselves.
    *
    * Scale shape: the labels frame (pair endpoints only — the duplicate
    * fraction, not the corpus) joins the docs once to evaluate
    * priorities, a `max_by` hash aggregate picks one winner per
    * component (map-side partial), and the loser ids anti-join the
    * corpus — the same AQE-sized anti-join as [[keepCanonical]].
    */
  def keepCanonicalBy(docs: DataFrame, idCol: String,
                      labels: DataFrame, priority: Column): DataFrame = {
    val members = docs.join(
      labels.withColumnRenamed("id", idCol), Seq(idCol))
    val winners = members
      .groupBy(col("component_id"))
      .agg(max_by(col(idCol),
        struct(priority.as("p"), (-col(idCol)).as("tb"))).as("keep_id"))
    val losers = labels.select(col("id").as(idCol))
      .join(winners.select(col("keep_id").as(idCol)), Seq(idCol),
        "left_anti")
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-document duplicated-chunk statistics — paragraph-granularity
    * exact dedup (the CCNet/Gopher-style passage filter): the text is
    * cut into non-overlapping `w`-word chunks, a chunk instance counts
    * as duplicated when its exact text occurs more than once in the
    * corpus (in another document, or repeated within the same one), and
    * each document reports `(total_chunks, dup_chunks, dup_frac)` — the
    * cut/filter signal for boilerplate-heavy documents.
    *
    * Scale shape: chunks ride the shuffle as 60-bit hashes, not strings;
    * the occurrence count is a window over the hash partitioning (ONE
    * exchange for the corpus-sized side, no join back), then the per-doc
    * rollup partial-aggregates map-side. Two exchanges total.
    */
  def chunkDupStats(docs: DataFrame, idCol: String, textCol: String,
                    w: Int = 8): DataFrame = {
    import graft.functions.StableHash
    val chunks = graft.functions.TextShingles.wordChunks(col(textCol), w)
    val inst = docs.select(col(idCol).as("id"),
      explode(chunks).as("chunk"))
      .select(col("id"), StableHash.hash60(col("chunk")).as("h"))
    val perH = Window.partitionBy(col("h"))
    inst.withColumn("n_occ", count(lit(1)).over(perH))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("total_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("dup_chunks"))
      .withColumn("dup_frac",
        col("dup_chunks").cast("double") / col("total_chunks"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (cluster-then-compare
    * over embeddings, after Abbas et al. 2023): documents are first
    * assigned to clusters ([[graft.operators.Similarity.ivfAssign]] with
    * trained or seeded centroids), and exact pairwise cosine runs only
    * WITHIN a cluster. Emits `(id_a, id_b)` with `id_a < id_b` where
    * intra-cluster cosine >= `threshold`.
    *
    * Complements [[embeddingNearDups]]: the hyperplane-LSH variant bounds
    * bucket population by the random planes (recall depends on band
    * geometry), while this one inherits the semantic structure of the
    * centroids — near-dups that straddle an LSH band boundary still meet
    * inside their cluster.
    *
    * Scale shape: ONE shuffle keyed on the cluster id; compare cost is
    * quadratic only within a cluster, so k (the centroid count) is the
    * knob — SemDeDup practice is k proportional to corpus size
    * (~sqrt(n) keeps expected cluster population flat as data grows).
    * A skewed giant cluster is a straggler: cap it upstream by raising k
    * or re-clustering the heavy cluster, not by salting (correctness
    * needs all members of a cluster co-located).
    */
  def semanticNearDups(assigned: DataFrame, idCol: String, vecCol: String,
                       clusterCol: String, threshold: Double): DataFrame = {
    import graft.functions.VectorOps
    // materialize the cluster assignment ONCE: both sides of the
    // intra-cluster self-join consume it, and without a persist the
    // (expensive) upstream — typically a centroid argmax over the whole
    // corpus — would execute twice. At 100 TB the assignment IS the IVF
    // index and lives as a table partitioned by cluster; MEMORY_AND_DISK
    // is the local stand-in for that materialization.
    val base = assigned.select(col(clusterCol).as("__c"),
        col(idCol).as("__id"), col(vecCol).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = base.as("a").join(base.as("b"),
        col("a.__c") === col("b.__c") && col("a.__id") < col("b.__id"))
      .filter(VectorOps.cosineF(col("a.__v"), col("b.__v")) >= threshold)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    releaseAfter(pairs, base)
  }

  /** Incremental [[semanticNearDups]] — the `...Against` member for the
    * CLUSTER index: a batch already assigned into the same cluster
    * space as a stored corpus assignment (e.g.
    * [[Similarity.assignToHierarchy]] against a
    * [[Similarity.buildHierarchyIndex]]) is verified by exact cosine
    * against ITS CLUSTER's corpus members only. Emits
    * `(new_id, corpus_id)`, cosine ≥ `threshold`.
    *
    * Scale shape: one join keyed on the cluster id. With bounded
    * cluster population (the hierarchy's sqrt sizing holds it at
    * ~target), a B-row batch costs B × target exact cosines no matter
    * how large the corpus is — and when the stored assignment is
    * partitioned by cluster ([[Similarity.writeIvfIndex]] layout), the
    * probe reads only the clusters the batch landed in.
    */
  def semanticNearDupsAgainst(batchAssigned: DataFrame,
                              corpusAssigned: DataFrame,
                              idCol: String, vecCol: String,
                              clusterCol: String,
                              threshold: Double): DataFrame = {
    import graft.functions.VectorOps
    val nv = batchAssigned.select(col(clusterCol).as("__c"),
      col(idCol).as("new_id"), col(vecCol).as("__nv"))
    val cv = corpusAssigned.select(col(clusterCol).as("__c"),
      col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    cv.join(nv, Seq("__c"))
      .filter(VectorOps.cosineF(col("__nv"), col("__cv")) >= threshold)
      .select(col("new_id"), col("corpus_id"))
  }

  /** Intra-document repeated-chunk removal — the WITHIN-doc counterpart
    * of [[chunkDupStats]]: the (lowercased, whitespace-normalized) text is
    * cut into non-overlapping `w`-word chunks and every repeat of a chunk
    * already seen earlier in the SAME document is dropped, keeping first
    * occurrences in order. Emits
    * `(id, clean_text, total_chunks, kept_chunks)`.
    *
    * Scale shape: the whole transform is per-document array logic — a
    * single codegen'd projection with NO shuffle and no per-doc state
    * beyond the chunk array (documents have tens-to-hundreds of chunks,
    * so the first-occurrence scan's O(chunks^2) is noise next to the
    * string work). This is the repetition-removal preprocessing step
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" §4 applies it across docs; within-doc repeats are
    * the boilerplate/navigation case).
    */
  def dropRepeatedChunks(docs: DataFrame, idCol: String, textCol: String,
                         w: Int = 8): DataFrame = {
    require(w >= 1, s"chunk width ($w) must be >= 1")
    val chunks = graft.functions.TextShingles.wordChunks(col(textCol), w)
    // first-occurrence filter: array_position returns the FIRST 1-based
    // index of the value, so a chunk survives iff it sits at its own
    // first occurrence
    docs.select(col(idCol).as("id"), chunks.as("__ch"))
      .select(col("id"),
        filter(col("__ch"), (c, i) =>
          array_position(col("__ch"), c) === (i + 1).cast("long"))
          .as("__kept"),
        size(col("__ch")).as("total_chunks"))
      .select(col("id"),
        array_join(col("__kept"), " ").as("clean_text"),
        col("total_chunks"),
        size(col("__kept")).as("kept_chunks"))
  }

  /** Exact duplicated-run removal — the distributed analogue of
    * suffix-array ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): any `w`-word span of
    * text that occurs more than once ANYWHERE in the corpus (across docs
    * or within one) is removed from every occurrence except the globally
    * first (ordered by (doc, position)), and each document's survivors
    * are reassembled in order. Overlapping duplicated windows merge into
    * covered RUNS, so a long shared passage is excised wholesale from
    * every non-canonical copy while the first copy keeps it — keep-one
    * semantics, unlike [[removeBoilerplateChunks]]'s drop-everywhere
    * df-threshold filter (and unlike its non-overlapping chunk grid,
    * which misses duplicated spans that straddle chunk boundaries).
    *
    * Scale shape: a suffix array over 100 TB is not distributable;
    * overlapping `w`-word windows are — each window instance rides ONE
    * shuffle as a 60-bit hash with (doc, pos) provenance, the
    * occurrence count and first-occurrence rank come from the same
    * hash-partitioned exchange (two window functions, one partitioning),
    * and the per-doc rollup of covered starts is the second exchange.
    * Only the reassembly join moves text. Coverage expansion
    * (start -> [start, start+w-1]) happens per-doc in a projection over
    * the bounded starts array. Docs shorter than `w` words produce no
    * windows and pass through untouched.
    *
    * Emits `(id, clean_text, total_words, kept_words)`.
    */
  def removeDuplicateRuns(docs: DataFrame, idCol: String, textCol: String,
                          w: Int = 8): DataFrame = {
    require(w >= 2, s"window width ($w) must be >= 2")
    // persisted: base feeds both the window pass and the reassembly
    // join — without it the corpus text is re-scanned, re-split, and
    // every window re-hashed for the second consumer
    val base = runBase(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val win = runWindows(base, w)
    val perH = Window.partitionBy(col("h"))
    val firstH = perH.orderBy(col("id"), col("pos"))
    val dupStarts = win
      .withColumn("n_occ", count(lit(1)).over(perH))
      .withColumn("rn", row_number().over(firstH))
      .filter(col("n_occ") >= 2 && col("rn") > 1)
      .groupBy(col("id"))
      .agg(collect_list(col("pos")).as("__cps"))
    releaseAfter(exciseRuns(base, dupStarts, w), base)
  }

  /** `(id, __ws)` normalized word arrays — the shared input shape of the
    * duplicated-run family.
    */
  private def runBase(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol).as("id"),
      split(trim(lower(col(textCol))), "\\s+").as("__ws"))

  /** Overlapping `w`-word window hashes with position:
    * `(id, pos, h)`, one row per window instance.
    */
  private def runWindows(base: DataFrame, w: Int): DataFrame =
    base.select(col("id"),
      posexplode(when(size(col("__ws")) >= w,
        transform(sequence(lit(0), size(col("__ws")) - w),
          i => hash60(array_join(slice(col("__ws"), i + 1, lit(w)), " "))))
        .otherwise(array().cast("array<long>"))).as(Seq("pos", "h")))

  /** Reassembly: drop every word position covered by a start in
    * `coveredStarts` `(id, __cps: array<int>)` expanded to
    * `[start, start+w-1]`, rejoin the survivors in order.
    */
  private def exciseRuns(base: DataFrame, coveredStarts: DataFrame,
                         w: Int): DataFrame =
    base.join(coveredStarts, Seq("id"), "left")
      .withColumn("__cps",
        coalesce(col("__cps"), array().cast("array<int>")))
      .withColumn("__kept", filter(col("__ws"), (wd, i) =>
        !exists(col("__cps"), p => i >= p && i <= p + (w - 1))))
      .select(col("id"),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__ws")).as("total_words"),
        size(col("__kept")).as("kept_words"))

  /** Persistable run index for [[removeDuplicateRunsAgainst]]: the
    * DISTINCT `w`-word window hashes of the corpus. Store it bucketed on
    * `h` (MergeSink.publishBucketed) like the other incremental-dedup
    * indexes; at 100 TB it is append-maintained — new batches' window
    * hashes union in after screening.
    */
  def buildRunIndex(docs: DataFrame, idCol: String, textCol: String,
                    w: Int = 8): DataFrame = {
    require(w >= 2, s"window width ($w) must be >= 2")
    runWindows(runBase(docs, idCol, textCol), w).select(col("h")).distinct()
  }

  /** Incremental duplicated-run removal — the production shape: screen
    * an ingest batch against the EXISTING corpus's persisted window-hash
    * index ([[buildRunIndex]]) instead of re-running the corpus-wide
    * window pass. A batch span matching the index is excised (the corpus
    * already holds the canonical copy); spans duplicated WITHIN the
    * batch keep their batch-first occurrence, consistent with
    * [[removeDuplicateRuns]]'s global keep-first order where the corpus
    * is "earlier" than every batch row.
    *
    * Scale design: with `probeBroadcast` (the default) the batch's
    * distinct window hashes broadcast into the index scan, so the
    * corpus index is probed map-side and never shuffles
    * ([[warnIfIndexShuffles]] guards the contract). NOTE the broadcast
    * unit is one hash per batch WORD (not per doc, unlike
    * [[exactAgainst]]) — right for incremental batches up to ~10⁸
    * windows (~800 MB). Beyond that, set `probeBroadcast = false` and
    * bucket the index on `h`: the probe becomes a one-sided exchange of
    * the batch hashes into the index's bucketing, still never moving
    * the index. Everything else — marking, rollup, reassembly — is
    * batch-sized.
    */
  def removeDuplicateRunsAgainst(batch: DataFrame, runIndex: DataFrame,
                                 idCol: String, textCol: String,
                                 w: Int = 8,
                                 probeBroadcast: Boolean = true)
      : DataFrame = {
    require(w >= 2, s"window width ($w) must be >= 2")
    // persisted: base feeds the window pass and the reassembly join;
    // win feeds the marking pass and the index probe
    val base = runBase(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val win = runWindows(base, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perH = Window.partitionBy(col("h"))
    val firstH = perH.orderBy(col("id"), col("pos"))
    val marked = win
      .withColumn("n_occ", count(lit(1)).over(perH))
      .withColumn("rn", row_number().over(firstH))
    val probe = win.select(col("h")).distinct()
    val matches = runIndex.select(col("h"))
      .join(if (probeBroadcast) broadcast(probe) else probe, Seq("h"))
      .withColumn("__in_corpus", lit(1))
    val covered = marked.join(matches, Seq("h"), "left")
      .filter(col("__in_corpus").isNotNull ||
        (col("n_occ") >= 2 && col("rn") > 1))
      .groupBy(col("id"))
      .agg(collect_list(col("pos")).as("__cps"))
    // reassembly: covered is bounded by construction (one row per BATCH
    // doc), so it broadcasts like the probe hashes — the batch text
    // never shuffles for the left join. (The full-corpus variant
    // removeDuplicateRuns must NOT hint here: its covered side is
    // corpus-sized.)
    releaseAfterAll(warnIfIndexShuffles(
      exciseRuns(base, broadcast(covered), w),
      "removeDuplicateRunsAgainst"),
      win, base)
  }

  /** Cross-document boilerplate removal — the CCNet-style passage filter
    * as a TRANSFORM (where [[chunkDupStats]] only reports): chunks whose
    * exact text occurs in at least `minDf` documents across the corpus
    * (navigation, cookie banners, license headers) are cut from every
    * document, and the per-doc survivors are reassembled in order. Emits
    * `(id, clean_text, total_chunks, kept_chunks)`.
    *
    * Scale shape: chunk instances ride the shuffle as 60-bit hashes with
    * their (doc, pos) provenance; the document-frequency is a
    * count-distinct-docs window over the hash partitioning (ONE
    * corpus-sized exchange), and reassembly is the per-doc rollup
    * (second exchange) collecting the kept chunk STRINGS — the only
    * stage that moves text, and only the surviving fraction of it.
    */
  def removeBoilerplateChunks(docs: DataFrame, idCol: String,
                              textCol: String, w: Int = 8,
                              minDf: Int = 2): DataFrame = {
    require(w >= 1, s"chunk width ($w) must be >= 1")
    require(minDf >= 2, s"minDf ($minDf) must be >= 2")
    import graft.functions.StableHash
    val chunks = graft.functions.TextShingles.wordChunks(col(textCol), w)
    val inst = docs.select(col(idCol).as("id"),
        posexplode(chunks).as(Seq("pos", "chunk")))
      .select(col("id"), col("pos"), col("chunk"),
        StableHash.hash60(col("chunk")).as("h"))
    // document frequency, not occurrence count: a chunk repeated inside
    // ONE document is not boilerplate (that's dropRepeatedChunks' job).
    // COUNT(DISTINCT) isn't a window function and collect_set would
    // materialize a per-row doc set (unbounded for "click here"-grade
    // boilerplate); dense_rank over (h, id) + max over h gives the
    // distinct-doc count with ONE exchange and no set state
    val byH = Window.partitionBy(col("h")).orderBy(col("id"))
    val perH = Window.partitionBy(col("h"))
    inst
      .withColumn("df", max(dense_rank().over(byH)).over(perH))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("total_chunks"),
        count_if(col("df") < minDf).as("kept_chunks"),
        array_join(transform(
          array_sort(collect_list(when(col("df") < minDf,
            struct(col("pos"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("clean_text"))
      .select(col("id"), col("clean_text"),
        col("total_chunks").cast("int").as("total_chunks"),
        col("kept_chunks").cast("int").as("kept_chunks"))
  }

  /** Cross-group near-duplicate overlap matrix: given a near-dup pair set
    * (any of [[minhashNearDups]] / [[simhashNearDups]] /
    * [[semanticNearDups]] output) and the doc -> group mapping (source,
    * domain, crawl snapshot, ...), counts pairs per unordered group pair.
    * `(group_a, group_b, n_pairs)` with `group_a <= group_b`; the
    * diagonal is within-group duplication. This is the dataset-card
    * "which sources re-host each other" report that drives source
    * selection — pipelinewise's per-table sync status
    * (`/root/reference/pipelinewise/cli/pipelinewise.py` status) scaled
    * to corpus provenance.
    *
    * Scale shape: pairs are the (small) near-dup survivors; the mapping
    * side is corpus-sized but projected to two columns, and both label
    * joins shuffle on the id — the standard fact-to-dim shape. The final
    * rollup exchanges |group pairs| rows.
    */
  def overlapMatrix(pairs: DataFrame, docs: DataFrame, idCol: String,
                    groupCol: String, aCol: String = "id_a",
                    bCol: String = "id_b"): DataFrame = {
    val m = docs.select(col(idCol).as("__mid"), col(groupCol).as("__mg"))
    val withA = pairs.join(m, pairs(aCol) === m("__mid"))
      .select(pairs(bCol).as("__b"), col("__mg").as("__ga"))
    val withB = withA.join(m, withA("__b") === m("__mid"))
      .select(col("__ga"), col("__mg").as("__gb"))
    withB
      .select(least(col("__ga"), col("__gb")).as("group_a"),
        greatest(col("__ga"), col("__gb")).as("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}

/** Test-mode seam for the registry plan lint. [[Dedup.releaseAfterAll]]'s
  * eager `localCheckpoint` cuts the result's lineage, so the executed plan
  * any later lint inspects is a bare `Scan ExistingRDD` — the heavy
  * internal stages of checkpointed pipelines are invisible to it
  * (docs/PLANS_r13.md records four of the five heaviest registry queries
  * in exactly this state). The hook fires on the FULL pre-checkpoint
  * frame immediately before the cut. Production leaves the no-op
  * default (one volatile read per release); the test suite installs a
  * collector that runs `PlanLint.violations` on the frame, extending the
  * cartesian / global-window / artifact-shuffle-join bans into the
  * internal stages. The hook must never fail the operator — installers
  * are expected to RECORD, not throw; a defensive catch enforces it.
  */
private[graft] object PreCheckpointLint {
  @volatile private[graft] var installed: DataFrame => Unit = _ => ()
  // NonFatal only: swallowing OutOfMemoryError here would hide a dying
  // JVM, and InterruptedException must keep the thread's interrupt
  // status — restore it and let the enclosing operator see the flag
  private[graft] def hook(df: DataFrame): Unit =
    try installed(df) catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }
}
