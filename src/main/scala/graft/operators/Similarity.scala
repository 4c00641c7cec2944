package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{BoundedTopK, VectorOps}

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Scale design: brute force is the correctness baseline (queries x corpus
  * via broadcast of the small query set — no shuffle of the corpus at
  * all); the IVF variant clusters the corpus once (centroid assignment =
  * one scan), then probes only the closest partitions — the classic
  * inverted-file ANN layout, expressed as a pre-partitioned join so a
  * 1000-executor cluster touches ~nprobe/nlist of the data per query
  * batch.
  *
  * Top-k selection is two-phase everywhere: a `BoundedTopK` typed
  * aggregate runs as a map-side partial, so each scan task forwards at
  * most k candidates per query and the shuffle keyed on query_id carries
  * O(tasks x queries x k) tiny rows — never the scored corpus. (A
  * `Window.partitionBy(query_id)` + `row_number` formulation would pull
  * |corpus| rows into one reducer per query — the classic top-k straggler
  * at 100 TB.)
  */
object Similarity {

  /** (query_id, rank, neighbor_id) from pre-scored candidate rows.
    * Rank order: sim desc, neighbor_id asc — identical total order to a
    * `row_number` window, via the two-phase bounded aggregate.
    */
  private def topKRanked(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(BoundedTopK.topK(col("sim"), col("neighbor_id").cast("long"), k)
        .as("topk"))
      .select(col("query_id"),
        posexplode(col("topk")).as(Seq("pos", "neighbor_id")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("neighbor_id"))

  /** Public spelling of the two-phase bounded ranking: turn any scored
    * candidate frame `(query_id, neighbor_id, sim)` into the ranked
    * retrieval shape `(query_id, rank, neighbor_id)` every search
    * family here emits (sim desc, neighbor_id asc, top `k`) — without
    * the one-reducer-per-query window straggler. This is how a
    * NON-vector retrieval list (e.g. [[TextSearch.searchTopK]] output,
    * scored by exact integer tf·idf) joins the ranked-list vocabulary
    * that [[rrfFuse]] and [[recallAudit]] consume.
    */
  def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k ($k) must be > 0")
    topKRanked(scored, k)
  }

  /** Hard-negative mining — the contrastive-training data op: from a
    * ranked retrieval list `(query_id, rank, neighbor_id)` (e.g.
    * [[bruteForceTopK]] / [[ivfTopK]] output, retrieved DEEPER than k
    * so enough negatives survive the exclusion), drop the known
    * positives `(query_id, neighbor_id)` and re-rank what remains by
    * the original retrieval order, keeping the top `k` per query —
    * the nearest non-positives, which are exactly the "hard" negatives
    * a contrastive objective wants.
    *
    * Scale shape: both inputs are panel-sized by the ranked contract
    * (queries × depth rows), so the anti-join broadcasts the positive
    * set and the re-rank is a `query_id`-partitioned window over
    * bounded rows — the [[rrfFuse]] justification. The heavy work
    * stays in the upstream retrieval.
    */
  def hardNegatives(ranked: DataFrame, positives: DataFrame, k: Int)
      : DataFrame = {
    require(k > 0, s"k ($k) must be > 0")
    val pos = positives.select(col("query_id"),
      col("neighbor_id").cast("long").as("neighbor_id"))
    val remaining = ranked.select(col("query_id"),
        col("rank").cast("long").as("rank"),
        col("neighbor_id").cast("long").as("neighbor_id"))
      .join(broadcast(pos), Seq("query_id", "neighbor_id"), "left_anti")
    // re-rank by retrieval order through the two-phase bounded
    // aggregate, not a window: upstream ranks are unique per query, so
    // ordering by (-rank desc, neighbor_id asc) IS rank-ascending and
    // the output matches the row_number spelling exactly. Beyond the
    // usual no-straggler argument, the window shape is a LINT hazard
    // here: a constant query_id (the single-query retrieval recipes)
    // folds through the aggregate (FoldablePropagation) and strips the
    // partition spec, leaving a global single-partition WindowExec in
    // any lazy (un-checkpointed) plan — found by the sql_curate_tvf
    // plan lint.
    topKRanked(remaining.select(col("query_id"), col("neighbor_id"),
      (-col("rank")).cast("double").as("sim")), k)
  }

  /** Reciprocal-rank fusion (Cormack & Clarke's RRF, the standard
    * hybrid-retrieval combiner): fuse N ranked lists in the
    * `(query_id, rank, neighbor_id)` shape into one ranked list per
    * query, scoring each candidate `Σ_lists 1/(rrfK + rank)` — a doc
    * ranked by several retrievers beats a doc ranked by one, without
    * ever comparing the retrievers' incommensurable scores (exact
    * integer tf·idf vs float cosine). Emits
    * `(query_id, rank, neighbor_id, rrf)`, rrf desc / neighbor_id asc,
    * top `k`.
    *
    * Scale shape: every input list is (queries × k) rows by the ranked
    * contract, so the union + fusion rollup is panel-sized regardless
    * of corpus size — the heavy work stays inside the upstream
    * retrievers. BECAUSE the input is bounded by that contract, the
    * final ranking is a `query_id`-partitioned window over ≤ lists×k
    * rows per query — the one place in this file a window beats the
    * two-phase BoundedTopK shape: it keeps the fused frame single-
    * reference (BoundedTopK drops the score, and re-attaching it
    * needs a second reference = a persist + eager checkpoint, which
    * the 2M-doc serving soak measured as ~0.6 s of constant overhead
    * per fused query — pure scheduling, but the dominant fusion cost).
    * Determinism: with the typical two retrievers a candidate's rrf is
    * one addition of two doubles (commutative — bit-exact regardless
    * of task order); ties break neighbor_id-ascending.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k > 0 && rrfK > 0,
      s"k ($k) and rrfK ($rrfK) must be > 0")
    val u = lists.map(_.select(col("query_id"),
        col("neighbor_id").cast("long").as("neighbor_id"),
        col("rank").cast("long").as("rank")))
      .reduce(_.unionByName(_))
    val fused = u.groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(lit(1.0) / (lit(rrfK) + col("rank"))).as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("neighbor_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("rrf"))
  }

  /** Brute-force cosine top-k. `queries` is expected to be small (it is
    * broadcast); the corpus streams through the codegen'd dot product
    * without shuffling. Output: (query_id, rank, neighbor_id).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"))
    val sim = VectorOps.cosineF(col("q_vec"), col("c_vec"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), sim.as("sim"))
    topKRanked(scored, k)
  }

  /** ANN recall@k audit: per query, the fraction of the EXACT top-k an
    * approximate search recovered — the acceptance metric every ANN
    * deployment is tuned against (recall@k vs nprobe/band geometry).
    * Takes the two ranked result sets ((query_id, rank, neighbor_id),
    * the shape [[bruteForceTopK]] / [[ivfTopK]] emit), left-joins the
    * approximate hits onto the exact set, and counts. Completes the
    * audit family: [[graft.operators.Dedup.minhashPrecision]] audits the
    * LSH pipeline, [[knnLabelAgreement]] the label quality, this one the
    * index geometry. Emits `(query_id, n_exact, n_hit, recall)`.
    *
    * Scale shape: audits run over a SAMPLED query panel — both inputs
    * are (queries x k) rows, so the join is broadcast-sized regardless
    * of corpus size; the heavy work stays inside the upstream searches.
    */
  def recallAudit(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") /
        col("n_exact").cast("double"))

  /** IVF (inverted-file) ANN: assign every corpus vector to its nearest
    * of `centroids` (a small broadcast table), bucket the corpus by
    * centroid, and at query time search only the `nprobe` closest buckets.
    * This is the 100 TB path: the expensive exact search runs on
    * ~nprobe/nlist of the corpus, and the bucketed corpus can be written
    * out partitioned by `cluster` for reuse across query batches.
    *
    * The nearest-centroid argmax aggregates SLIM rows only: max_by with
    * a struct ordering cannot use a mutable hash buffer (Spark plans
    * SortAggregate), so the corpus×nlist pair stream gets SORTED inside
    * each map task before the partial agg — carrying the vector through
    * that sort multiplies the sorted bytes ~20x and spills at soak
    * scale (docs/SEARCH_SOAK.md: the 2M×256 assign). The agg therefore
    * sees only `(id, centroid_id, sim)`; vectors re-attach afterwards
    * with an id-equi join (co-partitioned/bucketed at scale, trivial
    * below it). Self-norms are hoisted OUT of the pair loop — each side
    * computes `dot(x,x)` once per row instead of once per pair; the
    * IEEE value and operation order of the final
    * `dot/(sqrt(na)*sqrt(nb))` are identical to cosineF's, so results
    * are bit-unchanged.
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String): DataFrame = {
    val c = broadcast(centroids.select(col("centroid_id"),
      col(vecCol).as("cent_vec"),
      VectorOps.dotF(col(vecCol), col(vecCol)).as("__cn")))
    val scored = corpus
      .select(col(idCol), col(vecCol),
        VectorOps.dotF(col(vecCol), col(vecCol)).as("__vn"))
      .join(c)
      .select(col(idCol), col("centroid_id"),
        (VectorOps.dotF(col(vecCol), col("cent_vec")) /
          (sqrt(col("__vn")) * sqrt(col("__cn")))).as("sim"))
    // max over (sim, -centroid_id) == (sim desc, centroid_id asc): a
    // strict total order, so max_by is deterministic
    val best = scored
      .groupBy(col(idCol))
      .agg(max_by(col("centroid_id"),
        struct(col("sim"), (-col("centroid_id")).as("tb"))).as("cluster"))
    corpus.join(best, Seq(idCol))
      .select(col(idCol), col(vecCol), col("cluster"))
  }

  def ivfTopK(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, nprobe: Int)
      : DataFrame = {
    // pick nprobe closest clusters per query
    val qc = broadcast(
      ivfProbe(queries, centroids, idCol, vecCol, nprobe))
    val cand = assigned.join(qc, Seq("cluster"))
      .filter(col("query_id") =!= col(idCol))
    val sim = VectorOps.cosineF(col("q_vec"), col(vecCol))
    val scored = cand.select(col("query_id"), col(idCol).as("neighbor_id"),
      sim.as("sim"))
    topKRanked(scored, k)
  }

  private def ivfProbe(queries: DataFrame, centroids: DataFrame,
                       idCol: String, vecCol: String, nprobe: Int)
      : DataFrame = {
    val c = broadcast(centroids.select(col("centroid_id"),
      col(vecCol).as("cent_vec")))
    val scored = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec")).join(c)
      .select(col("query_id"), col("q_vec"), col("centroid_id"),
        VectorOps.cosineF(col("q_vec"), col("cent_vec")).as("csim"))
    // queries are small by contract; a window here is bounded by
    // |queries| x nlist rows, not corpus-sized
    val w = Window.partitionBy(col("query_id")).orderBy(col("csim").desc,
      col("centroid_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_vec"),
        col("centroid_id").as("cluster"))
  }

  /** Persist a cluster assignment ([[ivfAssign]] output) as the on-disk
    * IVF index: a parquet layout partitioned by `cluster`, so a probe of
    * `nprobe` clusters reads ONLY those partitions (`PartitionFilters`
    * at the scan — asserted in OperatorsSpec). This is the piece that
    * makes IVF an index rather than a per-query computation at 100 TB:
    * assignment runs once per corpus build; every query batch afterwards
    * touches ~nprobe/nlist of the data straight off storage.
    */
  def writeIvfIndex(assigned: DataFrame, path: String,
                    shardsPerCluster: Int = 1): Unit = {
    require(shardsPerCluster > 0, "shardsPerCluster must be > 0")
    // co-locate each cluster before partitionBy — without this every
    // task writes a file into every cluster directory it saw
    // (tasks × clusters small files; the soak measured 8192 files for a
    // 256-cluster index — the same explosion MergeSink.flushPartitioned
    // guards against). shardsPerCluster > 1 splits big clusters into
    // deterministic id-hash shards for parallel reads at scale.
    val idC = col(assigned.columns.head)
    val sharded =
      if (shardsPerCluster == 1) assigned.repartition(col("cluster"))
      else assigned.repartition(col("cluster"),
        pmod(xxhash64(idC), lit(shardsPerCluster.toLong)))
    sharded.write.partitionBy("cluster")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : DataFrame = spark.read.parquet(path)

  /** kNN label-agreement audit — the classifier-free label-noise /
    * embedding-quality probe (confident-learning flavor): for each query
    * vector, how many of its k nearest neighbors carry the query's own
    * label. Low agreement flags mislabeled or out-of-distribution
    * examples before they poison a training mix. Emits
    * `(query_id, label, n_neighbors, n_same, agreement)` — integer
    * counts plus ONE final division, so the numbers are oracle-exact.
    *
    * Scale shape: the neighbor list is [[bruteForceTopK]]'s output
    * (O(queries x k) tiny rows) and is BROADCAST against the
    * corpus-sized label projection — the corpus never re-shuffles for
    * the audit; swap in [[ivfTopK]]'s candidates for the indexed path.
    */
  def knnLabelAgreement(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, labelCol: String,
                        k: Int): DataFrame = {
    val nn = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val labels = corpus.select(col(idCol), col(labelCol))
    broadcast(nn)
      .join(labels.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("__nl")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("label"))), Seq("query_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__nl") === col("label"), 1L).otherwise(0L))
          .as("n_same"))
      .withColumn("agreement",
        col("n_same").cast("double") / col("n_neighbors").cast("double"))
  }

  /** Incremental index maintenance: assign an append batch with the
    * EXISTING trained centroids and append it into the partitioned
    * layout — the ANN counterpart of the dedup family's `...Against`
    * operators. No retrain, no rewrite: dynamic-partition append touches
    * only the cluster directories the batch lands in, and subsequent
    * probes see the new vectors because membership is decided by the
    * same centroids queries probe with. Returns the assignment so the
    * caller can inspect / count what moved.
    *
    * Staleness is a measured quantity, not a guess: run
    * [[centroidDriftReport]] periodically; when drift crosses the
    * retrain threshold, rebuild with [[trainCentroids]] + a fresh
    * [[writeIvfIndex]].
    */
  def appendToIvfIndex(batch: DataFrame, centroids: DataFrame,
                       idCol: String, vecCol: String, path: String)
      : DataFrame = {
    val assigned = ivfAssign(batch, centroids, idCol, vecCol)
    assigned.write.partitionBy("cluster")
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
    assigned
  }

  /** Per-cluster centroid-drift report over a (possibly appended-to)
    * index: how far each cluster's CURRENT member mean has wandered from
    * its trained centroid — `drift = 1 - cosine(mean, centroid)` — plus
    * the member count. Rising drift (or lopsided counts) is the retrain
    * signal for an index maintained by [[appendToIvfIndex]].
    *
    * Scale shape: the mean is the same posexplode -> per-(cluster, dim)
    * map-side-partial average `trainCentroids` uses (shuffle volume =
    * clusters x dim tiny rows, never the corpus); centroids broadcast.
    */
  def centroidDriftReport(index: DataFrame, centroids: DataFrame,
                          vecCol: String): DataFrame = {
    val counts = index.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"))
    val means = index
      .select(col("cluster"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m"))))
        .as("dm"))
      .select(col("cluster"),
        expr("transform(dm, e -> CAST(e.m AS FLOAT))").as("mean_vec"))
    counts.join(means, Seq("cluster"))
      .join(broadcast(centroids.select(
        col("centroid_id").as("cluster"), col(vecCol).as("cent_vec"))),
        Seq("cluster"))
      .select(col("cluster"), col("n_vectors"),
        (lit(1.0) - VectorOps.cosineF(col("mean_vec"), col("cent_vec")))
          .as("drift"))
  }

  /** Deterministic centroid seed: take every n-th vector by id as a
    * centroid (k-means init stand-in; deterministic so tests and the
    * oracle agree).
    */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    every: Int): DataFrame =
    corpus.filter(col(idCol) % every === 0)
      .select((col(idCol) / every).cast("long").as("centroid_id"),
        col(vecCol))

  /** [[seedCentroids]] with a FIXED target count — the production
    * spelling at scale: the k SMALLEST stable-hash rows become the
    * centroids (the [[trainCentroids]] init shape), so nlist is
    * EXACTLY min(k, corpus size) regardless of how the corpus grows
    * or how its ids are distributed. The r16 spelling derived a
    * modulo stride from max(id)/k, which silently yielded far fewer
    * than k seeds on sparse id spaces (snowflake-style 64-bit ids
    * give ~0) — hash-rank selection is id-distribution-free. It is
    * also a pure LAZY plan: no driver aggregate at plan build (the
    * old max-id `.head()` ran a job during analysis), and the top-k
    * compiles to TakeOrderedAndProject — bounded per-partition heaps,
    * never a global sort, safe to point at the full corpus.
    * `centroid_id` is the seed row's own id (distinct, not dense —
    * the IVF path only needs distinct, deterministic ids).
    */
  def seedCentroidsK(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k > 0, s"k ($k) must be > 0")
    corpus.select(
        graft.functions.StableHash.hash60(col(idCol).cast("string"))
          .as("__h"),
        col(idCol).cast("long").as("centroid_id"), col(vecCol))
      .orderBy(col("__h").asc, col("centroid_id").asc)
      .limit(k)
      .drop("__h")
  }

  /** Two-level hierarchical cluster assignment — the SemDeDup spelling
    * whose every piece stays bounded as the corpus grows. SemDeDup
    * needs cluster POPULATION roughly constant (its verification is
    * exact pairwise within a cluster), which forces total cluster
    * count ∝ corpus size — and a flat spelling then either broadcasts
    * a corpus-proportional centroid set (the `every`-knob shape: n/every
    * centroids, n²/every assignment work — the scale-killer class the
    * factor-100 curve caught twice) or fixes nlist and lets clusters
    * grow (quadratic verification). The hierarchy splits the exponent:
    *
    *   level 1: [[seedCentroidsK]] picks k1 coarse centroids (k1 rows
    *     BROADCAST — grow k1 as sqrt(n/target) and the broadcast grows
    *     as sqrt(n): ~4.5k centroids / a few MB at 10^9 vectors);
    *     [[ivfAssign]] scans the corpus once against them.
    *   level 2: within each coarse cell, the k2 smallest-stable-hash
    *     members become sub-seeds (a cell-PARTITIONED rank — never a
    *     global collect), and each row argmaxes cosine over ITS CELL's
    *     sub-seeds only, via a join keyed on the cell id. When the
    *     k1×k2 sub-seed frame outgrows the broadcast threshold that
    *     join hash-partitions BOTH sides by cell — each reducer holds
    *     one cell's k2 seeds and streams that cell's rows, so nothing
    *     corpus-proportional is ever broadcast or collected.
    *
    * Total clusters k1·k2 (population n/(k1·k2)); per-row compare cost
    * k1 + k2 = O(sqrt(n)) instead of the flat n/every; cluster ids are
    * the sub-seed rows' own ids (globally distinct across cells).
    * Determinism: both levels tie-break (sim desc, seed id asc) and
    * both seed selections order by (stable hash asc, id asc) — same
    * input, same assignment, reproducible in the DuckDB oracle.
    *
    * Emits `(idCol, vecCol, cluster)` — the [[Dedup.semanticNearDups]]
    * input shape. The level-1 assignment is persisted for its three
    * consumers and released after the result materializes (at 100 TB
    * that intermediate is a table partitioned by cell).
    */
  def assignHierarchical(corpus: DataFrame, idCol: String, vecCol: String,
                         k1: Int, k2: Int): DataFrame =
    buildHierarchyIndex(corpus, idCol, vecCol, k1, k2).assigned

  /** The hierarchy's persisted artifacts — [[assignHierarchical]] as an
    * INDEX: level-1 centroids `(centroid_id, vecCol)` (k1 rows, always
    * broadcastable), per-cell sub-seeds `(cell, sub_id, vecCol, norm)`
    * (k1×k2 rows), and the corpus assignment `(idCol, vecCol, cluster)`.
    * In production these are three stored tables — the assignment
    * partitioned by cluster, the [[writeIvfIndex]] layout, so a probe
    * reads only the clusters it touches; locally each is eagerly
    * materialized so a probe never re-runs the build.
    */
  final case class HierarchyIndex(centroids: DataFrame,
                                  subSeeds: DataFrame,
                                  assigned: DataFrame,
                                  k1: Int, k2: Int)

  /** Build the two-level hierarchy and return every artifact a probe
    * needs — see [[assignHierarchical]] for the algorithm and scale
    * shape, [[assignToHierarchy]] for the probe.
    */
  def buildHierarchyIndex(corpus: DataFrame, idCol: String,
                          vecCol: String, k1: Int, k2: Int)
      : HierarchyIndex =
    buildHierarchyImpl(corpus, idCol, vecCol, k1, k2, streamed = false)

  /** The build body shared by the pinned (batch) and streamed (rebuild)
    * spellings. `streamed = false` is [[buildHierarchyIndex]]'s
    * contract: scratch pinned in the block manager, assignment eagerly
    * materialized so a probe never re-runs the build. `streamed = true`
    * is the corpus-scale spelling for a DISK-BACKED corpus (a published
    * index layout): nothing corpus-sized touches the block manager —
    * each of the build's passes re-scans the corpus parquet, and the
    * returned assignment is LAZY (the caller streams it straight into
    * its own layout write; consuming it twice would re-derive it, so
    * the caller reads its written copy back instead). Only the two
    * bounded seed frames (k1 rows; k1×k2 rows) are pinned in either
    * mode.
    */
  private def buildHierarchyImpl(corpus: DataFrame, idCol: String,
      vecCol: String, k1: Int, k2: Int, streamed: Boolean)
      : HierarchyIndex = {
    require(k1 > 0 && k2 > 0, s"k1 ($k1) and k2 ($k2) must be > 0")
    // k1 rows, eagerly pinned: the centroid frame is consumed by the
    // build's level-1 assignment AND by every later probe
    val cents = seedCentroidsK(corpus, idCol, vecCol, k1)
      .localCheckpoint(eager = true)
    val cells0 = ivfAssign(corpus, cents, idCol, vecCol)
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"),
        col("cluster").as("__cell"),
        graft.functions.StableHash.hash60(col(idCol).cast("string"))
          .as("__h"))
    val cells =
      if (streamed) cells0
      else cells0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-cell k2 smallest-hash sub-seeds: a window PARTITIONED by the
    // cell (bounded reducers = cells; a cell holds ~n/k1 rows — at the
    // sqrt sizing, ~sqrt(n·target) per reducer, one pass, rank only).
    // k1×k2 rows, eagerly pinned for the same two-consumers reason.
    val w = Window.partitionBy(col("__cell"))
      .orderBy(col("__h").asc, col("__id").asc)
    val seeds = cells.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k2)
      .select(col("__cell").as("cell"), col("__id").as("sub_id"),
        col("__v").as(vecCol),
        VectorOps.dotF(col("__v"), col("__v")).as("norm"))
      .localCheckpoint(eager = true)
    val out = cells
      .join(bestSubSeed(
          cells.select(col("__id"), col("__v"),
            col("__cell").as("cell")), seeds, vecCol),
        Seq("__id"))
      .select(col("__id").as(idCol), col("__v").as(vecCol), col("cluster"))
    if (streamed) HierarchyIndex(cents, seeds, out, k1, k2)
    else HierarchyIndex(cents, seeds, Dedup.releaseAfterAll(out, cells),
      k1, k2)
  }

  /** Publish a [[HierarchyIndex]] as an on-disk layout: `centroids/`
    * and `subseeds/` as plain parquet (k1 and ≤k1×k2 rows), the
    * assignment BUCKET-PARTITIONED under `assigned/`, plus
    * `_index_meta.json` recording the geometry and column names so a
    * reader needs no out-of-band knowledge.
    *
    * Layout (r19): the partition key is `bucket = cluster mod
    * assignedBuckets`, NOT the raw cluster id — the hierarchy mints
    * ~n/target clusters, so hive-partitioning by cluster writes a
    * directory count proportional to the corpus (~20M dirs at 10⁹
    * vectors; the r18 curve measured the publish ×9.9 at factor 100
    * on directory count alone). Buckets cap the directory count at
    * `assignedBuckets` while rows inside each bucket are SORTED BY
    * CLUSTER, so a probe still prunes: bucket ∈ (batch clusters mod
    * B) lands in `PartitionFilters`, and the residual `cluster IN
    * (...)` predicate is served by parquet row-group min/max stats on
    * the sorted column — two-level pruning with a bounded namespace.
    *
    * `assignedBuckets` is the namespace CAP, not the exact count: the
    * effective bucket count is `min(cap, ceil(k1·k2 / 16))`, i.e.
    * ~16 clusters (~16·target rows) per bucket until the cap rules.
    * Without the floor a small-corpus publish mints one near-empty
    * file per cluster and a probe whose batch touches most clusters
    * becomes FILE-OPEN-bound, not data-bound (measured at factor 100:
    * 2,400 tiny files cost the probe more than the rows they hold);
    * with it, files carry real data at every scale and the cap alone
    * decides the 10⁹-vector namespace (4096 dirs of multi-hundred-MB
    * files). `assignedBuckets <= 0` selects the legacy per-cluster
    * hive layout ([[writeIvfIndex]]); readers detect either from the
    * meta, so pre-r19 layouts stay readable.
    */
  def writeHierarchyIndex(index: HierarchyIndex, path: String,
                          idCol: String, vecCol: String,
                          assignedBuckets: Int = 4096): Unit = {
    val spark = index.centroids.sparkSession
    index.centroids.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/centroids")
    index.subSeeds.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/subseeds")
    val metaBase = Seq[(String, Any)](
      "k1" -> index.k1, "k2" -> index.k2,
      "id_col" -> idCol, "vec_col" -> vecCol,
      "layout" -> "hierarchy")
    if (assignedBuckets <= 0) {
      writeIvfIndex(index.assigned, s"$path/assigned")
      Dedup.writeIndexMeta(spark, path,
        graft.sink.IndexLayout.metaJson(metaBase))
    } else {
      val effBuckets = math.min(assignedBuckets,
        math.max(1, (index.k1.toLong * index.k2 + 15) / 16)).toInt
      // co-locate each bucket before partitionBy (the writeIvfIndex
      // small-files guard), then sort by (bucket, cluster): the
      // leading bucket key hands the dynamic-partition writer rows
      // already grouped by its partition column (no second, implicit
      // sort — and no unstable re-sort that would scramble the
      // cluster order), and the cluster key inside each bucket gives
      // the row groups the min/max ranges the probe's pushed cluster
      // filter prunes on
      index.assigned
        .withColumn("bucket",
          pmod(col("cluster"), lit(effBuckets.toLong)))
        .repartition(col("bucket"))
        .sortWithinPartitions(col("bucket"), col("cluster"))
        .write.partitionBy("bucket")
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/assigned")
      // the meta records the EFFECTIVE modulus — the probe's bucket
      // derivation must match the written layout, not the cap
      Dedup.writeIndexMeta(spark, path, graft.sink.IndexLayout.metaJson(
        metaBase :+ ("assigned_buckets" -> effBuckets)))
    }
  }

  /** Read a published hierarchy layout back as a [[HierarchyIndex]].
    * The assignment's `cluster` column is re-cast to long explicitly
    * (on the legacy layout it is a hive partition column and
    * partition-type inference must not leak into join keys), and
    * columns are re-projected to the written order — which also drops
    * the bucketed layout's `bucket` partition column.
    */
  def readHierarchyIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): HierarchyIndex = {
    val root = graft.sink.IndexLayout.readMeta(spark, path)
    val idCol = Dedup.metaStr(root, "id_col")
    val vecCol = Dedup.metaStr(root, "vec_col")
    val assigned = spark.read.parquet(s"$path/assigned")
      .select(col(idCol), col(vecCol),
        col("cluster").cast("long").as("cluster"))
    HierarchyIndex(spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/subseeds"), assigned,
      Dedup.metaInt(root, "k1"), Dedup.metaInt(root, "k2"))
  }

  /** Within-cell argmax shared by build and probe: rows `(__id, __v,
    * cell)` meet ONLY their own cell's sub-seeds (join keyed on the
    * cell id — co-partitioned at scale, never a corpus-proportional
    * broadcast); norms are computed once per side (the ivfAssign
    * spelling — IEEE-identical to cosineF); ties break
    * (sim desc, sub_id asc). Returns `(__id, cluster)`.
    */
  private def bestSubSeed(rows: DataFrame, seeds: DataFrame,
                          vecCol: String): DataFrame =
    rows
      .select(col("__id"), col("__v"), col("cell"),
        VectorOps.dotF(col("__v"), col("__v")).as("__vn"))
      .join(seeds.select(col("cell"), col("sub_id"),
        col(vecCol).as("__sv"), col("norm")), Seq("cell"))
      .select(col("__id"), col("sub_id"),
        (VectorOps.dotF(col("__v"), col("__sv")) /
          (sqrt(col("__vn")) * sqrt(col("norm")))).as("__sim"))
      .groupBy(col("__id"))
      .agg(max_by(col("sub_id"),
        struct(col("__sim"), (-col("sub_id")).as("tb"))).as("cluster"))

  /** [[Dedup.semanticNearDupsAgainst]] served from a PUBLISHED
    * hierarchy layout: centroids and sub-seeds read back from `path`,
    * the batch assigned against them, and the exact verification read
    * PRUNED to the batch's clusters — the distinct cluster ids
    * (bounded by |batch|, cap-enforced at `maxClusters`) become a
    * partition filter on the assignment (bucket-level on the r19
    * bucketed layout plus a row-group-stat cluster filter; raw
    * cluster partitions on legacy layouts), so the probe reads ONLY
    * the partitions it must verify against (`PartitionFilters` at the
    * scan — the inverted-file property, asserted in OperatorsSpec).
    * Past the cap it falls back to the full assignment scan — the
    * same flat-fallback trade every capped point list in the probe
    * family makes.
    */
  def semanticNearDupsAgainstIndex(batch: DataFrame, path: String,
                                   idCol: String, vecCol: String,
                                   threshold: Double,
                                   maxClusters: Int = 4096): DataFrame = {
    val spark = batch.sparkSession
    val index = readHierarchyIndex(spark, path)
    val root = graft.sink.IndexLayout.readMeta(spark, path)
    val (mid, mvec) =
      (Dedup.metaStr(root, "id_col"), Dedup.metaStr(root, "vec_col"))
    require(mid == idCol && mvec == vecCol,
      s"hierarchy index at $path was published with columns " +
        s"($mid, $mvec), probed with ($idCol, $vecCol)")
    // eagerly materialized by assignToHierarchy, so the cluster
    // collect below never re-runs the assignment
    val asg = assignToHierarchy(batch, index, idCol, vecCol)
    val picked = asg.select(col("cluster")).distinct()
      .limit(maxClusters + 1).collect().map(_.getLong(0))
    // prune on the RAW partition column (before the long cast) so the
    // filter lands in PartitionFilters, then normalize the key type.
    // Bucketed layout (r19): partition prune on bucket = cluster mod B
    // (bounded directory namespace), then the residual cluster IN list
    // is pushed to the parquet scan and served by row-group min/max on
    // the cluster-sorted files — same rows read as per-cluster hive
    // partitions, without the corpus-proportional directory count.
    val raw = spark.read.parquet(s"$path/assigned")
    val pruned =
      if (picked.length > maxClusters) raw
      else Dedup.metaIntOpt(root, "assigned_buckets") match {
        case Some(b) =>
          val buckets = picked.map(c => math.floorMod(c, b.toLong))
            .distinct.toIndexedSeq
          raw.filter(col("bucket").isin(buckets: _*) &&
            col("cluster").isin(picked.toIndexedSeq: _*))
        case None =>
          raw.filter(col("cluster").isin(picked.toIndexedSeq: _*))
      }
    val assigned = pruned.select(col(idCol), col(vecCol),
      col("cluster").cast("long").as("cluster"))
    Dedup.semanticNearDupsAgainst(asg, assigned, idCol, vecCol,
      "cluster", threshold)
  }

  /** Assign a NEW batch to an existing [[HierarchyIndex]] — the same
    * two argmax levels and tie orders as the build, against the
    * PERSISTED centroids and sub-seeds (a probe never re-derives
    * them). Emits `(idCol, vecCol, cluster)` — rows land in the
    * cluster whose members they must be verified against, which makes
    * the stored assignment an incremental-dedup index
    * ([[Dedup.semanticNearDupsAgainst]]).
    *
    * Scale shape: level 1 broadcasts the k1-row centroid frame;
    * level 2 joins the batch to the k1×k2-row seed frame by cell id.
    * Both seed frames are index artifacts independent of batch and
    * corpus size.
    */
  def assignToHierarchy(batch: DataFrame, index: HierarchyIndex,
                        idCol: String, vecCol: String): DataFrame =
    assignToSeeds(batch, index.centroids, index.subSeeds, idCol, vecCol)

  /** [[assignToHierarchy]] against BARE seed frames — the spelling a
    * consumer holding persisted `centroids/` and `subseeds/` tables
    * (e.g. the streaming maintainer, which has no corpus assignment in
    * hand when it assigns a new epoch) calls without constructing a
    * [[HierarchyIndex]] carrier. The result is eagerly materialized
    * (localCheckpoint) so callers can fan it into several consumers
    * without re-running the two argmax levels. Emits one row per
    * input row; [[assignToSeedsLazy]] is bit-identical ONLY for
    * unique batch ids (see its precondition note).
    */
  def assignToSeeds(batch: DataFrame, centroids: DataFrame,
                    subSeeds: DataFrame, idCol: String,
                    vecCol: String): DataFrame = {
    val l1 = ivfAssign(batch, centroids, idCol, vecCol)
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"),
        col("cluster").as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = l1
      .join(bestSubSeed(l1, subSeeds, vecCol), Seq("__id"))
      .select(col("__id").as(idCol), col("__v").as(vecCol), col("cluster"))
    Dedup.releaseAfterAll(out, l1)
  }

  /** [[assignToSeeds]] as a PURE LAZY single-pass plan — the SQL-TVF
    * expansion spelling (analysis time may run zero jobs, so no
    * persist/checkpoint): instead of joining the level-2 argmax back
    * to the batch for the vector, `any_value` carries it THROUGH the
    * aggregate (every row in an `__id` group holds the same batch
    * vector, so the choice is deterministic). Cluster choice is
    * bit-identical to [[assignToSeeds]]: same cosine spelling, same
    * (sim desc, sub_id asc) tie order.
    *
    * PRECONDITION: batch ids must be UNIQUE. This spelling groups by
    * `__id`, so a duplicated id collapses to ONE output row (with an
    * argmax over the union of both rows' seed sims) where the eager
    * [[assignToSeeds]] joins the argmax back and emits one row per
    * INPUT row — the bit-identical claim and DataFrame/TVF parity
    * hold only for unique ids. Enforcing it here would cost a job
    * (the TVF expansion must stay zero-jobs at analysis time), so the
    * contract lives with the caller: every probe surface feeds batch
    * frames keyed by their id column (`graft_semdedup_probe`'s usage
    * string states it).
    */
  private[graft] def assignToSeedsLazy(batch: DataFrame,
      centroids: DataFrame, subSeeds: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    ivfAssign(batch, centroids, idCol, vecCol)
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"),
        col("cluster").as("cell"),
        VectorOps.dotF(col(vecCol), col(vecCol)).as("__vn"))
      .join(subSeeds.select(col("cell"), col("sub_id"),
        col(vecCol).as("__sv"), col("norm")), Seq("cell"))
      .groupBy(col("__id"))
      .agg(any_value(col("__v")).as("__bv"),
        max_by(col("sub_id"),
          struct((VectorOps.dotF(col("__v"), col("__sv")) /
            (sqrt(col("__vn")) * sqrt(col("norm")))).as("__sim"),
            (-col("sub_id")).as("tb"))).as("cluster"))
      .select(col("__id").as(idCol), col("__bv").as(vecCol),
        col("cluster"))

  /** [[assignHierarchical]] with the sqrt sizing applied FOR the
    * caller: `k1 = k2 = ceil(sqrt(n / targetClusterSize))`, so expected
    * cluster population stays ~`targetClusterSize` at every corpus
    * size — the sizing that keeps SemDeDup's exact intra-cluster
    * verification linear in the corpus (n × target/2 pairs) while the
    * level-1 broadcast and per-row compare count grow only as sqrt(n).
    * The corpus count is one metadata-served job (parquet row-group
    * stats); at 100 TB you know n from the catalog anyway.
    */
  def assignHierarchicalAuto(corpus: DataFrame, idCol: String,
                             vecCol: String,
                             targetClusterSize: Int): DataFrame =
    buildHierarchyIndexAuto(corpus, idCol, vecCol,
      targetClusterSize).assigned

  /** [[buildHierarchyIndex]] with the sqrt sizing — see
    * [[assignHierarchicalAuto]].
    */
  def buildHierarchyIndexAuto(corpus: DataFrame, idCol: String,
                              vecCol: String,
                              targetClusterSize: Int): HierarchyIndex = {
    require(targetClusterSize > 0,
      s"targetClusterSize ($targetClusterSize) must be > 0")
    val n = corpus.count()
    val k = math.max(1, math.ceil(
      math.sqrt(n.toDouble / targetClusterSize)).toInt)
    buildHierarchyIndex(corpus, idCol, vecCol, k, k)
  }

  /** [[buildHierarchyIndexAuto]] for a DISK-BACKED corpus (a published
    * index layout's parquet): the block manager never holds anything
    * corpus-sized — each build pass re-scans the corpus files, and the
    * returned `assigned` is LAZY, meant to be written straight into the
    * caller's layout in one pass (read the written copy back for any
    * further consumer). The spelling the streaming maintainer's
    * drift-gated rebuild uses: at 10⁹ vectors the pinned spelling
    * would transiently duplicate a corpus that already sits compacted
    * on disk into executor block storage.
    */
  private[graft] def buildHierarchyIndexStreamed(corpus: DataFrame,
      idCol: String, vecCol: String,
      targetClusterSize: Int): HierarchyIndex = {
    require(targetClusterSize > 0,
      s"targetClusterSize ($targetClusterSize) must be > 0")
    val n = corpus.count()
    val k = math.max(1, math.ceil(
      math.sqrt(n.toDouble / targetClusterSize)).toInt)
    buildHierarchyImpl(corpus, idCol, vecCol, k, k, streamed = true)
  }

  /** Train IVF centroids with Lloyd's k-means on a (hash-sampled)
    * training set — the piece that turns ivfAssign/ivfTopK into a
    * self-contained index build.
    *
    * Scale shape: standard practice trains centroids on a bounded sample
    * (use [[Sampling.stratifiedSampleByHash]] or a hash threshold to cut
    * 100 TB down to ~10^5-10^6 vectors), then assigns the FULL corpus
    * once with the trained centroids (one scan, ivfAssign). Each Lloyd
    * iteration here is: broadcast-assign (no shuffle of the sample) →
    * posexplode to (cluster, dim, x) → per-dimension mean (map-side
    * partial) — shuffle volume is sample x dim tiny rows, never the
    * corpus. Every round's k-row centroid frame is eagerly
    * materialized, so round N's plan never re-executes rounds 1..N-1. Deterministic: hash-spread seeding, max_by tie-breaks,
    * exact decimal-mean aggregation (order-insensitive under any
    * partitioning) — same input, same centroids.
    *
    * Empty clusters keep their previous centroid (standard Lloyd's
    * fallback).
    */
  def trainCentroids(train: DataFrame, idCol: String, vecCol: String,
                     k: Int, iterations: Int): DataFrame = {
    require(k > 0 && iterations >= 0, "k and iterations must be positive")
    // hash-spread deterministic init: the k SMALLEST stable-hash rows,
    // taken with orderBy+limit (plans as distributed
    // TakeOrderedAndProject — safe to point at a full corpus), then
    // densely indexed 0..k-1 via BoundedRank over the k-row result. A
    // row_number() global window here would single-partition the ENTIRE
    // training frame to rank it.
    val sel = train
      .select(graft.functions.StableHash.hash60(col(idCol).cast("string"))
          .as("__h"),
        col(idCol).as("__id"), col(vecCol))
      .orderBy(col("__h").asc, col("__id").asc)
      .limit(k)
    // each Lloyd round MATERIALIZES its k-row centroid frame (eager
    // localCheckpoint — a bounded model artifact): the round's plan
    // references the previous round's centroids ~3x (assign broadcast,
    // empty-cluster anti-join, union), so a lazily-chained loop
    // re-executes every earlier round ~3^iters times — invisible at
    // sf0.1, a 17-minute hang at the 2M-vector soak (docs/SEARCH_SOAK.md)
    var centroids = BoundedRank.packedIndex(sel,
      Seq(col("__h"), col("__id")),
      Seq(vecCol -> col(vecCol)), "centroid_id")
      .localCheckpoint(true)
    (1 to iterations).foreach { _ =>
      val assigned = ivfAssign(train, centroids, idCol, vecCol)
      // per-dimension mean via exact decimal sums: a plain double avg()
      // folds partials in partition order, so the same data at a
      // different partition count can drift the centroid by an ulp and
      // flip a near-tie assignment next iteration. float->decimal(38,18)
      // is a per-row (order-free) rounding; the decimal sum is exact.
      val means = assigned
        .select(col("cluster"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg((sum(col("x").cast("decimal(38,18)")) / count(lit(1)))
          .as("m"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m"))))
          .as("dm"))
        .select(col("cluster").as("centroid_id"),
          expr("transform(dm, e -> CAST(e.m AS FLOAT))").as(vecCol))
      // empty clusters keep their previous centroid
      centroids = means.unionByName(
        centroids.join(means.select(col("centroid_id")),
          Seq("centroid_id"), "left_anti"))
        .localCheckpoint(true)
    }
    centroids
  }

  /** Cross-engine-provable Lloyd's k-means over cosine geometry — the
    * variant whose every number is EXACT integer arithmetic, so an
    * independent engine (the DuckDB oracle) reproduces it bit-for-bit:
    *
    *  - vectors quantize per-component to `round(x * quant)` as BIGINT
    *    (floor-spelled half-up, the [[VectorOps.quantizeInt8]] rule);
    *  - a centroid is the component-wise integer SUM over its members
    *    (never divided: cosine is scale-invariant, so the sum vector
    *    ranks identically to the mean — no rounding rule to disagree
    *    on);
    *  - assignment compares `cosineD` of exact-integer-valued doubles
    *    (bigint->double casts are exact below 2^53; the sequential
    *    double dot is the same IEEE order as `list_dot_product`), ties
    *    broken by centroid_id asc.
    *
    * Scale shape (better than [[trainCentroids]]' broadcast-join
    * assign): centroids live as k x dim LITERALS (a bounded driver
    * artifact, like the PQ codebook), so assignment is a zero-shuffle
    * codegen scan — per row, an `array_max` over k struct(sim, -cid)
    * entries. The only exchange per iteration carries the map-side
    * partial (cluster, dim) sums: tasks x k x dim tiny rows. Lineage is
    * cut per iteration by driver-collecting the k x (dim+1) longs —
    * never the corpus.
    *
    * Seeding is FIXED-k (the [[seedCentroidsK]] rule): the k corpus
    * rows with the smallest `hash60(id)` (ties by id asc) become the
    * seeds, `centroid_id` = the seed row's own id. The selection plans
    * as a distributed TakeOrderedAndProject (bounded per-partition
    * heaps) and the driver collect is exactly min(k, corpus) rows — a
    * bounded model artifact at ANY corpus size. (The pre-r18 spelling
    * seeded every n-th id: the seed collect was corpus/n rows of
    * driver memory and k GREW with the corpus — ×15.2 train cost at
    * 30× data on the factor curve — so it was removed, not demoted.)
    *
    * Returns `(centroid_id, n_members, cent_sum array<bigint>)` for the
    * final iteration; empty clusters drop (their seed attracted no
    * vectors under the sum-centroids of the previous round).
    */
  def kmeansTrainExact(corpus: DataFrame, idCol: String, vecCol: String,
                       k: Int = 16, iters: Int = 2,
                       quant: Double = 1e6): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = kmeansLoopExact(corpus, idCol, vecCol, k, iters, quant)
    cents.toSeq.sortBy(_._1)
      .toDF("centroid_id", "n_members", "cent_sum")
  }

  /** Final-iteration assignment of the [[kmeansTrainExact]] loop:
    * `(idCol, cluster)` for every corpus vector, by the same exact
    * integer rules. A separate entry point (rather than a flag) so both
    * shapes stay single-purpose registry queries.
    */
  def kmeansAssignExact(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int = 16, iters: Int = 2,
                        quant: Double = 1e6): DataFrame = {
    val cents = kmeansLoopExact(corpus, idCol, vecCol, k, iters, quant)
    assignToLiterals(quantizeLong(corpus, idCol, vecCol, quant),
      cents.map { case (cid, _, s) => (cid, s.map(_.toDouble)) })
      .select(col("__id").as(idCol), col("cluster"))
  }

  private[graft] def quantizeLong(corpus: DataFrame, idCol: String,
                           vecCol: String, quant: Double): DataFrame =
    corpus.select(col(idCol).cast("long").as("__id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * lit(quant) + lit(0.5)).cast("long"))
        .as("__qv"))

  /** Zero-shuffle nearest-centroid: per row, `array_max` over literal
    * struct(sim, -cid) — max sim, ties to the smallest centroid_id.
    */
  private[graft] def assignToLiterals(q: DataFrame,
                               cents: Seq[(Long, Array[Double])])
      : DataFrame =
    assignScoredToLiterals(q, cents).drop("__sim")

  /** [[assignToLiterals]] keeping the winning cosine as `__sim` — the
    * diagnostics consumers (outliers, cohesion) need the value, not
    * just the argmax.
    */
  private[graft] def assignScoredToLiterals(q: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame = {
    val qd = transform(col("__qv"), x => x.cast("double"))
    val scored = array(cents.sortBy(_._1).map { case (cid, v) =>
      struct(
        VectorOps.cosineD(qd, typedLit(v.toSeq)).as("sim"),
        lit(-cid).as("tb"))
    }: _*)
    q.withColumn("__best", array_max(scored))
      .withColumn("cluster", (-col("__best").getField("tb")).cast("long"))
      .withColumn("__sim", col("__best").getField("sim"))
      .drop("__best")
  }

  /** Per-vector clustering diagnostics over the [[kmeansTrainExact]]
    * model: `(idCol, cluster, sim_q)` where `sim_q` is the winning
    * cosine in fixed point (`floor(sim * 1e9 + 0.5)` — exact, so
    * per-cluster rollups of it are order-insensitive integers and the
    * oracle agrees bit-for-bit). Low `sim_q` = the vector sits far from
    * EVERY centroid: the outlier / dirty-embedding signal SemDeDup and
    * the IVF index both want screened out before it poisons a cluster.
    * Same zero-shuffle literal-assignment scan as training.
    */
  def kmeansDiagnostics(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int = 16, iters: Int = 2,
                        quant: Double = 1e6): DataFrame = {
    val cents = kmeansLoopExact(corpus, idCol, vecCol, k, iters, quant)
    assignScoredToLiterals(quantizeLong(corpus, idCol, vecCol, quant),
      cents.map { case (cid, _, s) => (cid, s.map(_.toDouble)) })
      .select(col("__id").as(idCol), col("cluster"),
        floor(col("__sim") * lit(1e9) + lit(0.5)).cast("long").as("sim_q"))
  }

  private def kmeansLoopExact(corpus: DataFrame, idCol: String,
                              vecCol: String, k: Int, iters: Int,
                              quant: Double)
      : Seq[(Long, Long, Array[Long])] = {
    require(k > 0 && iters >= 1, "k and iters must be positive")
    val q = quantizeLong(corpus, idCol, vecCol, quant)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seeds: the k smallest-stable-hash rows (ties by id asc), cid =
    // the seed row's own id — the seedCentroidsK rule. orderBy+limit
    // plans as TakeOrderedAndProject (bounded per-partition heaps,
    // never a global sort) and the collect is min(k, corpus) rows —
    // bounded driver memory regardless of corpus size or id layout.
    var cents: Seq[(Long, Long, Array[Long])] = q
      .select(graft.functions.StableHash.hash60(col("__id").cast("string"))
          .as("__h"),
        col("__id").as("cid"), col("__qv"))
      .orderBy(col("__h").asc, col("cid").asc)
      .limit(k)
      .drop("__h")
      .collect()
      .map(r => (r.getLong(0), 1L, r.getSeq[Long](1).toArray))
      .toSeq
    // an empty corpus would silently build an unresolvable zero-literal
    // assignment downstream — fail loudly instead
    require(cents.nonEmpty, "kmeans seeding over an empty corpus")
    (1 to iters).foreach { _ =>
      val assigned = assignToLiterals(q,
        cents.map { case (cid, _, s) => (cid, s.map(_.toDouble)) })
      cents = assigned
        .select(col("cluster"), posexplode(col("__qv")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("pos"), col("s"))))
          .as("ps"), max(col("n")).as("n_members"))
        .collect()
        .map { r =>
          val ps = r.getSeq[org.apache.spark.sql.Row](1)
          (r.getLong(0), r.getLong(2), ps.map(_.getLong(1)).toArray)
        }
        .toSeq
    }
    q.unpersist()
    cents
  }

  /** Embedding-table validation — the vector counterpart of
    * [[graft.transform.Validation]]'s record checks: per vector, the
    * dimension, NaN presence, and zero-norm flags, plus the composite
    * `valid` verdict against the expected dimension. Route `NOT valid`
    * rows to a dead-letter table before they poison similarity search
    * (a single NaN component makes every cosine against that vector
    * NaN; a zero vector divides by zero). Pure single-pass projection —
    * no shuffle, runs at scan speed.
    */
  def validateEmbeddings(emb: DataFrame, idCol: String, vecCol: String,
                         expectedDim: Int): DataFrame = {
    require(expectedDim > 0, s"expectedDim ($expectedDim) must be > 0")
    val v = col(vecCol)
    val dim = size(v)
    val hasNan = exists(v, x => isnan(x.cast("double")))
    val isZero = !hasNan &&
      array_max(transform(v, x => abs(x.cast("double")))) === 0.0
    emb.select(col(idCol),
      dim.as("dim"),
      hasNan.as("has_nan"),
      isZero.as("is_zero"),
      (dim === expectedDim && !hasNan && !isZero).as("valid"))
  }

  /** PCA-prefiltered ANN: both sides project onto `components` (literal
    * vectors from [[Pca.topComponents]] — a zero-exchange codegen scan),
    * a coarse top-`m` runs in the reduced space (dim′ ≪ dim, so the
    * dominant queries×corpus multiply-add loop shrinks by dim/dim′), and
    * only the m survivors per query re-rank exactly in the original
    * space. The candidate re-join moves (queries × m) ids — never
    * vectors — and the final exact pass touches (queries × m) rows
    * instead of the whole corpus.
    *
    * The third index geometry next to IVF (partition pruning) and
    * quantization (storage): dimensionality reduction (compute). Recall
    * is tunable via m and the captured variance of the components;
    * audit with [[recallAudit]] like any other approximate path.
    */
  def pcaPrefilterTopK(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String,
                       components: Array[Array[Double]],
                       m: Int, k: Int): DataFrame = {
    require(m >= k, s"coarse candidate count m ($m) must be >= k ($k)")
    def reduced(df: DataFrame, out: String) =
      df.select(col(idCol).as(out),
        transform(Pca.projectCol(col(vecCol), components),
          x => x.cast("float")).as(s"__r_$out"))
    val cand = {
      val q = broadcast(reduced(queries, "query_id"))
      val c = reduced(corpus, "neighbor_id")
      val sim = VectorOps.cosineF(col("__r_query_id"),
        col("__r_neighbor_id"))
      topKRanked(q.join(c, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), sim.as("sim")), m)
        .select(col("query_id"), col("neighbor_id"))
    }
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")))
    val cv = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("c_vec"))
    val rescored = cand.join(cv, "neighbor_id").join(qv, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        VectorOps.cosineF(col("q_vec"), col("c_vec")).as("sim"))
    topKRanked(rescored, k)
  }

  // ---- product quantization (the 16-32x ANN memory path) ----------------

  /** Train a PQ codebook from the deterministic seeded-hash sample: the
    * `ksub` corpus vectors with the smallest `hash60(id)` (ties by id)
    * become the codebook, each split into `m` subspaces at use time.
    * Driver artifact = ksub × dim doubles (bounded model size, like the
    * IVF centroids) — at production parameters (ksub 256, dim 768) this
    * is ~1.5 MB; k-means refinement of the sampled codebook would change
    * none of the downstream expressions. Null vectors are skipped (they
    * belong to [[validateEmbeddings]]' dead letter, not in a codebook).
    */
  def pqTrainSampled(corpus: DataFrame, idCol: String, vecCol: String,
                     m: Int, ksub: Int): graft.functions.PqOps.PqCodebook = {
    require(m > 0 && ksub > 0, "m and ksub must be positive")
    val sampled = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(vecCol),
        graft.functions.StableHash.hash60(col(idCol).cast("string"))
          .as("__h"), col(idCol).as("__id"))
      .orderBy(col("__h").asc, col("__id").asc)
      .limit(ksub)
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sampled.nonEmpty, "cannot train a PQ codebook on no vectors")
    val dim = sampled.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    graft.functions.PqOps.PqCodebook(m, dim / m, sampled)
  }

  /** Encode a corpus to PQ codes: `(id, codes array<int>)` — a
    * zero-exchange codegen projection; this (plus the id) is ALL that
    * needs to live in memory or ride a shuffle for PQ search.
    */
  def pqEncode(corpus: DataFrame, cb: graft.functions.PqOps.PqCodebook,
               idCol: String, vecCol: String): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        graft.functions.PqOps.encode(col(vecCol), cb).as("codes"))

  /** Brute-force ADC top-k over PQ codes: per broadcast query, the LUT
    * (m·ksub subspace distances) is computed once, and every candidate
    * costs O(m) lookups — the corpus streams through without shuffling,
    * exactly [[bruteForceTopK]]'s shape at 1/16th the FLOPs and memory.
    * Ranks by (distance asc, id asc). Output (query_id, rank,
    * neighbor_id) — audit vs the exact path with [[recallAudit]].
    */
  def pqTopK(encoded: DataFrame, cb: graft.functions.PqOps.PqCodebook,
             queries: DataFrame, idCol: String, vecCol: String, k: Int)
      : DataFrame = {
    val q = broadcast(queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        graft.functions.PqOps.lut(col(vecCol), cb).as("__lut")))
    val scored = q.join(
        encoded.select(col(idCol).as("neighbor_id"), col("codes")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-graft.functions.PqOps.adc(col("codes"), col("__lut"), cb))
          .as("sim"))
    topKRanked(scored, k)
  }

  /** IVF + PQ: the production composition — partition pruning picks the
    * `nprobe` candidate clusters, ADC scores only their members.
    * `assignedCodes` is an [[ivfAssign]] output with a `codes` column
    * (e.g. `pqEncode` joined in, or encode run on the assigned frame) —
    * the probed scan reads (id, cluster, codes), never float vectors.
    */
  def ivfTopKPq(assignedCodes: DataFrame, centroids: DataFrame,
                queries: DataFrame,
                cb: graft.functions.PqOps.PqCodebook,
                idCol: String, vecCol: String, k: Int, nprobe: Int)
      : DataFrame = {
    val qc = broadcast(
      ivfProbe(queries, centroids, idCol, vecCol, nprobe)
        .select(col("query_id"), col("cluster"),
          graft.functions.PqOps.lut(col("q_vec"), cb).as("__lut")))
    val scored = assignedCodes
      .select(col(idCol), col("cluster"), col("codes"))
      .join(qc, Seq("cluster"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (-graft.functions.PqOps.adc(col("codes"), col("__lut"), cb))
          .as("sim"))
    topKRanked(scored, k)
  }

  // ---- PQ serving from TABLES (the SQL-reachable spelling, r18) ---------

  /** L2-normalize a float-array column in [[graft.functions.PqOps]]'s
    * exact arithmetic: float→double widening per component, fixed-order
    * (left-fold) sum of squares, sqrt, per-component division; a
    * zero-norm vector passes through unscaled.
    */
  private def pqUnit(v: Column): Column = {
    val d = transform(v, x => x.cast("double"))
    val n = sqrt(aggregate(d, lit(0.0), (s, x) => s + x * x))
    when(n === lit(0.0), d).otherwise(transform(d, x => x / n))
  }

  /** The codebook TABLE `(code_id, vecCol)` folded into ONE broadcast
    * row: an array of unit vectors ordered by `code_id` — the bounded
    * model artifact [[graft.functions.PqOps.PqCodebook]] carries as an
    * expression literal, spelled as a lazy one-row aggregate instead so
    * a SQL view can supply it with no job at plan build.
    */
  private def pqCbArtifact(codebook: DataFrame, vecCol: String)
      : DataFrame =
    broadcast(codebook
      .select(col("code_id").cast("long").as("__code"), col(vecCol))
      .agg(array_sort(collect_list(struct(col("__code"), col(vecCol))))
        .as("__cbs"))
      .select(transform(col("__cbs"), e => pqUnit(e.getField(vecCol)))
        .as("__cb")))

  /** Flattened per-query ADC LUT over the artifact column: entry
    * `j*ksub + r` = squared L2 between the unit query's subvector j and
    * unit codebook vector r's — subspaces j ascending (outer), codes r
    * ascending (inner = codebook order), components t ascending inside
    * each fold: byte-for-byte [[graft.functions.PqOps.PqCodebook.lut]].
    */
  private def pqLutHof(uq: Column, cb: Column, m: Int): Column = {
    val dsub = (size(element_at(cb, 1)) / lit(m)).cast("int")
    flatten(transform(sequence(lit(0), lit(m - 1)), j =>
      transform(cb, c =>
        aggregate(sequence(j * dsub + 1, (j + 1) * dsub), lit(0.0),
          (s, t) => {
            val diff = element_at(uq, t) - element_at(c, t)
            s + diff * diff
          }))))
  }

  /** ADC score: Σ_j lut(j·ksub + codes(j)), j ascending —
    * [[graft.functions.PqOps.PqCodebook.adc]] as a fold.
    */
  private def pqAdcHof(lutC: Column, ksub: Column, codes: Column,
                       m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (s, j) =>
      s + element_at(lutC, j * ksub + element_at(codes, j + 1) + 1))

  /** [[pqTopK]] served entirely from TABLES — the `graft_pq_probe` TVF
    * body. `codebook` is a `(code_id, vecCol)` view (code_id = the
    * training sample's 0-based hash-rank order, the exact
    * [[pqTrainSampled]] rule — expressible in plain SQL); `encoded` is
    * a `(idCol, codes)` view ([[pqEncode]] output at rest). The LUT and
    * ADC run as fixed-order higher-order functions reproducing
    * [[graft.functions.PqOps]]'s IEEE double arithmetic bit-for-bit
    * (same widenings, same left-fold orders, no fused multiply-add in
    * either spelling), so the ranking hash-matches the expression path
    * and the DuckDB oracle. PURE LAZY plan: the codebook folds as a
    * broadcast one-row aggregate — no train, no collect, no persist at
    * plan build (the TVF zero-jobs contract). Scale shape unchanged
    * from [[pqTopK]]: LUT once per broadcast query row, O(m) lookups
    * per candidate, the corpus streams through unshuffled.
    */
  def pqProbeFromTables(codebook: DataFrame, encoded: DataFrame,
                        queries: DataFrame, idCol: String, vecCol: String,
                        m: Int, k: Int): DataFrame = {
    require(m > 0 && k > 0, "m and k must be positive")
    val qPanel = broadcast(queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), pqUnit(col(vecCol)).as("__uq"))
      .crossJoin(pqCbArtifact(codebook, vecCol))
      .select(col("query_id"),
        pqLutHof(col("__uq"), col("__cb"), m).as("__lut"),
        size(col("__cb")).as("__ksub")))
    val scored = qPanel.join(
        encoded.select(col(idCol).as("neighbor_id"), col("codes")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-pqAdcHof(col("__lut"), col("__ksub"), col("codes"), m))
          .as("sim"))
    topKRanked(scored, k)
  }

  /** [[ivfTopKPq]] served entirely from TABLES — the `graft_ivfpq_probe`
    * TVF body: partition pruning from the centroids view picks the
    * `nprobe` candidate clusters per query, the codebook view supplies
    * the ADC arithmetic, and only probed clusters' members are scored —
    * the probed scan reads `(id, cluster, codes)`, never float vectors.
    * Same exactness and zero-jobs contract as [[pqProbeFromTables]].
    */
  def ivfPqProbeFromTables(assignedCodes: DataFrame, centroids: DataFrame,
                           codebook: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String,
                           m: Int, k: Int, nprobe: Int): DataFrame = {
    require(m > 0 && k > 0 && nprobe > 0,
      "m, k and nprobe must be positive")
    val qc = broadcast(
      ivfProbe(queries.filter(col(vecCol).isNotNull), centroids,
          idCol, vecCol, nprobe)
        .crossJoin(pqCbArtifact(codebook, vecCol))
        .select(col("query_id"), col("cluster"),
          pqLutHof(pqUnit(col("q_vec")), col("__cb"), m).as("__lut"),
          size(col("__cb")).as("__ksub")))
    val scored = assignedCodes
      .select(col(idCol), col("cluster"), col("codes"))
      .join(qc, Seq("cluster"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (-pqAdcHof(col("__lut"), col("__ksub"), col("codes"), m))
          .as("sim"))
    topKRanked(scored, k)
  }
}
