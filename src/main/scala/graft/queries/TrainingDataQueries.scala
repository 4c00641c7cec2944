package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.StableHash
import graft.operators.{Decontamination, Dedup, Multimodal, Similarity,
  TextAnalysis}
import graft.queries.Q._

/** Verified queries for the training-data-pipeline operators (the
  * beyond-reference surface): exact + fuzzy dedup (minhash-LSH, simhash,
  * n-gram Jaccard), embedding ANN (brute-force + IVF), text analysis
  * (language ID, quality, token counts, fingerprints) and multimodal
  * binary-column plumbing.
  *
  * The DuckDB oracle SQL is *generated* from the same constants
  * (StableHash.minhashParams, stopword patterns, k, thresholds) the Scala
  * operators use, so both engines evaluate the identical algorithm.
  */
object TrainingDataQueries {

  private val P = StableHash.MinhashPrime
  private val NumHashes = 12
  private val RowsPerBand = 3
  private val NumBands = NumHashes / RowsPerBand
  private val ShingleK = 3
  private val MinhashThreshold = 0.5
  private val JaccardK = 3
  private val JaccardThreshold = 0.8
  private val SimhashBits = 32
  private val MaxHamming = 3
  // Ed-Join: character q-gram size + edit-distance threshold. Measured on
  // the synthetic corpus: true near-dup pairs sit at edit distance 4-12,
  // the next cluster starts at 34 — 12 separates cleanly.
  private val EditQ = 5
  private val EditMax = 12
  // hashed-classifier fixture: bucket count + a deterministic integer
  // weight per bucket (pair #14 of the minhash permutation family, past
  // the 12 the minhash sigs use). The WEIGHTS are a
  // stand-in for a trained model; the serving path (hashing trick,
  // literal weight vector, zero-exchange scoring) is the real operator.
  private val ClsDim = 512
  private val (clsA, clsB) = StableHash.minhashParams(14).last
  private val ClsWeights: Seq[Int] =
    (0 until ClsDim).map(j => (((clsA * j + clsB) % P) % 2001 - 1000).toInt)
  // duplicated-run window width (words) — the ExactSubstr analogue of
  // ChunkW; overlapping windows, so runs straddling chunk boundaries are
  // caught
  private val RunW = 8
  // funnel stage thresholds, calibrated so every stage drops documents on
  // the synthetic corpus (500 -> 392 -> 253 -> 228 -> 202 at sf0.001):
  // rep_ratio is ~0 for most docs (0.01 cuts the tail), quality clusters
  // at ~0.9 (0.905 splits it)
  private val FunnelRepMax = 0.01
  private val FunnelQualityMin = 0.905
  // perceptual-hash near-dup Hamming threshold: 12 keeps the synthetic
  // corpus's near-dup tail (min observed distance 8) while the byte-band
  // candidate step stays selective; pairs under bits/8 - 1 = 7 are
  // caught with certainty, the rest by any-shared-band — the oracle
  // replicates the banded semantics exactly (as dedup_simhash_pairs
  // does). NOTE: must be declared BEFORE phashPairsSql (object vals
  // initialize in declaration order).
  private val PhashMaxHamming = 12
  private val AnnK = 10
  private val AnnNumQueries = 20
  // product quantization at test scale: 32 subspaces x 32 codes over the
  // fixture's dim-64 embeddings — measured best sampled-codebook recall
  // (0.57-0.59 @ recall@10 vs 0.42 for 16x32) at 8x compression
  // (32 byte-able codes vs 64 floats). Prod: 16-32 subspaces x 256
  // k-means codes — parameters, not structure; the oracle replays
  // whatever these say
  private val PqM = 32
  private val PqKsub = 32
  private val PqDsub = 2 // fixture dim 64 / PqM
  // test-scale LSH constants: 16 planes banded 4x4 bits (the operator's
  // 100 TB default is 32 planes / 16-bit bands = 64k buckets per band;
  // 4-bit bands keep bucket occupancy testable on 500-5000 vectors)
  private val EmbPlanes = 16
  private val EmbBandBits = 4
  private val EmbBands = EmbPlanes / EmbBandBits
  // the operator's documented 100 TB configuration, oracle-verified by
  // the `_scale` twin row (r18): 32 planes / 16-bit bands = 2 bands of
  // 65,536 buckets — the factor-100 fixture measured the 4-bit test
  // geometry quadratic (16 buckets per band => ~n²/16 candidates)
  private val EmbPlanesScale = 32
  private val EmbBandBitsScale = 16
  private val EmbThreshold = 0.4
  // benchmark-decontamination k-gram size (public reports use 13-grams
  // on real prose; 4 keeps overlap non-trivial on the synthetic docs)
  // and the doc_id modulus that carves out the fake "benchmark" set
  private val DecontamK = 4
  private val BenchMod = 20
  // paragraph-granularity chunk width (words) for chunk-level dedup
  private val ChunkW = 8
  // SemDeDup: centroid seed stride + intra-cluster cosine threshold
  // (0.4 keeps the synthetic clusters' near-dup tails, like EmbThreshold)
  private val SemEvery = 50
  private val SemThreshold = 0.4
  // Gopher rules: the synthetic docs run 10-99 words, so the word-count
  // floor drops to 20 to exercise both sides of every rule
  private val GopherMinWords = 20
  // per-source document cap for the domain-cap query
  private val DomainCap = 10
  // KMV sketch size: ~12% relative error, small enough that sources
  // with >k distinct 3-grams exercise the estimator branch
  private val SketchK = 64
  // relative mixture weights per source: deterministic 1.0/2.0/3.0 cycle
  private val MixtureWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (1.0 + i % 3)).toMap

  // epoch plan: total token budget + NORMALIZED weight fractions (the
  // operator contract). Normalization happens here, driver-side, so both
  // engines see the identical double literals (shortest-roundtrip
  // toString); budget 500k vs ~1.2-1.7k-token stocks -> epochs ~8-30,
  // exercising the repeat regime. NOTE: must stay AFTER MixtureWeights
  // (object vals initialize in declaration order).
  private val EpochBudget = 500000L
  private val EpochWeights: Map[String, Double] = {
    val total = MixtureWeights.values.sum
    MixtureWeights.map { case (s, w) => s -> (w / total) }
  }

  // ---- generated oracle-SQL fragments ---------------------------------

  /** words CTE: whitespace-tokenized lowercase text. `from` lets the
    * composed pipeline oracle run the same fragment over a filtered CTE
    * instead of the base table.
    */
  private def wordsCteFrom(from: String) =
    s"""words AS (SELECT doc_id,
       |  string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM $from)""".stripMargin

  private val wordsCte = wordsCteFrom("documents")

  // ---- text-search fragments (TextSearch operators) -------------------

  private val InvIdxMaxPostings = 16
  private val TfidfK = 5
  private val SearchTerms = Seq("spark", "merge", "window")
  private val SearchK = 20
  // hybrid retrieval: RRF fusion of the lexical top-k (fixed terms)
  // and the cosine top-k of one query doc's embedding (vec_id and
  // doc_id share one universe in the fixture — embeddings ARE the
  // documents' embeddings). rrfK=60 is the literature default.
  private val HybridQueryId = 7
  private val RrfK = 60
  // more-like-this: the first MltQueries docs play the query panel,
  // each querying the corpus with its own top-TfidfK keywords
  private val MltQueries = 10
  private val MltK = 10
  // pseudo-relevance feedback: expand the seed query with the top
  // keywords of its first PrfM hits, then re-query disjunctively
  private val PrfM = 5

  /** tf per distinct (doc, term), blank terms dropped — the oracle twin
    * of TextSearch.docTermTf.
    */
  private val termTfCte =
    s"""$wordsCte,
       |dtq AS (SELECT doc_id, unnest(ws) AS term FROM words),
       |tfq AS (SELECT doc_id, term, count(*) AS tf FROM dtq
       |  WHERE term <> '' GROUP BY doc_id, term)""".stripMargin

  /** The BM25 per-term score chain, spelled ONCE for the five oracle
    * sites that fold it ((tf, df, dl, n_docs, sumdl) must be in
    * scope) — character-identical to the engine's
    * `bm25ScoreExpr(k1 = 1.2, b = 0.75)` float chain, so a future
    * constant/cast change desynchronizes ZERO oracles or ALL of them
    * loudly, never one silently.
    */
  private val bm25ScoreSql =
    s"""(CAST(((n_docs * ${graft.operators.TextSearch.IdfScale})
       |    // df) AS DOUBLE) * tf * CAST(2.2 AS DOUBLE)) /
       |  (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
       |    CAST(0.75 AS DOUBLE) * dl * n_docs / sumdl))"""
      .stripMargin

  /** corpus size + per-term df + the exact integer tf·idf score —
    * `tf * ((n_docs * IdfScale) // df)`, floor division of longs in
    * both engines.
    */
  private def tfidfScoredCte(fromTfq: String) =
    s"""ntot AS (SELECT count(*) AS n_docs FROM documents),
       |dfq AS (SELECT doc_id, term, tf,
       |  count(*) OVER (PARTITION BY term) AS df FROM $fromTfq),
       |sc AS (SELECT doc_id, term, tf, df,
       |  tf * ((n_docs * ${graft.operators.TextSearch.IdfScale}) // df)
       |    AS score
       |  FROM dfq, ntot)""".stripMargin

  /** distinct k-shingles per doc (matches Dedup.shingles). */
  private def shinglesCte(k: Int) =
    s"""sh AS (SELECT doc_id,
       |  unnest(list_distinct(list_transform(range(1, len(ws) - ${k - 2}),
       |    i -> array_to_string(ws[i:i+${k - 1}], ' ')))) AS shingle
       |  FROM words)""".stripMargin

  private val hashCte =
    s"h AS (SELECT doc_id, ${StableHash.hash60Sql("shingle")} AS h FROM sh)"

  private def sigSelect: String =
    StableHash.minhashParams(NumHashes).zipWithIndex.map {
      case ((a, b), i) =>
        s"min(${StableHash.minhashPermSql("h", a, b)}) AS sig_$i"
    }.mkString(", ")

  private val sigCte =
    s"sig AS (SELECT doc_id, $sigSelect FROM h GROUP BY doc_id)"

  private def bandExprs: String = (0 until NumBands).map { b =>
    val cols = (0 until RowsPerBand).map(r => s"sig_${b * RowsPerBand + r}")
    s"concat_ws('_', ${cols.mkString(", ")}) AS band_$b"
  }.mkString(", ")

  private val minhashSigsSql =
    s"""WITH $wordsCte, ${shinglesCte(ShingleK)}, $hashCte, $sigCte
       |SELECT * FROM sig""".stripMargin

  /** CTE list + final SELECT of the minhash-LSH pair query, kept separate
    * so the connected-components oracle can embed the pairs as a CTE.
    */
  private def minhashLshCtesFrom(from: String) = {
    val bandJoins = (0 until NumBands).map { b =>
      s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b
         |  ON a.band_$b = b.band_$b AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\nUNION\n")
    s"""${wordsCteFrom(from)}, ${shinglesCte(ShingleK)}, $hashCte, $sigCte,
       |banded AS (SELECT doc_id, $bandExprs FROM sig),
       |cand AS ($bandJoins)""".stripMargin
  }

  private val minhashLshCtes = minhashLshCtesFrom("documents")

  private val minhashLshSelect = {
    val agree = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""SELECT c.id_a, c.id_b,
       |  CAST($agree AS DOUBLE) / $NumHashes AS sig_agreement
       |FROM cand c
       |JOIN sig sa ON c.id_a = sa.doc_id
       |JOIN sig sb ON c.id_b = sb.doc_id
       |WHERE CAST($agree AS DOUBLE) / $NumHashes >= $MinhashThreshold"""
      .stripMargin
  }

  private val minhashLshSql =
    s"WITH $minhashLshCtes\n$minhashLshSelect"

  /** Oracle for the viral-bucket guard (minhashNearDups maxBucket): per
    * band, buckets up to the cap contribute the exact clique, larger
    * ones the star over the bucket-min hub; the shared verification /
    * threshold runs unchanged on the union. CapBucket=2 is small enough
    * that the fixture's real dup clusters exercise the star path.
    */
  private val CapBucket = 2
  private val minhashCappedSql = {
    val perBand = (0 until NumBands).map { b =>
      s"""s$b AS (SELECT doc_id, band_$b,
         |  count(*) OVER (PARTITION BY band_$b) AS bn,
         |  min(doc_id) OVER (PARTITION BY band_$b) AS hub
         |  FROM banded)""".stripMargin
    }.mkString(",\n")
    val cands = (0 until NumBands).map { b =>
      s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM s$b a JOIN s$b b ON a.band_$b = b.band_$b
         |  AND a.doc_id < b.doc_id WHERE a.bn <= $CapBucket
         |UNION
         |SELECT hub AS id_a, doc_id AS id_b FROM s$b
         |WHERE bn > $CapBucket AND doc_id <> hub""".stripMargin
    }.mkString("\nUNION\n")
    s"""WITH $wordsCte, ${shinglesCte(ShingleK)}, $hashCte, $sigCte,
       |banded AS (SELECT doc_id, $bandExprs FROM sig),
       |$perBand,
       |cand AS ($cands)
       |$minhashLshSelect""".stripMargin
  }

  /** Connected-components oracle over the minhash-LSH pair graph: the
    * recursive CTE enumerates every node reachable from each endpoint
    * (edges symmetrized), and `min(reachable)` is exactly the
    * component-min label the Spark operator converges to. Fine at oracle
    * scale (tens of pairs at sf0.01); the Spark side is the scale path.
    */
  private val ccSql =
    s"""WITH RECURSIVE $minhashLshCtes,
       |pairs AS ($minhashLshSelect),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
       |reach(id, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v)
       |SELECT id, min(r) AS component_id FROM reach GROUP BY id"""
      .stripMargin

  /** Recursive CC-keep tail shared by the recipe-stage dedup oracles:
    * resolve a `pairs(id_a, id_b)` CTE to components and emit the ids
    * to DROP (non-canonical members). The caller anti-joins its table.
    */
  private val ccDropTail =
    s"""edges AS (SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
       |reach(id, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e2.u, reach.r FROM edges e2 JOIN reach ON reach.id = e2.v),
       |cc AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id),
       |dropids AS (SELECT id FROM cc WHERE id <> component_id)"""
      .stripMargin

  private val simhashCte = {
    val bitSums = (0 until SimhashBits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS bs_$b")
      .mkString(", ")
    val fp = (0 until SimhashBits).map(b =>
      s"CASE WHEN bs_$b > 0 THEN (1::BIGINT << $b) ELSE 0 END")
      .mkString(" + ")
    s"""wh AS (SELECT doc_id, unnest(list_distinct(ws)) AS w FROM words),
       |h2 AS (SELECT doc_id, ${StableHash.hash60Sql("w")} AS h FROM wh),
       |bsums AS (SELECT doc_id, $bitSums FROM h2 GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fp AS simhash FROM bsums)""".stripMargin
  }

  private val simhashSql =
    s"WITH $wordsCte, $simhashCte SELECT doc_id, simhash FROM fp"

  private val simhashCandCte = {
    val bandJoins = (0 until SimhashBits / 8).map { b =>
      s"""SELECT a.doc_id AS id_a, a.simhash AS fp_a,
         |  b.doc_id AS id_b, b.simhash AS fp_b
         |FROM fp a JOIN fp b
         |  ON ((a.simhash >> ${b * 8}) & 255) = ((b.simhash >> ${b * 8}) & 255)
         |  AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\nUNION\n")
    s"cand AS ($bandJoins)"
  }

  private val simhashPairsSql =
    s"""WITH $wordsCte, $simhashCte,
       |$simhashCandCte
       |SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= $MaxHamming"""
      .stripMargin

  /** Perceptual-hash pairs oracle, mirroring Multimodal.phashNearDups:
    * aHash via exact integer block means (cross-multiplied comparison, no
    * floats), then the same byte-band UNION join as simhashPairsSql.
    * Bit 63 cannot be `1 << 63` in DuckDB (signed overflow), so the term
    * is the Long.MinValue literal — same two's-complement value Spark's
    * `1L << 63` produces.
    */
  /** Decoded-media fixture: every non-empty document becomes a synthetic
    * netpbm image — grayscale PGM (P5) or RGB PPM (P6) — whose raster is
    * the doc's text bytes repeated cyclically (`rpad(text, bpp*w*h,
    * text)`) under data-dependent dims `w = 8 + id%17, h = 8 + id%13`.
    * Both engines derive pixels from the SAME rpad rule, so the oracle
    * replays the decoded 2-D block math exactly, while the Spark side
    * additionally roundtrips through REAL PNM bytes (header write →
    * [[graft.functions.MediaCodec]] parse — the parser itself is asserted
    * against hand-built fixtures incl. BMP/WAV in MediaCodecSpec).
    *
    * ASCII coupling (asserted in OperatorsSpec): Spark walks UTF-8 BYTES
    * while the oracle walks CODE POINTS (ord/substr) — identical only
    * while the documents fixture is pure ASCII.
    */
  /** Spark side of the decoded-media fixture: genuine PNM bytes (header
    * + cyclic-text raster). The raster uses the SAME `rpad` rule the
    * oracle CTEs replay; the header is real and parsed back by
    * [[graft.functions.MediaCodec]] — write→parse asymmetry is covered
    * by hand-built byte fixtures in MediaCodecSpec.
    */
  private def mediaFixture(s: org.apache.spark.sql.SparkSession,
                           d: String, rgb: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val bpp = if (rgb) 3 else 1
    val magic = if (rgb) "P6" else "P5"
    table(s, d, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id").as("media_id"),
        (lit(8) + col("doc_id") % 17).cast("int").as("w"),
        (lit(8) + col("doc_id") % 13).cast("int").as("h"),
        col("text"))
      .select(col("media_id"),
        concat(
          concat(lit(magic + "\n"), col("w").cast("string"), lit(" "),
            col("h").cast("string"), lit("\n255\n")).cast("binary"),
          expr(s"cast(rpad(text, $bpp * w * h, text) as binary)"))
          .as("payload"))
  }

  private val mediaDimsCte =
    """d AS (SELECT doc_id AS media_id,
      |    CAST(8 + doc_id % 17 AS INT) AS w,
      |    CAST(8 + doc_id % 13 AS INT) AS h, text
      |  FROM documents WHERE length(text) > 0)""".stripMargin

  /** Per-pixel value lists for the PGM fixture (1 byte/pixel). */
  private val pgmBvCtes =
    s"""$mediaDimsCte,
       |sx AS (SELECT media_id, w, h, rpad(text, w*h, text) AS px FROM d),
       |bts AS (SELECT media_id, w, h,
       |    list_transform(range(0, w*h),
       |      i -> ord(substr(px, CAST(i AS INT) + 1, 1))) AS bv
       |  FROM sx)""".stripMargin

  /** Per-pixel CHANNEL-SUM lists for the PPM fixture (3 bytes/pixel —
    * `r+g+b`, the exact-integer luminance [[graft.functions.MediaCodec]]
    * decodes to; any positive scaling is threshold-invariant under
    * cross-multiplied block means).
    */
  private val ppmBvCtes =
    s"""$mediaDimsCte,
       |sx AS (SELECT media_id, w, h, rpad(text, 3*w*h, text) AS px FROM d),
       |bts AS (SELECT media_id, w, h,
       |    list_transform(range(0, w*h), i ->
       |      ord(substr(px, 3*CAST(i AS INT) + 1, 1))
       |        + ord(substr(px, 3*CAST(i AS INT) + 2, 1))
       |        + ord(substr(px, 3*CAST(i AS INT) + 3, 1))) AS bv
       |  FROM sx)""".stripMargin

  /** True 2-D 8×8-block aHash over a decoded pixel list `bv` (row-major,
    * dims w×h): bit `k = r*8+c` set iff block (r,c)'s mean exceeds the
    * global mean, compared exactly by cross-multiplication — replays
    * [[graft.functions.MediaCodec.phash2D]] bit for bit.
    */
  private val phashFpCtes =
    """tot AS (SELECT media_id, w, h, bv,
      |    COALESCE(list_sum(bv), 0)::BIGINT AS total FROM bts),
      |fp AS (SELECT media_id, w, h,
      |  COALESCE(list_sum(list_transform(range(0, 64), k ->
      |    CASE WHEN COALESCE(list_sum(list_transform(
      |            range((k//8)*h//8, (k//8+1)*h//8), rr ->
      |              COALESCE(list_sum(
      |                bv[CAST(rr*w + (k%8)*w//8 AS INT) + 1 :
      |                   CAST(rr*w + (k%8+1)*w//8 AS INT)]), 0))),
      |          0)::BIGINT * (w*h) >
      |          total * (((k//8+1)*h//8 - (k//8)*h//8)
      |                   * ((k%8+1)*w//8 - (k%8)*w//8))
      |      THEN CASE WHEN k = 63 THEN -9223372036854775808
      |           ELSE (1::BIGINT << CAST(k AS INT)) END
      |      ELSE 0 END)), 0)::BIGINT AS phash
      |  FROM tot)""".stripMargin

  /** Banded-candidate CTE for the phash pair oracles, parameterized by
    * band width: one self-join per band over the shared `fp` CTE, ORed
    * via UNION — replays [[graft.operators.Dedup.bandedHammingPairs]]'s
    * any-shared-band semantics exactly (DuckDB `>>` on BIGINT is the
    * same arithmetic shift Spark's `shiftright` uses; the mask makes
    * sign-fill irrelevant, top band included).
    */
  private def phashCandCteOf(bandBits: Int) = {
    val mask = (1L << bandBits) - 1
    val bandJoins = (0 until 64 / bandBits).map { b =>
      s"""SELECT a.media_id AS id_a, a.phash AS fp_a,
         |  b.media_id AS id_b, b.phash AS fp_b
         |FROM fp a JOIN fp b
         |  ON ((a.phash >> ${b * bandBits}) & $mask) =
         |     ((b.phash >> ${b * bandBits}) & $mask)
         |  AND a.media_id < b.media_id""".stripMargin
    }.mkString("\nUNION\n")
    s"cand AS ($bandJoins)"
  }

  private val phashCandCte = phashCandCteOf(8)

  private val phashPairsSql =
    s"""WITH $pgmBvCtes,
       |$phashFpCtes,
       |$phashCandCte
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(fp_a, fp_b)) <= $PhashMaxHamming""".stripMargin

  /** The 16-bit-band (100 TB) configuration of the phash pair oracle:
    * 4 bands of 65,536 buckets instead of 8 bands of 256. A shared
    * 16-bit band implies both its 8-bit halves are shared, so this
    * candidate set is an exact SUBSET of the 8-bit one (asserted in
    * MultimodalSpec) — same verified-Hamming semantics, ~256× fewer
    * bucket collisions at a given corpus size.
    */
  private val phashPairsScaleSql =
    s"""WITH $pgmBvCtes,
       |$phashFpCtes,
       |${phashCandCteOf(16)}
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(fp_a, fp_b)) <= $PhashMaxHamming""".stripMargin

  /** Media canonical-keep oracle: the phash pair graph resolved to
    * components (same recursive reach fragment as ccSql) and every
    * media row labeled with its component (itself when unpaired) and
    * whether it is the component's canonical (minimum-id) member.
    * Pairs come from the 16-bit-band geometry — the operator default
    * the Spark side rides since r19.
    */
  private val phashCanonicalSql =
    s"""WITH RECURSIVE $pgmBvCtes,
       |$phashFpCtes,
       |${phashCandCteOf(16)},
       |pairs AS (SELECT id_a, id_b FROM cand
       |  WHERE bit_count(xor(fp_a, fp_b)) <= $PhashMaxHamming),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
       |reach(id, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
       |cc AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id)
       |SELECT m.media_id,
       |  coalesce(cc.component_id, m.media_id) AS component_id,
       |  m.media_id = coalesce(cc.component_id, m.media_id)
       |    AS is_canonical
       |FROM (SELECT doc_id AS media_id FROM documents
       |      WHERE length(text) > 0) m
       |LEFT JOIN cc ON m.media_id = cc.id""".stripMargin

  private val jaccardCtes =
    s"""g AS (SELECT doc_id AS id, shingle AS g FROM sh),
       |sz AS (SELECT id, count(*) AS sz FROM g GROUP BY id),
       |i AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM g a JOIN g b ON a.g = b.g AND a.id < b.id GROUP BY 1, 2)"""
      .stripMargin

  private val jaccardSelect =
    s"""SELECT id_a, id_b,
       |  CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) AS jaccard
       |FROM i JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
       |WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter)
       |  >= $JaccardThreshold""".stripMargin

  private val jaccardSql =
    s"""WITH $wordsCte, ${shinglesCte(JaccardK)},
       |$jaccardCtes
       |$jaccardSelect""".stripMargin

  /** Edit-distance pair oracle, mirroring Dedup.editVerifiedPairs. The
    * oracle skips the prefix filter (sound-only pruning — the final
    * `levenshtein <= EditMax` predicate makes any-shared-gram candidates
    * produce the identical verified set) and keeps the length filter so
    * the candidate join stays small at oracle scale.
    */
  private val editPairsSql =
    s"""WITH t AS (SELECT doc_id,
       |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents),
       |g AS (SELECT doc_id, len(t) AS len,
       |    unnest(list_distinct(list_transform(
       |      range(1, len(t) - $EditQ + 2),
       |      i -> t[i:i+${EditQ - 1}]))) AS g
       |  FROM t WHERE len(t) >= $EditQ),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
       |    AND abs(a.len - b.len) <= $EditMax)
       |SELECT c.id_a, c.id_b,
       |  CAST(levenshtein(x.t, y.t) AS INT) AS edit_dist
       |FROM cand c JOIN t x ON c.id_a = x.doc_id
       |JOIN t y ON c.id_b = y.doc_id
       |WHERE levenshtein(x.t, y.t) <= $EditMax""".stripMargin

  /** Hashed-linear-classifier oracle, mirroring
    * TextAnalysis.hashedClassifierScore: unigram+bigram multiset features,
    * hash-bucketed, weight = the same (clsA, clsB) fixture formula the
    * Scala side bakes into its literal weight array. sum(int) is HUGEINT
    * in DuckDB — cast back to BIGINT for schema parity.
    */
  private val classifierSql = {
    val w = s"((($clsA * j + $clsB) % $P) % 2001 - 1000)"
    s"""WITH $wordsCte,
       |fe AS (SELECT doc_id, unnest(list_concat(ws,
       |    list_transform(range(1, len(ws)),
       |      i -> ws[i] || ' ' || ws[i+1]))) AS f
       |  FROM words),
       |b AS (SELECT doc_id,
       |    ${StableHash.hash60Sql("f")} % $ClsDim AS j
       |  FROM fe),
       |s AS (SELECT doc_id, count(*) AS n_feats,
       |    CAST(sum($w) AS BIGINT) AS raw
       |  FROM b GROUP BY doc_id)
       |SELECT doc_id, n_feats, raw AS raw_score,
       |  CAST(raw AS DOUBLE) / greatest(n_feats, 1) AS score,
       |  CAST(raw AS DOUBLE) / greatest(n_feats, 1) >= 0.0 AS keep
       |FROM s""".stripMargin
  }

  /** Exact quantized Gram-moment oracle (shared by the full-corpus
    * embedding_gram_quantized and the additive pca_incremental_moments).
    */
  private val gramMomentsSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |    FROM embeddings WHERE embedding IS NOT NULL),
      |g AS (SELECT max(list_max(list_transform(v, x -> abs(x))))
      |    / 127.0 AS gscale FROM e),
      |q AS (SELECT vec_id, list_transform(v, x ->
      |    CAST(floor(CASE WHEN gscale = 0 THEN 0.0
      |      ELSE x / gscale + 0.5 END) AS INT)) AS q FROM e, g),
      |u AS (SELECT vec_id, s.i AS i, s.qi AS qi FROM q,
      |    unnest(list_transform(range(1, len(q) + 1),
      |      k -> {'i': CAST(k - 1 AS INT), 'qi': q[k]})) AS t(s)),
      |gram AS (SELECT u1.i AS i, u2.i AS j,
      |    CAST(sum(CAST(u1.qi AS BIGINT) * u2.qi) AS BIGINT) AS s
      |  FROM u u1 JOIN u u2
      |    ON u1.vec_id = u2.vec_id AND u1.i <= u2.i
      |  GROUP BY 1, 2),
      |sums AS (SELECT i, CAST(-1 AS INT) AS j,
      |    CAST(sum(qi) AS BIGINT) AS s FROM u GROUP BY 1),
      |n AS (SELECT CAST(-1 AS INT) AS i, CAST(-1 AS INT) AS j,
      |  count(*) AS s FROM e)
      |SELECT * FROM gram UNION ALL SELECT * FROM sums
      |UNION ALL SELECT * FROM n""".stripMargin

  /** Trainer oracle CTEs (shared by classifier_train and
    * classifier_train_score): the scorer's exact feature pipeline
    * (unigrams + word bigrams, hash60 % dim buckets), labels = source
    * equals the DSIR target slice, fixed-point smoothed posterior
    * weights in pure integer arithmetic.
    */
  private def nbTrainCtes =
    s"""fe AS (SELECT doc_id, unnest(list_concat(ws,
       |    list_transform(range(1, len(ws)),
       |      i -> ws[i] || ' ' || ws[i+1]))) AS f
       |  FROM words),
       |b AS (SELECT doc_id,
       |    ${StableHash.hash60Sql("f")} % $ClsDim AS j
       |  FROM fe),
       |lab AS (SELECT doc_id, source = '$DsirTarget' AS pos
       |  FROM documents),
       |cnt AS (SELECT j AS bucket,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_n,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_n
       |  FROM b JOIN lab USING (doc_id) GROUP BY 1),
       |wt AS (SELECT bucket, pos_n, neg_n,
       |    (2 * 1000 * (pos_n + 1)) // (pos_n + neg_n + 2) - 1000
       |      AS weight
       |  FROM cnt)""".stripMargin

  private def nbTrainSql =
    s"""WITH $wordsCte,
       |$nbTrainCtes
       |SELECT bucket, pos_n, neg_n, CAST(weight AS BIGINT) AS weight
       |FROM wt""".stripMargin

  // classified-curate keep bound (integer score scale): the corpus
  // vocabulary is tiny so trained scores cluster near -880; -878 keeps
  // the more-target-like quarter of the fixture
  private val CurateMinScore = -878L

  /** Composed pipeline oracle: train -> integer-threshold keep -> exact
    * dedup on normalized text -> per-source doc/token digest. Every
    * stage is set-dependent on the previous one's survivors.
    */
  private def classifiedCurateSql = {
    val normExpr = "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^\\p{L}\\p{N}\\s]+', ' ', 'g'), '\\s+', ' ', 'g'))"
    s"""WITH $wordsCte,
       |$nbTrainCtes,
       |s2 AS (SELECT doc_id, count(*) AS n_feats,
       |    CAST(sum(coalesce(wt.weight, 0)) AS BIGINT) AS raw
       |  FROM b LEFT JOIN wt ON b.j = wt.bucket GROUP BY doc_id),
       |keep AS (SELECT doc_id FROM s2
       |  WHERE raw >= ($CurateMinScore) * n_feats),
       |kd AS (SELECT d.doc_id, d.source, d.text
       |  FROM documents d JOIN keep USING (doc_id)),
       |canon AS (SELECT min(doc_id) AS doc_id FROM (
       |  SELECT doc_id, ${StableHash.hash60Sql(normExpr)} AS nh FROM kd)
       |  GROUP BY nh),
       |fin AS (SELECT kd.doc_id, kd.source FROM kd JOIN canon
       |  USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(len(ws)) AS BIGINT) AS n_tokens
       |FROM fin JOIN words USING (doc_id) GROUP BY source""".stripMargin
  }

  private def nbTrainScoreSql =
    s"""WITH $wordsCte,
       |$nbTrainCtes,
       |s2 AS (SELECT doc_id, count(*) AS n_feats,
       |    CAST(sum(coalesce(wt.weight, 0)) AS BIGINT) AS raw
       |  FROM b LEFT JOIN wt ON b.j = wt.bucket GROUP BY doc_id)
       |SELECT doc_id, n_feats, raw AS raw_score,
       |  CAST(raw AS DOUBLE) / greatest(n_feats, 1) AS score,
       |  CAST(raw AS DOUBLE) / greatest(n_feats, 1) >= 0.0 AS keep
       |FROM s2""".stripMargin

  /** Hyperplane-LSH near-dup oracle, mirroring Dedup.embeddingNearDups:
    * dense plane ids via row_number over the lowest-EmbPlanes vectors,
    * banded signatures, UNION of per-band bucket joins (UNION = set
    * semantics = Spark's distinct), exact-cosine verification.
    */
  private val embCosineCtes = {
    val bandJoins = (0 until EmbBands).map { b =>
      val sh = b * EmbBandBits
      val mask = (1 << EmbBandBits) - 1
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM sig a JOIN sig b
         |  ON ((a.sig >> $sh) & $mask) = ((b.sig >> $sh) & $mask)
         |  AND a.vec_id < b.vec_id""".stripMargin
    }.mkString("\nUNION\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS plane_id,
       |    v AS pv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $EmbPlanes)),
       |sig AS (SELECT e.vec_id,
       |    sum(CASE WHEN list_dot_product(e.v, p.pv) >= 0
       |      THEN (1::BIGINT << CAST(p.plane_id AS INT))
       |      ELSE 0 END) AS sig
       |  FROM e, p GROUP BY e.vec_id),
       |cand AS ($bandJoins)""".stripMargin
  }

  private val embCosineSelect =
    s"""SELECT c.id_a, c.id_b
       |FROM cand c
       |JOIN e x ON c.id_a = x.vec_id
       |JOIN e y ON c.id_b = y.vec_id
       |WHERE list_dot_product(x.v, y.v)
       |  / (sqrt(list_dot_product(x.v, x.v))
       |     * sqrt(list_dot_product(y.v, y.v))) >= $EmbThreshold"""
      .stripMargin

  private val embCosineSql =
    s"""WITH $embCosineCtes
       |$embCosineSelect""".stripMargin

  /** Brute-force cosine top-k CTEs ending in `r(query_id, neighbor_id,
    * rank)` — shared by the ANN baseline and the label-agreement audit.
    */
  private val annTopkCtes =
    s"""q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id < $AnnNumQueries),
       |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
       |  FROM embeddings),
       |s AS (SELECT query_id, neighbor_id,
       |  list_dot_product(qv, cv) /
       |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
       |    AS sim
       |  FROM q, c WHERE query_id <> neighbor_id),
       |r AS (SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM s)""".stripMargin

  private val annSql =
    s"""WITH $annTopkCtes
       |SELECT query_id, rank, neighbor_id FROM r
       |WHERE rank <= $AnnK""".stripMargin

  /** Hard-negative oracle: the brute-force CTE chain retrieved 2k
    * deep, same-label pairs excluded (IS DISTINCT FROM — the engine's
    * anti-join on an equality filter keeps null-label rows as
    * negatives too), remainder re-ranked by retrieval order, top k.
    */
  private val hardNegSql =
    s"""WITH $annTopkCtes,
       |hrk AS (SELECT query_id, neighbor_id, rank FROM r
       |  WHERE rank <= ${2 * AnnK}),
       |hql AS (SELECT vec_id AS query_id, label AS q_label
       |  FROM embeddings WHERE vec_id < $AnnNumQueries),
       |hnl AS (SELECT vec_id AS neighbor_id, label AS n_label
       |  FROM embeddings),
       |hneg AS (SELECT t.query_id, t.neighbor_id, t.rank FROM hrk t
       |  JOIN hql USING (query_id) JOIN hnl USING (neighbor_id)
       |  WHERE n_label IS DISTINCT FROM q_label),
       |hrr AS (SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rank) AS nrank
       |  FROM hneg)
       |SELECT query_id, nrank AS rank, neighbor_id FROM hrr
       |WHERE nrank <= $AnnK""".stripMargin

  /** Hybrid retrieval oracle: the text_search_topk lexical list and a
    * single-query brute-force cosine list, fused by reciprocal-rank —
    * `Σ 1/(rrfK + rank)` per candidate, ties neighbor-id-ascending.
    * The 1/x literal is CAST(...) AS DOUBLE (DuckDB parses `1.0` as
    * DECIMAL and folds differently); each candidate sums at most two
    * doubles, and two-double addition is commutative, so the rrf value
    * is bit-identical in both engines regardless of task order.
    */
  /** Conjunctive tf·idf top-k oracle — shared by `text_search_topk`
    * and its TVF twin `sql_text_search_tvf` (lazy: interpolates CTE
    * fragments declared nearby — the incrSimhashSql precedent).
    */
  private lazy val textSearchTopkSql =
    s"""WITH $termTfCte,
       |tfs AS (SELECT * FROM tfq WHERE term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |${tfidfScoredCte("tfs")},
       |m AS (SELECT doc_id, count(*) AS nm,
       |  CAST(sum(score) AS BIGINT) AS score
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, score FROM m WHERE nm = ${SearchTerms.size}
       |ORDER BY score DESC, doc_id LIMIT $SearchK""".stripMargin

  /** BM25 oracle — shared by `text_search_bm25` and its TVF twin.
    * Each per-term score chain is spelled CHARACTER-IDENTICALLY to
    * the engine's; the per-doc sum folds in sorted term order.
    */
  private lazy val bm25Sql =
    s"""WITH $termTfCte,
       |bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |  FROM tfq GROUP BY doc_id),
       |bsl AS (SELECT t.doc_id, t.term, t.tf, d.dl
       |  FROM tfq t JOIN bdl d USING (doc_id)
       |  WHERE t.term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |bdf AS (SELECT term, count(*) AS df FROM bsl
       |  GROUP BY term),
       |btot AS (SELECT CAST(sum(tf) AS BIGINT) AS sumdl
       |  FROM tfq),
       |bn AS (SELECT count(*) AS n_docs FROM documents),
       |bs AS (SELECT doc_id, term,
       |  $bm25ScoreSql AS s
       |  FROM bsl JOIN bdf USING (term), btot, bn),
       |bagg AS (SELECT doc_id,
       |  list_sum(list(s ORDER BY term)) AS score
       |  FROM bs GROUP BY doc_id)
       |SELECT doc_id, score FROM bagg
       |ORDER BY score DESC, doc_id LIMIT $SearchK""".stripMargin

  /** Panel BM25 oracle (`more_like_this_bm25`): the tfidf-keyword
    * panel from mltSql's qt CTE, scored per (query, doc) by the BM25
    * chain spelled character-identically to the engine's, summed in
    * sorted term order, ranked per query. df over the matched sliver
    * IS the exact corpus df (every doc containing a panel term
    * survives the semi-join).
    */
  private lazy val mltBm25Sql =
    s"""WITH $termTfCte,
       |${tfidfScoredCte("tfq")},
       |kw AS (SELECT doc_id, term, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, term) AS krank
       |  FROM sc),
       |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM kw
       |  WHERE krank <= $TfidfK AND doc_id < $MltQueries),
       |bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |  FROM tfq GROUP BY doc_id),
       |bsl AS (SELECT t.doc_id, t.term, t.tf, d.dl
       |  FROM tfq t JOIN bdl d USING (doc_id)
       |  WHERE t.term IN (SELECT term FROM qt)),
       |bdf AS (SELECT term, count(*) AS df FROM bsl
       |  GROUP BY term),
       |btot AS (SELECT CAST(sum(tf) AS BIGINT) AS sumdl
       |  FROM tfq),
       |bn AS (SELECT count(*) AS n_docs FROM documents),
       |bs AS (SELECT q.query_id, t.doc_id, t.term,
       |  $bm25ScoreSql AS s
       |  FROM bsl t JOIN bdf USING (term) JOIN qt q USING (term),
       |    btot, bn),
       |bagg AS (SELECT query_id, doc_id,
       |  list_sum(list(s ORDER BY term)) AS score
       |  FROM bs GROUP BY query_id, doc_id),
       |brk AS (SELECT query_id, doc_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM bagg)
       |SELECT query_id, rank, doc_id AS neighbor_id FROM brk
       |WHERE rank <= $MltK""".stripMargin

  /** Hybrid BM25+cosine oracle (`hybrid_bm25_rrf`): bm25Sql's scoring
    * chain produces the lexical top-k, hybridRrfSql's vector/fusion
    * CTEs do the rest — the standard hybrid-serving configuration
    * with BM25 as the lexical arm.
    */
  private lazy val hybridBm25RrfSql =
    s"""WITH $termTfCte,
       |bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |  FROM tfq GROUP BY doc_id),
       |bsl AS (SELECT t.doc_id, t.term, t.tf, d.dl
       |  FROM tfq t JOIN bdl d USING (doc_id)
       |  WHERE t.term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |bdf AS (SELECT term, count(*) AS df FROM bsl
       |  GROUP BY term),
       |btot AS (SELECT CAST(sum(tf) AS BIGINT) AS sumdl
       |  FROM tfq),
       |bn AS (SELECT count(*) AS n_docs FROM documents),
       |bs AS (SELECT doc_id, term,
       |  $bm25ScoreSql AS s
       |  FROM bsl JOIN bdf USING (term), btot, bn),
       |bagg AS (SELECT doc_id,
       |  list_sum(list(s ORDER BY term)) AS score
       |  FROM bs GROUP BY doc_id),
       |lexk AS (SELECT doc_id, score FROM bagg
       |  ORDER BY score DESC, doc_id LIMIT $SearchK),
       |lex AS (SELECT CAST($HybridQueryId AS BIGINT) AS query_id,
       |  doc_id AS neighbor_id,
       |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM lexk),
       |hq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id = $HybridQueryId),
       |hc AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
       |  FROM embeddings),
       |hs AS (SELECT query_id, neighbor_id,
       |  list_dot_product(qv, cv) /
       |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
       |    AS sim
       |  FROM hq, hc WHERE query_id <> neighbor_id),
       |hr AS (SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM hs),
       |u AS (SELECT query_id, neighbor_id, rank FROM lex
       |  UNION ALL
       |  SELECT query_id, neighbor_id, rank FROM hr
       |  WHERE rank <= $SearchK),
       |f AS (SELECT query_id, neighbor_id,
       |  sum(CAST(1 AS DOUBLE) / ($RrfK + rank)) AS rrf
       |  FROM u GROUP BY query_id, neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, rrf, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
       |  FROM f)
       |SELECT query_id, rank, neighbor_id, rrf FROM rk
       |WHERE rank <= $SearchK""".stripMargin

  /** Recipe-retrieval oracle (`pipeline_spec_retrieval`): the BM25
    * chain spelled character-identically to bm25Sql's, but every
    * corpus-derived statistic (dl, df, sumdl, n_docs) computed over
    * the CURATED base (the lang-filter survivors) — the whole point of
    * the recipe stage — retrieved 2k deep, then the hard-negative
    * exclusion (source = positive label dropped, IS DISTINCT FROM so
    * null-label docs stay negatives) and the retrieval-order re-rank.
    */
  private lazy val specRetrievalSql =
    s"""WITH lang AS ($langIdSql),
       |base AS (SELECT d.doc_id, d.source, d.text FROM documents d
       |  JOIN lang USING (doc_id) WHERE predicted_lang = 'en'),
       |${wordsCteFrom("base")},
       |dtq AS (SELECT doc_id, unnest(ws) AS term FROM words),
       |tfq AS (SELECT doc_id, term, count(*) AS tf FROM dtq
       |  WHERE term <> '' GROUP BY doc_id, term),
       |bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |  FROM tfq GROUP BY doc_id),
       |bsl AS (SELECT t.doc_id, t.term, t.tf, d.dl
       |  FROM tfq t JOIN bdl d USING (doc_id)
       |  WHERE t.term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |bdf AS (SELECT term, count(*) AS df FROM bsl
       |  GROUP BY term),
       |btot AS (SELECT CAST(sum(tf) AS BIGINT) AS sumdl
       |  FROM tfq),
       |bn AS (SELECT count(*) AS n_docs FROM base),
       |bs AS (SELECT doc_id, term,
       |  $bm25ScoreSql AS s
       |  FROM bsl JOIN bdf USING (term), btot, bn),
       |bagg AS (SELECT doc_id,
       |  list_sum(list(s ORDER BY term)) AS score
       |  FROM bs GROUP BY doc_id),
       |brk AS (SELECT doc_id, row_number() OVER (
       |    ORDER BY score DESC, doc_id) AS rank FROM bagg),
       |hrk AS (SELECT CAST(0 AS BIGINT) AS query_id,
       |  doc_id AS neighbor_id, rank FROM brk
       |  WHERE rank <= ${2 * SearchK}),
       |hneg AS (SELECT h.query_id, h.neighbor_id, h.rank FROM hrk h
       |  JOIN base b ON b.doc_id = h.neighbor_id
       |  WHERE b.source IS DISTINCT FROM 'src0'),
       |hrr AS (SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rank) AS nrank FROM hneg)
       |SELECT query_id, nrank AS rank, neighbor_id FROM hrr
       |WHERE nrank <= $SearchK""".stripMargin

  /** Exact-phrase oracle — shared by `text_phrase_search` and its
    * TVF twin `sql_phrase_tvf`.
    */
  private lazy val phraseSql =
    s"""WITH $wordsCte,
       |g AS (SELECT doc_id, len(list_filter(
       |  list_transform(range(1, len(ws)),
       |    i -> array_to_string(ws[i:i+1], ' ')),
       |  x -> x = 'batch batch')) AS n_hits FROM words)
       |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits FROM g
       |WHERE n_hits > 0""".stripMargin

  /** First-hit context-window oracle — shared by `search_snippets`
    * and its TVF twin `sql_snippets_tvf`.
    */
  private lazy val snippetsSql =
    s"""WITH $wordsCte,
       |sp AS (SELECT doc_id, ws, least(${SearchTerms.map(t =>
           s"coalesce(nullif(list_position(ws, '$t'), 0), " +
             "9223372036854775807)").mkString(", ")}) AS pos
       |  FROM words)
       |SELECT doc_id, pos, array_to_string(
       |  ws[CAST(greatest(1, pos - 4) AS BIGINT):
       |     CAST(pos + 4 AS BIGINT)], ' ') AS snippet
       |FROM sp WHERE pos <> 9223372036854775807""".stripMargin

  /** Index-served conjunctive retrieval oracle — shared by
    * `text_search_from_index` and its TVF twin
    * `sql_index_search_tvf`: candidates replay the capped posting
    * lists, df comes from the index, scoring identical to the scan
    * path.
    */
  private lazy val fromIndexSql =
    s"""WITH $termTfCte,
       |idx AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
       |post AS (SELECT term, doc_id,
       |  row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1
       |    AS slot
       |  FROM tfq),
       |qpost AS (SELECT term, doc_id FROM post
       |  WHERE slot < $InvIdxMaxPostings AND term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |cand AS (SELECT DISTINCT doc_id FROM qpost),
       |ntot AS (SELECT count(*) AS n_docs FROM documents),
       |ctf AS (SELECT t.doc_id, t.term, t.tf FROM tfq t
       |  JOIN cand c ON t.doc_id = c.doc_id
       |  WHERE t.term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |m AS (SELECT doc_id, count(*) AS nm,
       |  CAST(sum(tf * ((n_docs * 1000000) // df)) AS BIGINT)
       |    AS score
       |  FROM ctf JOIN idx USING (term), ntot GROUP BY doc_id)
       |SELECT doc_id, score FROM m WHERE nm = ${SearchTerms.size}
       |ORDER BY score DESC, doc_id LIMIT $SearchK""".stripMargin

  /** Index-served BM25 oracle — shared by `bm25_from_index` and its
    * TVF twin `sql_index_bm25_tvf`.
    */
  private lazy val bm25FromIndexSql =
    s"""WITH $termTfCte,
       |idx AS (SELECT term, count(*) AS df FROM tfq
       |  GROUP BY term),
       |post AS (SELECT term, doc_id,
       |  row_number() OVER (PARTITION BY term ORDER BY doc_id)
       |    - 1 AS slot
       |  FROM tfq),
       |qpost AS (SELECT term, doc_id FROM post
       |  WHERE slot < $InvIdxMaxPostings AND term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |cand AS (SELECT DISTINCT doc_id FROM qpost),
       |bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |  FROM tfq GROUP BY doc_id),
       |btot AS (SELECT CAST(sum(tf) AS BIGINT) AS sumdl
       |  FROM tfq),
       |bn AS (SELECT count(*) AS n_docs FROM documents),
       |ctf AS (SELECT t.doc_id, t.term, t.tf, d.dl
       |  FROM tfq t JOIN cand c ON t.doc_id = c.doc_id
       |  JOIN bdl d ON t.doc_id = d.doc_id
       |  WHERE t.term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |bs AS (SELECT doc_id, term,
       |  $bm25ScoreSql AS s
       |  FROM ctf JOIN idx USING (term), btot, bn),
       |bagg AS (SELECT doc_id,
       |  list_sum(list(s ORDER BY term)) AS score
       |  FROM bs GROUP BY doc_id)
       |SELECT doc_id, score FROM bagg
       |ORDER BY score DESC, doc_id LIMIT $SearchK""".stripMargin

  /** Recipe-hybrid oracle (`pipeline_spec_hybrid`): hybridRrfSql's
    * two-arm chain with BOTH arms' candidate sets pruned to the
    * curated base — the lexical tf·idf statistics (df, n_docs)
    * recompute over the survivors, and the vector candidates semi-join
    * to the surviving doc ids. Fusion identical.
    */
  private lazy val specHybridSql =
    s"""WITH lang AS ($langIdSql),
       |base AS (SELECT d.doc_id, d.text FROM documents d
       |  JOIN lang USING (doc_id) WHERE predicted_lang = 'en'),
       |${wordsCteFrom("base")},
       |dtq AS (SELECT doc_id, unnest(ws) AS term FROM words),
       |tfq AS (SELECT doc_id, term, count(*) AS tf FROM dtq
       |  WHERE term <> '' GROUP BY doc_id, term),
       |tfs AS (SELECT * FROM tfq WHERE term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |ntot AS (SELECT count(*) AS n_docs FROM base),
       |dfq AS (SELECT doc_id, term, tf,
       |  count(*) OVER (PARTITION BY term) AS df FROM tfs),
       |sc AS (SELECT doc_id, term, tf, df,
       |  tf * ((n_docs * ${graft.operators.TextSearch.IdfScale}) // df)
       |    AS score
       |  FROM dfq, ntot),
       |m AS (SELECT doc_id, count(*) AS nm,
       |  CAST(sum(score) AS BIGINT) AS score
       |  FROM sc GROUP BY doc_id),
       |lexk AS (SELECT doc_id, score FROM m
       |  WHERE nm = ${SearchTerms.size}
       |  ORDER BY score DESC, doc_id LIMIT $SearchK),
       |lex AS (SELECT CAST($HybridQueryId AS BIGINT) AS query_id,
       |  doc_id AS neighbor_id,
       |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM lexk),
       |hq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id = $HybridQueryId),
       |hc AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
       |  FROM embeddings e JOIN base b ON b.doc_id = e.vec_id),
       |hs AS (SELECT query_id, neighbor_id,
       |  list_dot_product(qv, cv) /
       |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
       |    AS sim
       |  FROM hq, hc WHERE query_id <> neighbor_id),
       |hr AS (SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM hs),
       |u AS (SELECT query_id, neighbor_id, rank FROM lex
       |  UNION ALL
       |  SELECT query_id, neighbor_id, rank FROM hr
       |  WHERE rank <= $SearchK),
       |f AS (SELECT query_id, neighbor_id,
       |  sum(CAST(1 AS DOUBLE) / ($RrfK + rank)) AS rrf
       |  FROM u GROUP BY query_id, neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, rrf, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
       |  FROM f)
       |SELECT query_id, rank, neighbor_id, rrf FROM rk
       |WHERE rank <= $SearchK""".stripMargin

  private val hybridRrfSql =
    s"""WITH $termTfCte,
       |tfs AS (SELECT * FROM tfq WHERE term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |${tfidfScoredCte("tfs")},
       |m AS (SELECT doc_id, count(*) AS nm,
       |  CAST(sum(score) AS BIGINT) AS score
       |  FROM sc GROUP BY doc_id),
       |lexk AS (SELECT doc_id, score FROM m
       |  WHERE nm = ${SearchTerms.size}
       |  ORDER BY score DESC, doc_id LIMIT $SearchK),
       |lex AS (SELECT CAST($HybridQueryId AS BIGINT) AS query_id,
       |  doc_id AS neighbor_id,
       |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM lexk),
       |hq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id = $HybridQueryId),
       |hc AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
       |  FROM embeddings),
       |hs AS (SELECT query_id, neighbor_id,
       |  list_dot_product(qv, cv) /
       |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
       |    AS sim
       |  FROM hq, hc WHERE query_id <> neighbor_id),
       |hr AS (SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM hs),
       |u AS (SELECT query_id, neighbor_id, rank FROM lex
       |  UNION ALL
       |  SELECT query_id, neighbor_id, rank FROM hr
       |  WHERE rank <= $SearchK),
       |f AS (SELECT query_id, neighbor_id,
       |  sum(CAST(1 AS DOUBLE) / ($RrfK + rank)) AS rrf
       |  FROM u GROUP BY query_id, neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, rrf, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
       |  FROM f)
       |SELECT query_id, rank, neighbor_id, rrf FROM rk
       |WHERE rank <= $SearchK""".stripMargin

  /** More-like-this oracle: the tfidf-keyword CTE picks each panel
    * doc's top terms (score desc, term asc — text_tfidf_keywords'
    * rank), then every (query, doc) pair sums the exact integer tf·idf
    * of the query terms the doc contains (OR semantics), ranked per
    * query. The engine ranks the bigint score through a lossless
    * double cast (≤ |terms| addends, each far below 2^53), so the
    * order is identical.
    */
  private lazy val mltSql =
    s"""WITH $termTfCte,
       |${tfidfScoredCte("tfq")},
       |kw AS (SELECT doc_id, term, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, term) AS krank
       |  FROM sc),
       |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM kw
       |  WHERE krank <= $TfidfK AND doc_id < $MltQueries),
       |ms AS (SELECT q.query_id, s.doc_id,
       |  CAST(sum(s.score) AS BIGINT) AS score
       |  FROM sc s JOIN qt q USING (term)
       |  GROUP BY q.query_id, s.doc_id),
       |mrk AS (SELECT query_id, doc_id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rank
       |  FROM ms)
       |SELECT query_id, rank, neighbor_id FROM mrk
       |WHERE rank <= $MltK""".stripMargin

  /** Pseudo-relevance-feedback oracle: the conjunctive seed top-PrfM
    * (text_search_topk's chain over the full-corpus sc), the seed
    * docs' top-TfidfK keywords, the expanded term set unioned with
    * the original terms, then the disjunctive batch scoring — every
    * stage reuses the one full-corpus `sc` CTE, exactly as the engine
    * reuses its integer tf·idf math across the three operators.
    */
  private lazy val prfSql =
    s"""WITH $termTfCte,
       |${tfidfScoredCte("tfq")},
       |seedm AS (SELECT doc_id, count(*) AS nm,
       |  CAST(sum(score) AS BIGINT) AS score
       |  FROM sc WHERE term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY doc_id),
       |seed AS (SELECT doc_id FROM seedm
       |  WHERE nm = ${SearchTerms.size}
       |  ORDER BY score DESC, doc_id LIMIT $PrfM),
       |kw AS (SELECT doc_id, term, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, term) AS krank
       |  FROM sc),
       |qterms AS (SELECT DISTINCT term FROM (
       |  SELECT term FROM kw JOIN seed USING (doc_id)
       |  WHERE krank <= $TfidfK
       |  UNION ALL
       |  SELECT unnest([${SearchTerms.map(t => s"'$t'")
           .mkString(", ")}]) AS term)),
       |ms AS (SELECT s.doc_id, CAST(sum(s.score) AS BIGINT) AS score
       |  FROM sc s JOIN qterms USING (term) GROUP BY s.doc_id),
       |mrk AS (SELECT CAST(0 AS BIGINT) AS query_id,
       |  doc_id AS neighbor_id, row_number() OVER (
       |    ORDER BY score DESC, doc_id) AS rank
       |  FROM ms)
       |SELECT query_id, rank, neighbor_id FROM mrk
       |WHERE rank <= $SearchK""".stripMargin

  /** Multi-query hybrid oracle: the more_like_this CTE chain (lexical
    * panel lists) unioned with the brute-force cosine CTE chain
    * (`annTopkCtes` ranks vec_id < AnnNumQueries; the fusion filters
    * to the MLT panel), fused by the same reciprocal-rank formula.
    * CTE namespaces are disjoint (words/tfq/sc/kw/qt/ms/mrk vs
    * q/c/s/r). Still at most two double addends per candidate.
    */
  private lazy val hybridMltSql =
    s"""WITH $termTfCte,
       |${tfidfScoredCte("tfq")},
       |kw AS (SELECT doc_id, term, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, term) AS krank
       |  FROM sc),
       |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM kw
       |  WHERE krank <= $TfidfK AND doc_id < $MltQueries),
       |ms AS (SELECT q.query_id, s.doc_id,
       |  CAST(sum(s.score) AS BIGINT) AS score
       |  FROM sc s JOIN qt q USING (term)
       |  GROUP BY q.query_id, s.doc_id),
       |mrk AS (SELECT query_id, doc_id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rank
       |  FROM ms),
       |$annTopkCtes,
       |u AS (SELECT query_id, neighbor_id, rank FROM mrk
       |  WHERE rank <= $MltK
       |  UNION ALL
       |  SELECT query_id, neighbor_id, rank FROM r
       |  WHERE rank <= $MltK AND query_id < $MltQueries),
       |f AS (SELECT query_id, neighbor_id,
       |  sum(CAST(1 AS DOUBLE) / ($RrfK + rank)) AS rrf
       |  FROM u GROUP BY query_id, neighbor_id),
       |frk AS (SELECT query_id, neighbor_id, rrf, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
       |  FROM f)
       |SELECT query_id, rank, neighbor_id, rrf FROM frk
       |WHERE rank <= $MltK""".stripMargin

  /** Served hybrid twin: the SAME RRF fusion, but both retrievers run
    * from their index layouts — lexical candidates from the capped
    * inverted index (the text_search_from_index chain; its candidate
    * CTE is renamed `lcand` because the IVF body owns `cand`), the
    * vector list from the IVF assign/probe/rank body. The IVF oracle
    * ranks the standard query panel and the fusion filters to the one
    * hybrid query — identical rows to the engine's single-query probe.
    */
  private lazy val hybridFromIndexSql =
    s"""WITH $termTfCte,
       |idx AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
       |post AS (SELECT term, doc_id,
       |  row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1
       |    AS slot
       |  FROM tfq),
       |qpost AS (SELECT term, doc_id FROM post
       |  WHERE slot < $InvIdxMaxPostings AND term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |lcand AS (SELECT DISTINCT doc_id FROM qpost),
       |ntot AS (SELECT count(*) AS n_docs FROM documents),
       |ctf AS (SELECT t.doc_id, t.term, t.tf FROM tfq t
       |  JOIN lcand c ON t.doc_id = c.doc_id
       |  WHERE t.term IN
       |  (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |m AS (SELECT doc_id, count(*) AS nm,
       |  CAST(sum(tf * ((n_docs * ${graft.operators.TextSearch.IdfScale})
       |    // df)) AS BIGINT) AS score
       |  FROM ctf JOIN idx USING (term), ntot GROUP BY doc_id),
       |lexk AS (SELECT doc_id, score FROM m
       |  WHERE nm = ${SearchTerms.size}
       |  ORDER BY score DESC, doc_id LIMIT $SearchK),
       |lex AS (SELECT CAST($HybridQueryId AS BIGINT) AS query_id,
       |  doc_id AS neighbor_id,
       |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM lexk),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$ivfBody,
       |u AS (SELECT query_id, neighbor_id, rank FROM lex
       |  UNION ALL
       |  SELECT query_id, neighbor_id, rank FROM r
       |  WHERE rank <= $SearchK AND query_id = $HybridQueryId),
       |f AS (SELECT query_id, neighbor_id,
       |  sum(CAST(1 AS DOUBLE) / ($RrfK + rank)) AS rrf
       |  FROM u GROUP BY query_id, neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, rrf, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
       |  FROM f)
       |SELECT query_id, rank, neighbor_id, rrf FROM rk
       |WHERE rank <= $SearchK""".stripMargin

  /** Product-quantization chain ending in `pqr(query_id, neighbor_id,
    * rank)` — replays [[graft.functions.PqOps]] exactly: seeded-hash
    * codebook (the PqKsub smallest-hash vectors), per-subspace argmin
    * encode (ties to the lowest code), per-query LUT, ADC scores summed
    * j-ascending via materialized lists (list_transform THEN list_sum, so
    * neither engine can fuse a multiply-add — the FMA lesson from the
    * correlation oracle), ranks by (distance asc, id asc). CTE names are
    * pq-prefixed so the chain composes with `annTopkCtes` in one WITH
    * for the recall audit.
    */
  private val pqCtes = {
    val h = StableHash.hash60Sql("CAST(vec_id AS VARCHAR)")
    val sub = s"""list_sum(list_transform(range(1, ${PqDsub + 1}), t ->
       |      (a.v[CAST(jj*$PqDsub + t AS INT)]
       |         - b.cv[CAST(jj*$PqDsub + t AS INT)])
       |      * (a.v[CAST(jj*$PqDsub + t AS INT)]
       |         - b.cv[CAST(jj*$PqDsub + t AS INT)])))""".stripMargin
    s"""pe0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |pe1 AS (SELECT vec_id, v0,
       |    sqrt(list_sum(list_transform(v0, x -> x * x))) AS nrm
       |  FROM pe0),
       |pe AS (SELECT vec_id, CASE WHEN nrm = 0 THEN v0
       |    ELSE list_transform(v0, x -> x / nrm) END AS v
       |  FROM pe1),
       |pcb AS (SELECT code, cv FROM (
       |    SELECT row_number() OVER (ORDER BY $h, vec_id) - 1 AS code,
       |      v AS cv FROM pe)
       |  WHERE code < $PqKsub),
       |pjs AS (SELECT unnest(range(0, $PqM)) AS jj),
       |pdist AS (SELECT a.vec_id, jj, b.code, $sub AS d2
       |  FROM pe a, pjs, pcb b),
       |pcodes AS (SELECT vec_id, list(code ORDER BY jj) AS codes FROM (
       |    SELECT vec_id, jj, code, row_number() OVER (
       |      PARTITION BY vec_id, jj ORDER BY d2, code) AS rn FROM pdist)
       |  WHERE rn = 1 GROUP BY vec_id),
       |plutq AS (SELECT a.vec_id AS query_id, jj, b.code, $sub AS d2
       |  FROM pe a, pjs, pcb b WHERE a.vec_id < $AnnNumQueries),
       |plut AS (SELECT query_id, list(d2 ORDER BY jj, code) AS lut
       |  FROM plutq GROUP BY query_id),
       |pscored AS (SELECT l.query_id, c.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(0, $PqM), j ->
       |      l.lut[CAST(j*$PqKsub AS INT)
       |            + c.codes[CAST(j AS INT) + 1] + 1])) AS dist
       |  FROM pcodes c, plut l WHERE l.query_id <> c.vec_id),
       |pqr AS (SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rank
       |  FROM pscored)""".stripMargin
  }

  private val pqSql =
    s"""WITH $pqCtes
       |SELECT query_id, rank, neighbor_id FROM pqr
       |WHERE rank <= $AnnK""".stripMargin

  /** IVF+PQ composed oracle (r18): fixed-k hash-rank centroids prune to
    * 4 probed clusters per query (the `ivfFixedSql` shape, RAW-vector
    * cosine), then ADC over [[pqCtes]]'s codes/LUT ranks only the probed
    * members — replays [[Similarity.ivfTopKPq]] end to end.
    */
  private lazy val ivfPqSql = {
    val h = StableHash.hash60Sql("vec_id::VARCHAR")
    s"""WITH $pqCtes,
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
       |  FROM e ORDER BY $h, centroid_id LIMIT $IvfFixedK),
       |iasg AS (SELECT vec_id, cluster FROM (
       |  SELECT e.vec_id, c.centroid_id AS cluster, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |      list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v))
       |        * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |      c.centroid_id) AS rn
       |  FROM e, cent c) WHERE rn = 1),
       |iprobe AS (SELECT query_id, cluster FROM (
       |  SELECT q.vec_id AS query_id, c.centroid_id AS cluster,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_dot_product(q.v, c.cv) / (sqrt(list_dot_product(q.v, q.v))
       |        * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |      c.centroid_id) AS rn
       |  FROM e q, cent c WHERE q.vec_id < $AnnNumQueries) WHERE rn <= 4),
       |iscored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(0, $PqM), j ->
       |      l.lut[CAST(j*$PqKsub AS INT)
       |            + c.codes[CAST(j AS INT) + 1] + 1])) AS dist
       |  FROM iprobe p JOIN iasg a USING (cluster)
       |  JOIN pcodes c ON c.vec_id = a.vec_id
       |  JOIN plut l ON l.query_id = p.query_id
       |  WHERE p.query_id <> a.vec_id),
       |ir AS (SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rank
       |  FROM iscored)
       |SELECT query_id, rank, neighbor_id FROM ir
       |WHERE rank <= $AnnK""".stripMargin
  }

  /** Recall@k of the PQ path vs the exact baseline, both replayed. */
  private val pqRecallSql =
    s"""WITH $annTopkCtes,
       |$pqCtes,
       |ex AS (SELECT query_id, neighbor_id FROM r WHERE rank <= $AnnK),
       |ap AS (SELECT query_id, neighbor_id FROM pqr WHERE rank <= $AnnK)
       |SELECT ex.query_id, count(*) AS n_exact,
       |  CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |FROM ex LEFT JOIN ap
       |  ON ex.query_id = ap.query_id
       |  AND ex.neighbor_id = ap.neighbor_id
       |GROUP BY ex.query_id""".stripMargin

  /** kNN label-agreement oracle: the same top-k, labels joined for both
    * endpoints, integer counts + one final division.
    */
  private val annLabelSql =
    s"""WITH $annTopkCtes
       |SELECT r.query_id, ql.label,
       |  count(*) AS n_neighbors,
       |  CAST(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_same,
       |  CAST(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS agreement
       |FROM r
       |JOIN embeddings nl ON r.neighbor_id = nl.vec_id
       |JOIN embeddings ql ON r.query_id = ql.vec_id
       |WHERE r.rank <= $AnnK
       |GROUP BY r.query_id, ql.label""".stripMargin

  /** int8 quantize→dequantize chain ending in `e(vec_id, v)` over the
    * reconstructed vectors — swap it for the plain `e` CTE to run any
    * vector oracle over the 4x-compressed storage path (same arithmetic
    * as annQuantSql: floor-spelled round-half-up, FLOAT-exact casts).
    */
  /** The same chain over any `(vec_id, v DOUBLE[])` relation, so the
    * composed embedding pipeline can quantize its VALIDATED subset with
    * the identical fragment.
    */
  private def dequantVecCtesOver(src: String) =
    s"""sc0 AS (SELECT vec_id, v,
       |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       |  FROM $src),
       |qz0 AS (SELECT vec_id, scale,
       |    list_transform(v, x -> CAST(floor(CASE WHEN scale = 0
       |      THEN 0.0 ELSE x / scale + 0.5 END) AS INT)) AS q
       |  FROM sc0),
       |e AS (SELECT vec_id, list_transform(q,
       |    qq -> CAST(CAST(CAST(qq AS DOUBLE) * scale AS FLOAT)
       |      AS DOUBLE)) AS v
       |  FROM qz0)""".stripMargin

  private val dequantVecCtes =
    s"""raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${dequantVecCtesOver("raw")}""".stripMargin

  /** IVF search body over an `e(vec_id, v)` CTE: deterministic seeded
    * centroids, nearest-centroid assignment, 4-probe candidate join,
    * per-query rank — shared by the plain and quantized-index oracles.
    */
  /** IVF search body (assign → probe → rank) over `e(vec_id, v)` and a
    * `cent(centroid_id, cv)` CTE supplied by the caller — shared by the
    * seeded, quantized-index, and kmeans-trained oracles.
    */
  private val ivfBodyNoCent =
    s"""asg AS (SELECT vec_id, v, centroid_id AS cluster FROM (
       |  SELECT e.vec_id, e.v, c.centroid_id, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |      list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v))
       |        * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |      c.centroid_id) AS rn
       |  FROM e, cent c) WHERE rn = 1),
       |probe AS (SELECT query_id, qv, cluster FROM (
       |  SELECT q.vec_id AS query_id, q.v AS qv,
       |    c.centroid_id AS cluster, row_number() OVER (
       |      PARTITION BY q.vec_id ORDER BY
       |      list_dot_product(q.v, c.cv) / (sqrt(list_dot_product(q.v, q.v))
       |        * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |      c.centroid_id) AS rn
       |  FROM e q, cent c WHERE q.vec_id < $AnnNumQueries) WHERE rn <= 4),
       |cand AS (SELECT p.query_id, p.qv, a.vec_id, a.v
       |  FROM probe p JOIN asg a USING (cluster)
       |  WHERE p.query_id <> a.vec_id),
       |r AS (SELECT query_id, vec_id AS neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY
       |    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv))
       |      * sqrt(list_dot_product(v, v))) DESC, vec_id) AS rank
       |  FROM cand)""".stripMargin

  /** IVF serving nlist — FIXED (r18): the six IVF-serving rows
    * (ann_ivf_topk, ann_ivf_quantized_topk, ann_recall_audit,
    * pipeline_embedding_index, hybrid_search_from_index,
    * sql_ivf_probe_tvf) seeded `every = 50` until the factor-100
    * curve measured the consequence: nlist grew with the corpus, so
    * ivfAssign's centroid BROADCAST grew with the corpus and the
    * assignment work went corpus × corpus/50 quadratic
    * (sql_ivf_probe_tvf ×257 at f100 vs the fixed-k trained row's
    * ×3.5). Seeds are now the IvfK smallest stable-hash rows — same
    * spelling as ann_ivf_fixed_nlist (k=20) and the r18 kmeans
    * re-spell; 32 keeps this family a distinct configuration from
    * the fixed-nlist row. nprobe stays 4, so serving touches ~4/32
    * of the corpus per query at any scale.
    */
  private val IvfK = 32

  private lazy val ivfBody =
    s"""cent AS (SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
       |  FROM e
       |  ORDER BY ${graft.functions.StableHash.hash60Sql(
                      "vec_id::VARCHAR")}, centroid_id
       |  LIMIT $IvfK),
       |$ivfBodyNoCent""".stripMargin

  private val ivfSelect =
    s"""SELECT query_id, rank, neighbor_id FROM r
       |WHERE rank <= $AnnK""".stripMargin

  private val ivfSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |    FROM embeddings),
       |$ivfBody
       |$ivfSelect""".stripMargin

  /** Fixed-nlist IVF (`ann_ivf_fixed_nlist`): the centroids are the k
    * smallest stable-hash rows, the exact selection `seedCentroidsK`
    * runs — nlist is exactly k at every SF instead of growing with
    * the corpus, and the selection is id-distribution-free (the r16
    * max-id/k stride collapsed on sparse id spaces).
    */
  private val IvfFixedK = 20
  private lazy val ivfFixedSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |    FROM embeddings),
       |cent AS (SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
       |  FROM e
       |  ORDER BY ${graft.functions.StableHash.hash60Sql(
                      "vec_id::VARCHAR")}, centroid_id
       |  LIMIT $IvfFixedK),
       |$ivfBodyNoCent
       |$ivfSelect""".stripMargin

  /** Kmeans-trained IVF: the self-contained index build — centroids are
    * the exact-integer sum-centroids of [[kmeansCtes]]'s final Lloyd
    * round, float-rounded exactly as Spark stores them (bigint → double
    * → float; CAST AS FLOAT is the same round-to-nearest-even), then the
    * standard IVF search body runs over them.
    */
  private def ivfTrainedSql =
    s"""WITH $kmeansCtes,
       |e AS (SELECT vec_id, v FROM raw),
       |cent AS (SELECT cid AS centroid_id,
       |    list_transform(cv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cv
       |  FROM c$KmIters),
       |$ivfBodyNoCent
       |$ivfSelect""".stripMargin

  /** Quantized-INDEX IVF: the 4x storage path composed with the
    * inverted-file search — centroids, assignment, probes, and ranking
    * all run over the reconstructed (dequantized) vectors.
    */
  private val ivfQuantSql =
    s"""WITH $dequantVecCtes,
       |$ivfBody
       |$ivfSelect""".stripMargin

  /** SemDeDup oracle: the asg CTE is the same nearest-centroid argmax the
    * IVF oracle uses (sim desc, centroid_id asc tie-break = ivfAssign's
    * max_by order), then exact pairwise cosine within each cluster.
    */
  private val semanticSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT CAST(vec_id // $SemEvery AS BIGINT) AS centroid_id,
       |  v AS cv FROM e WHERE vec_id % $SemEvery = 0),
       |asg AS (SELECT vec_id, v, centroid_id AS cluster FROM (
       |  SELECT e.vec_id, e.v, c.centroid_id, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |      list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v))
       |        * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |      c.centroid_id) AS rn
       |  FROM e, cent c) WHERE rn = 1)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM asg a JOIN asg b
       |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v)
       |    / (sqrt(list_dot_product(a.v, a.v))
       |      * sqrt(list_dot_product(b.v, b.v))) >= $SemThreshold""".stripMargin

  /** Hierarchical SemDeDup oracle: level-1 = the seedCentroidsK
    * hash-rank selection (c1) and the ivfAssign argmax (a1), level-2 =
    * per-cell k smallest-hash sub-seeds (s2) and the within-cell
    * argmax (a2), then the same exact intra-cluster cosine pairs as
    * [[semanticSql]]. Every rank uses the identical tie order the
    * Spark operator's max_by/row_number spellings use, and the kk CTE
    * reproduces assignHierarchicalAuto's sqrt sizing
    * (`k = ceil(sqrt(n / target))` — IEEE sqrt/ceil on both engines).
    */
  /** The full-corpus hierarchical-assignment CTE body (e → a2
    * `(vec_id, v, cluster)`) — reproduces assignHierarchicalAuto's
    * sqrt sizing, both hash-rank seed selections, and both argmax
    * assignments rank-for-rank. Shared by the SemDeDup-at-scale
    * oracle and the cluster-labels pipeline oracle, which consume the
    * same assignment downstream of different report bodies.
    */
  private lazy val hierAsgCtes = {
    val h = StableHash.hash60Sql("vec_id::VARCHAR")
    s"""hh AS (SELECT vec_id, v, $h AS h FROM e),
       |kk AS (SELECT CAST(ceil(sqrt(count(*) / $SemEvery.0)) AS BIGINT)
       |    AS k FROM e),
       |c1 AS (SELECT vec_id AS centroid_id, cv FROM (
       |  SELECT vec_id, v AS cv, row_number() OVER (
       |      ORDER BY h, vec_id) AS rn FROM hh), kk
       |  WHERE rn <= kk.k),
       |a1 AS (SELECT vec_id, v, h, centroid_id AS cell FROM (
       |  SELECT hh.vec_id, hh.v, hh.h, c.centroid_id, row_number() OVER (
       |      PARTITION BY hh.vec_id ORDER BY
       |      list_dot_product(hh.v, c.cv)
       |        / (sqrt(list_dot_product(hh.v, hh.v))
       |          * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |      c.centroid_id) AS rn
       |  FROM hh, c1 c) WHERE rn = 1),
       |s2 AS (SELECT cell, vec_id AS sub_id, v AS sv FROM (
       |  SELECT cell, vec_id, v, row_number() OVER (
       |      PARTITION BY cell ORDER BY h, vec_id) AS rn
       |  FROM a1), kk WHERE rn <= kk.k),
       |a2 AS (SELECT vec_id, v, sub_id AS cluster FROM (
       |  SELECT a.vec_id, a.v, s.sub_id, row_number() OVER (
       |      PARTITION BY a.vec_id ORDER BY
       |      list_dot_product(a.v, s.sv)
       |        / (sqrt(list_dot_product(a.v, a.v))
       |          * sqrt(list_dot_product(s.sv, s.sv))) DESC,
       |      s.sub_id) AS rn
       |  FROM a1 a JOIN s2 s USING (cell)) WHERE rn = 1)""".stripMargin
  }

  private lazy val semanticScaleSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$hierAsgCtes
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM a2 a JOIN a2 b
       |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v)
       |    / (sqrt(list_dot_product(a.v, a.v))
       |      * sqrt(list_dot_product(b.v, b.v))) >= $SemThreshold"""
      .stripMargin

  /** Incremental-SemDeDup oracle: the [[semanticScaleSql]] hierarchy
    * built over the CORPUS SPLIT only (hash ranks, sqrt sizing, and
    * both argmaxes computed from corp — the probe may never re-derive
    * seeds from data that includes the batch), then the batch assigned
    * through the same two levels (b1, b2) and verified against its
    * cluster's corpus members.
    */
  private lazy val semanticAgainstSql =
    s"$semanticAgainstCtes\n$semanticAgainstSelect"

  /** The hierarchy-over-corpus CTE body shared by the incremental
    * probe oracle and the semantic-decontamination oracle.
    */
  private lazy val semanticAgainstCtes = {
    val h = StableHash.hash60Sql("vec_id::VARCHAR")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |corp AS (SELECT * FROM e WHERE vec_id % $IncrMod <> 0),
       |newv AS (SELECT * FROM e WHERE vec_id % $IncrMod = 0),
       |hh AS (SELECT vec_id, v, $h AS h FROM corp),
       |kk AS (SELECT CAST(ceil(sqrt(count(*) / $SemEvery.0)) AS BIGINT)
       |    AS k FROM corp),
       |c1 AS (SELECT vec_id AS centroid_id, cv FROM (
       |  SELECT vec_id, v AS cv, row_number() OVER (
       |      ORDER BY h, vec_id) AS rn FROM hh), kk
       |  WHERE rn <= kk.k),
       |a1 AS (SELECT vec_id, v, h, centroid_id AS cell FROM (
       |  SELECT hh.vec_id, hh.v, hh.h, c.centroid_id, row_number() OVER (
       |      PARTITION BY hh.vec_id ORDER BY
       |      list_dot_product(hh.v, c.cv)
       |        / (sqrt(list_dot_product(hh.v, hh.v))
       |          * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |      c.centroid_id) AS rn
       |  FROM hh, c1 c) WHERE rn = 1),
       |s2 AS (SELECT cell, vec_id AS sub_id, v AS sv FROM (
       |  SELECT cell, vec_id, v, row_number() OVER (
       |      PARTITION BY cell ORDER BY h, vec_id) AS rn
       |  FROM a1), kk WHERE rn <= kk.k),
       |a2c AS (SELECT vec_id, v, sub_id AS cluster FROM (
       |  SELECT a.vec_id, a.v, s.sub_id, row_number() OVER (
       |      PARTITION BY a.vec_id ORDER BY
       |      list_dot_product(a.v, s.sv)
       |        / (sqrt(list_dot_product(a.v, a.v))
       |          * sqrt(list_dot_product(s.sv, s.sv))) DESC,
       |      s.sub_id) AS rn
       |  FROM a1 a JOIN s2 s USING (cell)) WHERE rn = 1),
       |b1 AS (SELECT vec_id, v, centroid_id AS cell FROM (
       |  SELECT n.vec_id, n.v, c.centroid_id, row_number() OVER (
       |      PARTITION BY n.vec_id ORDER BY
       |      list_dot_product(n.v, c.cv)
       |        / (sqrt(list_dot_product(n.v, n.v))
       |          * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |      c.centroid_id) AS rn
       |  FROM newv n, c1 c) WHERE rn = 1),
       |b2 AS (SELECT vec_id, v, sub_id AS cluster FROM (
       |  SELECT b.vec_id, b.v, s.sub_id, row_number() OVER (
       |      PARTITION BY b.vec_id ORDER BY
       |      list_dot_product(b.v, s.sv)
       |        / (sqrt(list_dot_product(b.v, b.v))
       |          * sqrt(list_dot_product(s.sv, s.sv))) DESC,
       |      s.sub_id) AS rn
       |  FROM b1 b JOIN s2 s USING (cell)) WHERE rn = 1)"""
      .stripMargin
  }

  private lazy val semanticAgainstSelect =
    s"""SELECT n.vec_id AS new_id, c.vec_id AS corpus_id
       |FROM b2 n JOIN a2c c USING (cluster)
       |WHERE list_dot_product(n.v, c.v)
       |    / (sqrt(list_dot_product(n.v, n.v))
       |      * sqrt(list_dot_product(c.v, c.v))) >= $SemThreshold"""
      .stripMargin

  /** Semantic-decontamination oracle: the [[semanticAgainstCtes]]
    * hierarchy with the roles read as decontamination — `newv` is the
    * BENCHMARK, `corp` the training corpus — rolled up into one row
    * per training doc (zeros included, so the report never collapses
    * to an empty frame on clean fixtures).
    */
  private lazy val semanticDecontamSql =
    s"""$semanticAgainstCtes,
       |pr AS ($semanticAgainstSelect)
       |SELECT c.vec_id AS corpus_id,
       |  CAST(count(pr.new_id) AS BIGINT) AS n_bench_hits,
       |  count(pr.new_id) = 0 AS kept
       |FROM corp c LEFT JOIN pr ON c.vec_id = pr.corpus_id
       |GROUP BY c.vec_id""".stripMargin

  /** Gopher-rules oracle: same metrics, same left-to-right arithmetic,
    * thresholds interpolated from the SAME GopherDefaults constants.
    */
  private val gopherSql = {
    val G = TextAnalysis.GopherDefaults
    val enPattern = TextAnalysis.StopwordPatterns.head._2
    s"""WITH t AS (SELECT doc_id, trim(text) AS t FROM documents),
       |m AS (SELECT doc_id,
       |  CAST(CASE WHEN length(t) = 0 THEN 0
       |    ELSE len(string_split_regex(t, '\\s+')) END AS BIGINT)
       |    AS n_words,
       |  CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS BIGINT)
       |    AS non_ws,
       |  CAST(len(list_filter(string_split_regex(t, '\\s+'),
       |    w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
       |  CAST(len(regexp_extract_all(lower(t), '$enPattern')) AS BIGINT)
       |    AS stop_hits
       |FROM t)
       |SELECT doc_id, n_words,
       |  CAST(non_ws AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)
       |    AS mean_word_len,
       |  CAST(alpha_words AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)
       |    AS alpha_word_frac,
       |  stop_hits AS stopword_hits,
       |  (n_words >= $GopherMinWords AND n_words <= ${G.MaxWords}
       |    AND CAST(non_ws AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)
       |      >= ${G.MinMeanWordLen}
       |    AND CAST(non_ws AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)
       |      <= ${G.MaxMeanWordLen}
       |    AND CAST(alpha_words AS DOUBLE)
       |      / CAST(greatest(n_words, 1) AS DOUBLE) >= ${G.MinAlphaWordFrac}
       |    AND stop_hits >= ${G.MinStopwordHits}) AS keep
       |FROM m""".stripMargin
  }

  private def langIdSqlFrom(from: String) = {
    val counts = TextAnalysis.StopwordPatterns.map { case (lang, p) =>
      s"len(regexp_extract_all(lower(text), '$p')) AS c_$lang"
    }.mkString(", ")
    val langs = TextAnalysis.StopwordPatterns.map(_._1)
    val best = s"greatest(${langs.map(l => s"c_$l").mkString(", ")})"
    val pick = langs.map(l =>
      s"WHEN c_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
    s"""WITH c AS (SELECT doc_id, text, $counts FROM $from)
       |SELECT doc_id,
       |  CASE WHEN len(regexp_extract_all(text,
       |      '${TextAnalysis.CjkPattern}')) > 0 THEN 'zh'
       |    ELSE CASE $pick ELSE 'und' END END AS predicted_lang
       |FROM c""".stripMargin
  }

  private val langIdSql = langIdSqlFrom("documents")

  private val qualitySql = {
    val stopPat = TextAnalysis.StopwordPatterns.head._2
    // every literal is ::DOUBLE — DuckDB otherwise types 0.4 as DECIMAL
    // and folds the weighted sum exactly, drifting 1 ulp from Spark's
    // double arithmetic
    s"""WITH m AS (SELECT doc_id,
       |  CAST(length(text) AS DOUBLE) AS n_chars,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
       |    AS n_words,
       |  CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
       |    AS n_punct,
       |  CAST(len(regexp_extract_all(lower(text), '$stopPat')) AS DOUBLE)
       |    AS n_stop
       |  FROM documents)
       |SELECT doc_id,
       |  (CASE WHEN n_chars >= 100 AND n_chars <= 20000
       |     THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END * 0.4::DOUBLE
       |   + CASE WHEN n_chars / greatest(n_words, 1.0::DOUBLE) >= 3
       |       AND n_chars / greatest(n_words, 1.0::DOUBLE) <= 12
       |     THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END * 0.3::DOUBLE
       |   + CASE WHEN n_punct / greatest(n_chars, 1.0::DOUBLE)
       |       <= 0.2::DOUBLE
       |     THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END * 0.2::DOUBLE
       |   + least(n_stop / greatest(n_words, 1.0::DOUBLE) * 2.0::DOUBLE,
       |       1.0::DOUBLE) * 0.1::DOUBLE)
       |  AS quality_score
       |FROM m""".stripMargin
  }

  private val repRatioSql =
    """WITH words AS (SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '\s+') AS ws
      |  FROM documents),
      |  sh AS (SELECT doc_id,
      |    list_transform(range(1, len(ws) - 1),
      |      i -> array_to_string(ws[i:i+2], ' ')) AS g
      |  FROM words)
      |SELECT doc_id,
      |  CASE WHEN len(g) <= 0 THEN 0.0
      |       ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
      |            / CAST(len(g) AS DOUBLE) END AS rep_ratio
      |FROM sh""".stripMargin

  /** Funnel oracle: the four per-doc stage predicates joined back onto
    * the corpus and counted cumulatively — the oracle pays four CTE
    * passes; the Spark side is the one-scan path (plan-asserted).
    */
  private val funnelSql =
    s"""WITH lang AS ($langIdSql), gop AS ($gopherSql),
       |qual AS ($qualitySql), rep AS ($repRatioSql),
       |j AS (SELECT predicted_lang = 'en' AS s1,
       |    predicted_lang = 'en' AND keep AS s2,
       |    predicted_lang = 'en' AND keep
       |      AND rep_ratio <= $FunnelRepMax::DOUBLE AS s3,
       |    predicted_lang = 'en' AND keep
       |      AND rep_ratio <= $FunnelRepMax::DOUBLE
       |      AND quality_score >= $FunnelQualityMin::DOUBLE AS s4
       |  FROM documents d JOIN lang USING (doc_id)
       |  JOIN gop USING (doc_id) JOIN qual USING (doc_id)
       |  JOIN rep USING (doc_id))
       |SELECT count(*) AS n_total,
       |  CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       |  CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
       |  CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_repetition,
       |  CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / greatest(count(*), 1) AS keep_frac
       |FROM j""".stripMargin

  private val tokenCountSql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
      |    AS ws_tokens,
      |  CAST(list_aggregate(list_transform(
      |    list_filter(string_split_regex(lower(text), '[^\w]+'),
      |      w -> length(w) > 0),
      |    w -> CAST(floor((length(w) + 3) / 4) AS BIGINT)), 'sum')
      |  + len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT)
      |    AS bpe_est_tokens
      |FROM documents""".stripMargin

  private val fingerprintSql =
    s"""WITH $wordsCte,
       |pw AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |  i -> concat_ws('#', i - 1, ws[i]))) AS pword FROM words)
       |SELECT doc_id,
       |  bit_xor(${StableHash.hash60Sql("pword")}) AS fingerprint
       |FROM pw GROUP BY doc_id""".stripMargin

  // ---- query defs ------------------------------------------------------

  /** Benchmark-decontamination oracle: distinct k-grams of the carved-out
    * "benchmark" docs vs everyone else's, inner-joined (clean docs absent).
    */
  private val decontamSql =
    s"""WITH $wordsCte, ${shinglesCte(DecontamK)},
       |bench AS (SELECT DISTINCT shingle FROM sh
       |  WHERE doc_id % $BenchMod = 0)
       |SELECT s.doc_id AS id, count(*) AS n_hits
       |FROM sh s JOIN bench b USING (shingle)
       |WHERE s.doc_id % $BenchMod <> 0
       |GROUP BY s.doc_id""".stripMargin

  /** Chunk-level dedup oracle, mirroring Dedup.chunkDupStats: fixed
    * w-word non-overlapping chunks, occurrence counts over the 60-bit
    * chunk hash, per-doc duplicated fraction.
    */
  private val chunkDupSql =
    s"""WITH $wordsCte,
       |ch AS (SELECT doc_id,
       |  unnest(list_transform(
       |    range(0, CAST(ceil(len(ws) / ${ChunkW}.0) AS BIGINT)),
       |    i -> array_to_string(ws[i*$ChunkW+1:i*$ChunkW+$ChunkW], ' ')))
       |    AS chunk FROM words),
       |hh AS (SELECT doc_id, ${StableHash.hash60Sql("chunk")} AS h
       |  FROM ch),
       |occ AS (SELECT doc_id,
       |  count(*) OVER (PARTITION BY h) AS n_occ FROM hh)
       |SELECT doc_id AS id, count(*) AS total_chunks,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS dup_chunks,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS dup_frac
       |FROM occ GROUP BY doc_id""".stripMargin

  /** Per-source token totals for the mixture plan. `from` lets the
    * composed weighted-mixture pipeline run the same fragment over its
    * survivor CTE instead of the base table.
    */
  private def mixTokCteFrom(from: String) =
    s"""tok AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+')))
       |      AS BIGINT) AS n_tokens
       |  FROM $from GROUP BY source)""".stripMargin

  private val mixTokCte = mixTokCteFrom("documents")

  /** Mixture-plan oracle: budget = min over sources of tokens/weight
    * (window over the tiny aggregated frame, same as the operator).
    */
  private val mixturePlanSql = {
    val rows = MixtureWeights.toSeq.sortBy(_._1)
      .map { case (src, wt) => s"('$src', $wt::DOUBLE)" }.mkString(", ")
    s"""WITH $mixTokCte,
       |w(source, weight) AS (VALUES $rows),
       |j AS (SELECT t.source, n_docs, n_tokens, weight
       |  FROM tok t JOIN w USING (source))
       |SELECT source, n_docs, n_tokens, weight,
       |  weight * min(CAST(n_tokens AS DOUBLE) / weight) OVER ()
       |    / CAST(n_tokens AS DOUBLE) AS sample_rate
       |FROM j""".stripMargin
  }

  /** Epoch-plan oracle: same exact-long stocks, floor(budget*weight)
    * targets, integer ceil-div epochs (`//` floors, but operands are
    * non-negative so it matches Spark's truncating `div`).
    */
  private val epochPlanSql = {
    val rows = EpochWeights.toSeq.sortBy(_._1)
      .map { case (src, wt) => s"('$src', $wt::DOUBLE)" }.mkString(", ")
    s"""WITH $mixTokCte,
       |w(source, weight) AS (VALUES $rows),
       |j AS (SELECT t.source, n_docs, n_tokens, weight
       |  FROM tok t JOIN w USING (source)),
       |p AS (SELECT *, CAST(floor($EpochBudget::DOUBLE * weight)
       |    AS BIGINT) AS target_tokens FROM j),
       |q AS (SELECT *, (target_tokens + n_tokens - 1) // n_tokens
       |    AS epochs FROM p)
       |SELECT source, n_docs, n_tokens, weight, target_tokens, epochs,
       |  CASE WHEN epochs = 0 THEN 0.0::DOUBLE
       |       ELSE CAST(target_tokens - (epochs - 1) * n_tokens AS DOUBLE)
       |         / CAST(n_tokens AS DOUBLE) END AS last_pass_frac
       |FROM q""".stripMargin
  }

  /** Recall@k oracle: the brute-force and IVF top-k oracles embedded as
    * CTEs, approximate hits left-joined onto the exact set.
    */
  private val recallAuditSql =
    s"""WITH bf AS ($annSql),
       |iv AS ($ivfSql),
       |h AS (SELECT b.query_id, count(*) AS n_exact,
       |    CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hit
       |  FROM bf b LEFT JOIN iv i ON b.query_id = i.query_id
       |    AND b.neighbor_id = i.neighbor_id
       |  GROUP BY b.query_id)
       |SELECT query_id, n_exact, n_hit,
       |  CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
       |FROM h""".stripMargin

  // sequence-packing constants: 512-token sequences, 8 parallel shards
  private val PackSeqLen = 512
  private val PackShards = 8
  // incremental dedup: doc_id % IncrMod == 0 plays the "new batch", the
  // rest the already-indexed corpus
  private val IncrMod = 10
  // vocabulary report: top 100 trigrams by instance count
  private val TopNgramK = 3
  private val TopNgramN = 100

  /** Incremental-dedup oracle: the same signature CTEs, banded, with the
    * batch side (doc_id % IncrMod = 0) joined against the corpus side.
    */
  private val incrDedupSql = {
    val bandJoins = (0 until NumBands).map { b =>
      s"""SELECT n.doc_id AS new_id, c.doc_id AS corpus_id
         |FROM banded n JOIN banded c ON n.band_$b = c.band_$b
         |WHERE n.doc_id % $IncrMod = 0 AND c.doc_id % $IncrMod <> 0"""
        .stripMargin
    }.mkString("\nUNION\n")
    val agree = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $wordsCte, ${shinglesCte(ShingleK)}, $hashCte, $sigCte,
       |banded AS (SELECT doc_id, $bandExprs FROM sig),
       |cand AS ($bandJoins)
       |SELECT c.new_id, c.corpus_id,
       |  CAST($agree AS DOUBLE) / $NumHashes AS sig_agreement
       |FROM cand c
       |JOIN sig sa ON c.new_id = sa.doc_id
       |JOIN sig sb ON c.corpus_id = sb.doc_id
       |WHERE CAST($agree AS DOUBLE) / $NumHashes >= $MinhashThreshold"""
      .stripMargin
  }

  /** Incremental exact-Jaccard oracle (shared by the in-memory and
    * published-index probe queries): grams hashed with the engine's
    * StableHash on BOTH sides, Jaccard over distinct hashed grams; the
    * oracle skips the prefix filter (sound-only pruning), so
    * hash-equality proves the engine's pruning loses no pairs.
    */
  private lazy val incrJaccardSql =
    s"""WITH $wordsCte, ${shinglesCte(JaccardK)},
       |g AS (SELECT DISTINCT doc_id AS id,
       |    ${StableHash.hash60Sql("shingle")} AS h FROM sh),
       |sz AS (SELECT id, count(*) AS sz FROM g GROUP BY id),
       |i AS (SELECT n.id AS new_id, c.id AS corpus_id,
       |    count(*) AS inter
       |  FROM g n JOIN g c ON n.h = c.h
       |  WHERE n.id % $IncrMod = 0 AND c.id % $IncrMod <> 0
       |  GROUP BY 1, 2)
       |SELECT new_id, corpus_id,
       |  CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) AS jaccard
       |FROM i JOIN sz x ON new_id = x.id
       |JOIN sz y ON corpus_id = y.id
       |WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter)
       |  >= $JaccardThreshold""".stripMargin

  /** Incremental embedding-cosine oracle (shared by the in-memory and
    * published-index probe queries): corpus-seeded hyperplane signs,
    * band collisions, exact-cosine verification. Parameterized by the
    * LSH geometry so the test-scale (16 planes / 4-bit bands) and
    * 100 TB (32 planes / 16-bit bands) configurations replay the same
    * construction.
    */
  private def incrEmbeddingSqlOf(planes: Int, bandBits: Int,
                                 report: Boolean = false) = {
    val bandJoins = (0 until planes / bandBits).map { b =>
      val sh = b * bandBits
      val mask = (1 << bandBits) - 1
      s"""SELECT n.vec_id AS new_id, c.vec_id AS corpus_id
         |FROM nsig n JOIN csig c
         |  ON ((n.sig >> $sh) & $mask) = ((c.sig >> $sh) & $mask)"""
        .stripMargin
    }.mkString("\nUNION\n")
    def sigCte(name: String, src: String) =
      s"""$name AS (SELECT s.vec_id,
         |    sum(CASE WHEN list_dot_product(s.v, p.pv) >= 0
         |      THEN (1::BIGINT << CAST(p.plane_id AS INT))
         |      ELSE 0 END) AS sig
         |  FROM $src s, p GROUP BY s.vec_id)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |corp AS (SELECT * FROM e WHERE vec_id % $IncrMod <> 0),
       |newv AS (SELECT * FROM e WHERE vec_id % $IncrMod = 0),
       |p AS (SELECT row_number() OVER (ORDER BY vec_id) - 1
       |    AS plane_id, v AS pv
       |  FROM (SELECT vec_id, v FROM corp ORDER BY vec_id
       |    LIMIT $planes)),
       |${sigCte("csig", "corp")},
       |${sigCte("nsig", "newv")},
       |cand AS ($bandJoins),
       |pr AS (SELECT cd.new_id, cd.corpus_id
       |  FROM cand cd
       |  JOIN e x ON cd.new_id = x.vec_id
       |  JOIN e y ON cd.corpus_id = y.vec_id
       |  WHERE list_dot_product(x.v, y.v)
       |    / (sqrt(list_dot_product(x.v, x.v))
       |       * sqrt(list_dot_product(y.v, y.v))) >= $EmbThreshold)
       |${if (report)
           s"""SELECT nv.vec_id AS new_id, count(pr.corpus_id) AS n_dups,
              |  min(pr.corpus_id) AS first_dup
              |FROM newv nv LEFT JOIN pr ON nv.vec_id = pr.new_id
              |GROUP BY nv.vec_id""".stripMargin
         else "SELECT new_id, corpus_id FROM pr"}"""
      .stripMargin
  }

  private lazy val incrEmbeddingSql =
    incrEmbeddingSqlOf(EmbPlanes, EmbBandBits)
  private lazy val incrEmbeddingScaleSql =
    incrEmbeddingSqlOf(EmbPlanesScale, EmbBandBitsScale, report = true)

  /** Incremental simhash/Hamming probe oracle, shared by the DataFrame
    * probe and its pure-SQL twin.
    */
  private lazy val incrSimhashSql = {
    val bandJoins = (0 until SimhashBits / 8).map { b =>
      s"""SELECT n.doc_id AS new_id, n.simhash AS fp_n,
         |  c.doc_id AS corpus_id, c.simhash AS fp_c
         |FROM newf n JOIN corp c
         |  ON ((n.simhash >> ${b * 8}) & 255) =
         |     ((c.simhash >> ${b * 8}) & 255)""".stripMargin
    }.mkString("\nUNION\n")
    s"""WITH $wordsCte, $simhashCte,
       |newf AS (SELECT doc_id, simhash FROM fp
       |  WHERE doc_id % $IncrMod = 0),
       |corp AS (SELECT doc_id, simhash FROM fp
       |  WHERE doc_id % $IncrMod <> 0),
       |cand AS ($bandJoins)
       |SELECT new_id, corpus_id,
       |  CAST(bit_count(xor(fp_n, fp_c)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(fp_n, fp_c)) <= $MaxHamming"""
      .stripMargin
  }

  /** Sample + decontaminate recipe oracle, shared by the inline-table
    * and published-index variants (they must be identical).
    */
  private lazy val specDecontamSql =
    s"""WITH $wordsCte, ${shinglesCte(DecontamK)},
       |bench AS (SELECT DISTINCT shingle FROM sh
       |  WHERE doc_id % $BenchMod = 0),
       |samp AS (SELECT doc_id, source FROM documents
       |  WHERE doc_id % $BenchMod <> 0
       |    AND ${graft.operators.Sampling.bucketSql("doc_id")}
       |      < 8000),
       |bad AS (SELECT s.doc_id FROM sh s
       |  JOIN bench b USING (shingle)
       |  JOIN samp USING (doc_id)
       |  GROUP BY s.doc_id HAVING count(*) >= 2)
       |SELECT samp.doc_id, samp.source FROM samp
       |LEFT JOIN bad USING (doc_id)
       |WHERE bad.doc_id IS NULL""".stripMargin

  /** Top-ngram oracle: instance counts (no per-doc distinct), total order
    * (count desc, gram asc), deterministic LIMIT.
    */
  private val topNgramsSql =
    s"""WITH $wordsCte,
       |sa AS (SELECT unnest(list_transform(
       |    range(1, len(ws) - ${TopNgramK - 2}),
       |    i -> array_to_string(ws[i:i+${TopNgramK - 1}], ' ')))
       |  AS gram FROM words)
       |SELECT gram, count(*) AS n_occurrences FROM sa
       |GROUP BY gram ORDER BY n_occurrences DESC, gram
       |LIMIT $TopNgramN""".stripMargin

  /** Sequence-packing oracle, mirroring Sampling.packPlan: hash shard,
    * salted deterministic order, per-shard cumulative tokens, floor-div
    * pack boundaries. DuckDB `//` floor-division only differs from
    * Spark's truncating `div` on the negative `start_tok - 1` corner,
    * which `greatest` clamps identically in both engines.
    */
  /** Pack-plan CTE list + final select, parametrized on the input
    * relation so the composed weighted-mixture pipeline can pack its
    * survivor CTE with the identical fragment.
    */
  private def packPlanCtesFrom(from: String) = {
    val shardH = StableHash.hash60Sql("CAST(doc_id AS VARCHAR)")
    val ordH = StableHash.hash60Sql("'pack#' || CAST(doc_id AS VARCHAR)")
    s"""t AS (SELECT doc_id,
       |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
       |      AS BIGINT) AS n_tokens,
       |    CAST($shardH % $PackShards AS INT) AS shard,
       |    $ordH AS ord
       |  FROM $from),
       |c AS (SELECT doc_id, shard, n_tokens,
       |    COALESCE(sum(n_tokens) OVER (PARTITION BY shard
       |      ORDER BY ord, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0)::BIGINT AS start_tok
       |  FROM t)""".stripMargin
  }

  private val packPlanSelect =
    s"""SELECT doc_id AS id, shard, n_tokens,
       |  start_tok // $PackSeqLen AS start_pack,
       |  greatest(start_tok // $PackSeqLen,
       |    (start_tok + n_tokens - 1) // $PackSeqLen) AS end_pack,
       |  start_tok % $PackSeqLen AS start_offset
       |FROM c""".stripMargin

  private val packPlanSql =
    s"WITH ${packPlanCtesFrom("documents")}\n$packPlanSelect"

  /** End-to-end curation pipeline oracle: language filter -> Gopher
    * rules -> exact dedup on normalized text -> minhash-LSH near-dup
    * cluster resolution -> per-domain cap -> deterministic split. The
    * per-doc CTEs (lang, gop) reuse the single-operator oracles verbatim
    * (per-doc metrics don't depend on the filtered set); the set-dependent
    * stages (dedup, cap) run over the filtered CTE via the parametrized
    * fragments.
    */
  private val curateSql = {
    val normExpr = "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^\\p{L}\\p{N}\\s]+', ' ', 'g'), '\\s+', ' ', 'g'))"
    val bucket = graft.operators.Sampling.bucketSql("doc_id")
    s"""WITH RECURSIVE
       |lang AS ($langIdSql),
       |gop AS ($gopherSql),
       |base AS (SELECT d.doc_id, d.source, d.n_chars, d.text
       |  FROM documents d
       |  JOIN lang ON d.doc_id = lang.doc_id
       |  JOIN gop ON d.doc_id = gop.doc_id
       |  WHERE lang.predicted_lang = 'en' AND gop.keep),
       |nh AS (SELECT doc_id, ${StableHash.hash60Sql(normExpr)} AS h
       |  FROM base),
       |keepx AS (SELECT min(doc_id) AS doc_id FROM nh GROUP BY h),
       |edocs AS (SELECT b.* FROM base b JOIN keepx USING (doc_id)),
       |${minhashLshCtesFrom("edocs")},
       |pairs AS ($minhashLshSelect),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
       |reach(id, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
       |labels AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id),
       |canon AS (SELECT e.* FROM edocs e
       |  WHERE e.doc_id NOT IN
       |    (SELECT id FROM labels WHERE id <> component_id)),
       |capped AS (SELECT doc_id, source FROM (
       |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
       |    ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS rn FROM canon)
       |  WHERE rn <= $DomainCap)
       |SELECT doc_id, source,
       |  CASE WHEN $bucket < 9000 THEN 'train'
       |       WHEN $bucket < 9500 THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM capped""".stripMargin
  }

  /** Quantized-corpus ANN oracle: the storage-path composition — int8
    * codes dequantized (q * scale, cast to FLOAT: both correctly-rounded
    * IEEE ops) and brute-force cosine top-k over the reconstructed
    * vectors. Every arithmetic step is exactly defined, so ranks are
    * bit-reproducible across engines.
    */
  private val annQuantSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |    FROM embeddings),
       |s AS (SELECT vec_id, v,
       |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       |  FROM e),
       |qz AS (SELECT vec_id, scale,
       |    list_transform(v, x -> CAST(floor(CASE WHEN scale = 0
       |      THEN 0.0 ELSE x / scale + 0.5 END) AS INT)) AS q
       |  FROM s),
       |dq AS (SELECT vec_id, list_transform(q,
       |    qq -> CAST(CAST(CAST(qq AS DOUBLE) * scale AS FLOAT)
       |      AS DOUBLE)) AS dv
       |  FROM qz),
       |qry AS (SELECT vec_id AS query_id, dv AS qv FROM dq
       |  WHERE vec_id < $AnnNumQueries),
       |sc AS (SELECT query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(qv, c.dv) /
       |      (sqrt(list_dot_product(qv, qv))
       |       * sqrt(list_dot_product(c.dv, c.dv))) AS sim
       |  FROM qry, dq c WHERE query_id <> c.vec_id),
       |r AS (SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT query_id, rank, neighbor_id FROM r
       |WHERE rank <= $AnnK""".stripMargin

  // exact k-means: FIXED-k hash-rank seeding (the k smallest
  // hash60(vec_id) rows, ties by id — bounded at any corpus size),
  // 2 Lloyd iterations, 1e6 component quantization
  private val KmK = 10
  private val KmIters = 2
  // outlier flag: winning cosine below this fixed-point bound (1e9
  // scale) means the vector sits far from every trained centroid
  private val OutlierSimQ = 200000000L

  /** Oracle CTE chain for [[Similarity.kmeansTrainExact]], unrolled to
    * `KmIters` assign/update rounds. All arithmetic is the operator's:
    * bigint quantization, integer sum-centroids, cosine over
    * exact-integer-valued doubles with (sim DESC, cid ASC) ties.
    */
  private def kmeansCtes: String = {
    val assign = (aOut: String, cent: String) =>
      s"""$aOut AS (SELECT vec_id, qv, cid AS cluster FROM (
         |  SELECT q.vec_id, q.qv, c.cid, row_number() OVER (
         |      PARTITION BY q.vec_id ORDER BY
         |      list_dot_product(q.qd, c.cv) /
         |        (sqrt(list_dot_product(q.qd, q.qd))
         |         * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
         |  FROM q, $cent c) WHERE rn = 1)""".stripMargin
    val update = (aIn: String, sOut: String, cOut: String) =>
      s"""$sOut AS (SELECT cluster, i, CAST(sum(qv[i]) AS BIGINT) AS s,
         |    count(*) AS n
         |  FROM $aIn, generate_series(1, $EmbDim) t(i) GROUP BY 1, 2),
         |$cOut AS (SELECT cluster AS cid,
         |    list(CAST(s AS DOUBLE) ORDER BY i) AS cv,
         |    max(n) AS n_members
         |  FROM $sOut GROUP BY 1)""".stripMargin
    val rounds = (1 to KmIters).map { i =>
      assign(s"a$i", s"c${i - 1}") + ",\n" +
        update(s"a$i", s"s$i", s"c$i")
    }.mkString(",\n")
    s"""raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id,
       |    list_transform(v, x -> CAST(floor(x * 1000000.0 + 0.5)
       |      AS BIGINT)) AS qv,
       |    list_transform(v, x -> CAST(CAST(floor(x * 1000000.0 + 0.5)
       |      AS BIGINT) AS DOUBLE)) AS qd
       |  FROM raw),
       |c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid,
       |    list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM (SELECT vec_id, qv, row_number() OVER (ORDER BY
       |      ${graft.functions.StableHash.hash60Sql(
             "CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
       |    FROM q) WHERE rn <= $KmK),
       |$rounds""".stripMargin
  }

  /** Final-assignment CTE with the winning cosine kept and fixed-point
    * quantized — shared by the cohesion and outlier oracles.
    */
  private def kmeansDiagCtes =
    s"""fin AS (SELECT vec_id, cid AS cluster,
       |    CAST(floor(sim * 1000000000.0 + 0.5) AS BIGINT) AS sim_q
       |  FROM (
       |  SELECT q.vec_id, c.cid,
       |    list_dot_product(q.qd, c.cv) /
       |      (sqrt(list_dot_product(q.qd, q.qd))
       |       * sqrt(list_dot_product(c.cv, c.cv))) AS sim,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_dot_product(q.qd, c.cv) /
       |        (sqrt(list_dot_product(q.qd, q.qd))
       |         * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
       |  FROM q, c$KmIters c) WHERE rn = 1)""".stripMargin

  private def kmeansCohesionSql =
    s"""WITH $kmeansCtes,
       |$kmeansDiagCtes
       |SELECT cluster, count(*) AS n,
       |  CAST(sum(sim_q) AS BIGINT) AS sum_sim_q,
       |  min(sim_q) AS min_sim_q
       |FROM fin GROUP BY cluster""".stripMargin

  private def embOutliersSql =
    s"""WITH $kmeansCtes,
       |$kmeansDiagCtes
       |SELECT vec_id, cluster, sim_q FROM fin
       |WHERE sim_q < $OutlierSimQ""".stripMargin

  private def kmeansTrainSql =
    s"""WITH $kmeansCtes
       |SELECT cluster AS centroid_id, CAST(max(n) AS BIGINT) AS n_members,
       |  CAST(sum(s) AS BIGINT) AS sum_c, min(s) AS min_c, max(s) AS max_c
       |FROM s$KmIters GROUP BY cluster""".stripMargin

  private def kmeansAssignSql = {
    val finalAssign =
      s"""fin AS (SELECT vec_id, cid AS cluster FROM (
         |  SELECT q.vec_id, c.cid, row_number() OVER (
         |      PARTITION BY q.vec_id ORDER BY
         |      list_dot_product(q.qd, c.cv) /
         |        (sqrt(list_dot_product(q.qd, q.qd))
         |         * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
         |  FROM q, c$KmIters c) WHERE rn = 1)""".stripMargin
    s"""WITH $kmeansCtes,
       |$finalAssign
       |SELECT vec_id, cluster FROM fin""".stripMargin
  }

  /** DSIR target slice: documents from this source are "target-like". */
  private val DsirTarget = "src0"
  private val DsirScale = 10000L
  // boilerplate chunk removal: cut chunks appearing in >= 2 documents
  private val BoilerMinDf = 2
  // OOV-rate vocabulary size (top-N corpus words)
  private val OovVocab = 30
  // bloom pre-filter geometry: 4 probes x 1024 bits over ~450 corpus
  // keys -> a meaningful false-positive rate, so the probe query
  // exercises BOTH hit paths deterministically in both engines
  private val BloomK = 4
  private val BloomM = 1024
  // learned-tokenizer unit vocabulary (top-N words + char bigrams): 24
  // keeps a mix of whole-word hits, bigram pieces, and char UNKs on the
  // synthetic corpus (31 distinct words), so greedy longest-match is
  // genuinely exercised
  private val UnitVocab = 24

  /** Tokenizer oracle CTE list (train vocab + greedy segmentation per
    * distinct word), shared by the per-doc counts query and the
    * learned-budget temperature query. Ends in `seg(w, nt)`; callers
    * must open with WITH RECURSIVE (the `r` CTE walks positions).
    * Declared AFTER UnitVocab — object vals initialize in declaration
    * order.
    */
  private val vocabTokCtes =
    s"""$wordsCte,
       |inst AS (SELECT doc_id, unnest(ws) AS w FROM words),
       |bgp AS (SELECT w, CAST(unnest(range(1, length(w))) AS INT)
       |    AS p FROM inst WHERE length(w) >= 2),
       |units AS (
       |  SELECT w AS u FROM inst WHERE w <> ''
       |  UNION ALL
       |  SELECT substr(w, p, 2) AS u FROM bgp),
       |voc AS (SELECT u FROM (SELECT u, count(*) AS c FROM units
       |  GROUP BY u ORDER BY c DESC, u LIMIT $UnitVocab)),
       |dw AS (SELECT DISTINCT w FROM inst WHERE w <> ''),
       |pos AS (SELECT w,
       |    CAST(unnest(range(1, length(w) + 1)) AS INT) AS p
       |  FROM dw),
       |m AS (SELECT pos.w, pos.p, max(length(voc.u)) AS ml
       |  FROM pos JOIN voc
       |    ON substr(pos.w, pos.p, length(voc.u)) = voc.u
       |  GROUP BY pos.w, pos.p),
       |r(w, p, t) AS (
       |  SELECT w, 1, 0 FROM dw
       |  UNION ALL
       |  SELECT r.w, r.p + CAST(coalesce(m.ml, 1) AS INT), r.t + 1
       |  FROM r LEFT JOIN m ON m.w = r.w AND m.p = r.p
       |  WHERE r.p <= length(r.w)),
       |seg AS (SELECT w, max(t) AS nt FROM r GROUP BY w)""".stripMargin
  // count-min sketch geometry + number of audited heavy hitters
  private val CmsD = 4
  private val CmsW = 2048
  private val CmsTopK = 20
  // embeddings table dimension (driver-generated synthetic data)
  private val EmbDim = 64

  /** Exact per-column profile oracle: one UNION ALL branch per column,
    * generated from the same column list the Spark query passes.
    */
  private val ProfileCols =
    Seq("doc_id", "text", "lang", "source", "n_chars")
  private val profileSql = ProfileCols.map { c =>
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
       |  count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
       |  CAST(min($c) AS VARCHAR) AS min_value,
       |  CAST(max($c) AS VARCHAR) AS max_value
       |FROM documents""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** Intra-doc chunk dedup oracle: same chunking as chunkDupSql, then a
    * first-occurrence filter via DuckDB's 1-based indexed lambda
    * (list_position returns the FIRST index — Spark's array_position
    * twin).
    */
  private val intraChunkSql =
    s"""WITH $wordsCte,
       |c AS (SELECT doc_id, list_transform(
       |    range(0, CAST(ceil(len(ws) / ${ChunkW}.0) AS BIGINT)),
       |    i -> array_to_string(ws[i*$ChunkW+1:i*$ChunkW+$ChunkW], ' '))
       |  AS ch FROM words),
       |k AS (SELECT doc_id, ch,
       |  list_filter(ch, (x, i) -> list_position(ch, x) = i) AS kept
       |  FROM c)
       |SELECT doc_id AS id, array_to_string(kept, ' ') AS clean_text,
       |  CAST(len(ch) AS INT) AS total_chunks,
       |  CAST(len(kept) AS INT) AS kept_chunks
       |FROM k""".stripMargin

  /** Cross-source near-dup overlap matrix oracle: the minhash-LSH pair
    * CTEs, each endpoint labeled with its source, unordered pair counts.
    */
  private val sourceOverlapSql =
    s"""WITH $minhashLshCtes,
       |p AS ($minhashLshSelect),
       |g AS (SELECT least(da.source, db.source) AS group_a,
       |    greatest(da.source, db.source) AS group_b
       |  FROM p
       |  JOIN documents da ON p.id_a = da.doc_id
       |  JOIN documents db ON p.id_b = db.doc_id)
       |SELECT group_a, group_b, count(*) AS n_pairs
       |FROM g GROUP BY group_a, group_b""".stripMargin

  /** DSIR importance oracle: per-token corpus/target counts as windows
    * over the token-hash partitioning, exact integer ratio contributions.
    */
  /** DSIR CTE list ending in `dsir(doc_id, n_tokens, dsir_score)` —
    * shared verbatim by the standalone query and the weighted-mixture
    * pipeline (DSIR is a corpus-wide metric: its windows always run over
    * the FULL documents table, so the fragment is not FROM-parametrized).
    */
  private val dsirCtes =
    s"""w AS (SELECT doc_id, source = '$DsirTarget' AS t,
       |    string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents),
       |inst AS (SELECT doc_id, t, unnest(ws) AS w FROM w),
       |hh AS (SELECT doc_id, ${StableHash.hash60Sql("w")} AS h, t
       |  FROM inst),
       |st AS (SELECT doc_id,
       |    count(*) OVER (PARTITION BY h) AS rw,
       |    sum(CASE WHEN t THEN 1 ELSE 0 END) OVER (PARTITION BY h) AS tw
       |  FROM hh),
       |dsir AS (SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum((tw * $DsirScale) // rw) AS BIGINT) AS dsir_score
       |  FROM st GROUP BY doc_id)""".stripMargin

  private val dsirSql =
    s"WITH $dsirCtes\nSELECT doc_id, n_tokens, dsir_score FROM dsir"

  /** Weighted-mixture pipeline oracle: DSIR weights -> rate-proportional
    * keep (rate = score / (n_tokens * scale), exact-cast doubles) ->
    * sqrt-temperature rates over the SURVIVORS -> salted second-stage
    * hash sample -> pack plan of the final mixture. Every stage reuses
    * the single-operator fragment (dsirCtes, mixTokCteFrom,
    * packPlanCtesFrom) — what pipeline_curate_corpus proves for the
    * dedup family, this proves for the sampling family: the
    * set-dependent stages (temperature totals, pack offsets) see each
    * other's survivors, not the base table. The second sampling stage
    * salts its hash key ('mix#' prefix) so the two keep decisions are
    * decorrelated.
    */
  private val weightedMixtureSql = {
    val b1 = graft.operators.Sampling.bucketSql("d.doc_id")
    val b2 = graft.operators.Sampling.bucketSql(
      "'mix#' || CAST(doc_id AS VARCHAR)")
    val buckets = graft.operators.Sampling.Buckets
    s"""WITH $dsirCtes,
       |s1 AS (SELECT d.doc_id, d.source, d.text
       |  FROM documents d JOIN dsir ON d.doc_id = dsir.doc_id
       |  WHERE $b1 < CAST(round(CAST(dsir.dsir_score AS DOUBLE)
       |    / CAST(dsir.n_tokens * $DsirScale AS DOUBLE)
       |    * $buckets) AS BIGINT)),
       |${mixTokCteFrom("s1")},
       |tr AS (SELECT source,
       |    sqrt(CAST(mn AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS srate
       |  FROM (SELECT source, n_tokens, min(n_tokens) OVER () AS mn
       |    FROM tok)),
       |s2 AS (SELECT doc_id, text FROM s1 JOIN tr USING (source)
       |  WHERE $b2 < CAST(round(srate * $buckets) AS BIGINT)),
       |${packPlanCtesFrom("s2")}
       |$packPlanSelect""".stripMargin
  }

  /** Temperature-2 mixture oracle: same per-source token totals as the
    * mixture plan; sqrt and / are correctly-rounded IEEE ops so the
    * doubles match bit-for-bit.
    */
  private val temperatureSql =
    s"""WITH $mixTokCte,
       |m AS (SELECT source, n_docs, n_tokens,
       |  min(n_tokens) OVER () AS mn FROM tok)
       |SELECT source, n_docs, n_tokens,
       |  sqrt(CAST(mn AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |    AS sample_rate,
       |  CAST(n_tokens AS DOUBLE)
       |    * sqrt(CAST(mn AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |    AS expected_tokens
       |FROM m""".stripMargin

  /** Cross-doc boilerplate removal oracle: chunk instances with
    * positions, document-frequency window over the chunk hash, kept
    * chunks reassembled in order (string_agg skips the dropped ones).
    */
  private val boilerplateSql =
    s"""WITH $wordsCte,
       |u AS (SELECT doc_id, unnest(list_transform(
       |    range(0, CAST(ceil(len(ws) / ${ChunkW}.0) AS BIGINT)),
       |    i -> {'pos': i,
       |      'chunk': array_to_string(ws[i*$ChunkW+1:i*$ChunkW+$ChunkW],
       |        ' ')})) AS s
       |  FROM words),
       |e AS (SELECT doc_id, s.pos AS pos, s.chunk AS chunk,
       |    ${StableHash.hash60Sql("s.chunk")} AS h FROM u),
       |d AS (SELECT doc_id, pos, chunk,
       |    count(DISTINCT doc_id) OVER (PARTITION BY h) AS df FROM e)
       |SELECT doc_id AS id,
       |  coalesce(string_agg(CASE WHEN df < $BoilerMinDf THEN chunk END,
       |    ' ' ORDER BY pos), '') AS clean_text,
       |  CAST(count(*) AS INT) AS total_chunks,
       |  CAST(count(CASE WHEN df < $BoilerMinDf THEN 1 END) AS INT)
       |    AS kept_chunks
       |FROM d GROUP BY doc_id""".stripMargin

  /** Duplicated-run removal oracle, mirroring Dedup.removeDuplicateRuns:
    * overlapping RunW-word window hashes, occurrence count + global
    * first-occurrence rank per hash, covered starts rolled up per doc,
    * keep = word positions outside every covered [start, start+W-1] run.
    */
  /** Window-instance CTEs (`<p>u`, `<p>e`) over a words CTE `src`:
    * overlapping RunW-word window hashes with 0-based start positions.
    */
  private def runWinCtes(src: String, p: String) =
    s"""${p}u AS (SELECT doc_id, unnest(list_transform(
       |    range(0, len(ws) - ${RunW - 1}),
       |    i -> {'pos': i,
       |      'g': array_to_string(ws[i+1:i+$RunW], ' ')})) AS s
       |  FROM $src),
       |${p}e AS (SELECT doc_id, s.pos AS pos,
       |    ${StableHash.hash60Sql("s.g")} AS h FROM ${p}u)""".stripMargin

  /** Reassembly tail shared by the run-removal oracles: covered starts
    * (`cova(doc_id, cps)`) expanded to runs, surviving word positions
    * rejoined in order over the words CTE `src`.
    */
  private def runExciseSelect(src: String) =
    s"""k AS (SELECT w.doc_id AS id, w.ws AS ws,
       |    list_filter(range(1, len(w.ws) + 1),
       |      i -> len(list_filter(coalesce(c.cps, []::BIGINT[]),
       |        p -> i - 1 >= p AND i - 1 <= p + ${RunW - 1})) = 0) AS ki
       |  FROM $src w LEFT JOIN cova c USING (doc_id))
       |SELECT id,
       |  coalesce(array_to_string(list_transform(ki, i -> ws[i]), ' '),
       |    '') AS clean_text,
       |  CAST(len(ws) AS INT) AS total_words,
       |  CAST(len(ki) AS INT) AS kept_words
       |FROM k""".stripMargin

  private val dupRunsSql =
    s"""WITH $wordsCte,
       |${runWinCtes("words", "")},
       |d AS (SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY h) AS n_occ,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |  FROM e),
       |cova AS (SELECT doc_id, list(pos) AS cps FROM d
       |  WHERE n_occ >= 2 AND rn > 1 GROUP BY doc_id),
       |${runExciseSelect("words")}""".stripMargin

  /** Incremental run-removal oracle: batch (doc_id % IncrMod = 0) spans
    * matching the corpus-side window-hash set are excised uncondition-
    * ally; batch-internal repeats keep their batch-first occurrence.
    */
  private val incrRunsSql =
    s"""WITH bw AS (SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents WHERE doc_id % $IncrMod = 0),
       |cw AS (SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents WHERE doc_id % $IncrMod <> 0),
       |${runWinCtes("bw", "b")},
       |${runWinCtes("cw", "c")},
       |cor AS (SELECT DISTINCT h FROM ce),
       |d AS (SELECT doc_id, pos, h,
       |    count(*) OVER (PARTITION BY h) AS n_occ,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |  FROM be),
       |cova AS (SELECT doc_id, list(pos) AS cps FROM d
       |  WHERE h IN (SELECT h FROM cor) OR (n_occ >= 2 AND rn > 1)
       |  GROUP BY doc_id),
       |${runExciseSelect("bw")}""".stripMargin

  /** Incremental exact dedup oracle: the batch's text hashes left-joined
    * against the corpus-side keep-id index.
    */
  private val incrExactSql =
    s"""WITH cor AS (SELECT ${StableHash.hash60Sql("text")} AS text_hash,
       |    min(doc_id) AS keep_id
       |  FROM documents WHERE doc_id % $IncrMod <> 0 GROUP BY 1),
       |b AS (SELECT doc_id AS id, ${StableHash.hash60Sql("text")}
       |    AS text_hash
       |  FROM documents WHERE doc_id % $IncrMod = 0)
       |SELECT b.id, b.text_hash, cor.keep_id AS dup_of
       |FROM b LEFT JOIN cor USING (text_hash)""".stripMargin

  /** ROLLUP token report oracle: exact longs at every grouping level. */
  private val tokenRollupSql =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
      |    AS BIGINT) AS n_tokens
      |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ---- round-8 additions --------------------------------------------

    "text_remove_boilerplate" -> QueryDef(
      (s, d) => Dedup.removeBoilerplateChunks(table(s, d, "documents"),
        "doc_id", "text", ChunkW, BoilerMinDf),
      Some(boilerplateSql)),

    "dedup_duplicate_runs" -> QueryDef(
      (s, d) => Dedup.removeDuplicateRuns(table(s, d, "documents"),
        "doc_id", "text", RunW),
      Some(dupRunsSql)),

    "dedup_incremental_runs" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val idx = Dedup.buildRunIndex(
          docs.filter(col("doc_id") % IncrMod =!= 0), "doc_id", "text",
          RunW)
        Dedup.removeDuplicateRunsAgainst(
          docs.filter(col("doc_id") % IncrMod === 0), idx,
          "doc_id", "text", RunW)
      },
      Some(incrRunsSql)),

    "dedup_incremental_exact" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        Dedup.exactAgainst(
          docs.filter(col("doc_id") % IncrMod === 0),
          Dedup.exact(docs.filter(col("doc_id") % IncrMod =!= 0),
            "doc_id", "text"),
          "doc_id", "text")
      },
      Some(incrExactSql)),

    // quality-weighted deterministic sampling: keep probability = the
    // document's quality score, membership by hash bucket (reproducible,
    // growth-stable, shuffle-free)
    "sample_quality_weighted" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        graft.operators.Sampling.sampleByRate(docs, "doc_id",
            TextAnalysis.qualityScore(col("text")))
          .select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("quality_score"))
      },
      Some(s"""WITH q AS ($qualitySql)
              |SELECT d.doc_id, q.quality_score
              |FROM documents d JOIN q ON d.doc_id = q.doc_id
              |WHERE ${graft.operators.Sampling.bucketSql("d.doc_id")}
              |  < CAST(round(q.quality_score
              |      * ${graft.operators.Sampling.Buckets}) AS BIGINT)"""
        .stripMargin)),

    // deterministic count-min sketch vs exact heavy-hitter counts: the
    // bounded-state frequency primitive (skew detection). The oracle
    // reproduces each CM counter exactly: counter_i[b] is by definition
    // the count of instances landing in bucket b under perm_i
    "sketch_cms_topgrams" -> QueryDef(
      (s, d) => {
        import graft.operators.Sketches
        val docs = table(s, d, "documents")
        val inst = docs.select(
            explode(graft.functions.TextShingles.wordShingles(
              col("text"), TopNgramK)).as("gram"))
          .select(col("gram"), StableHash.hash60(col("gram")).as("h"))
        val sk = inst.agg(graft.functions.CountMin.sketch(
            col("h"), CmsD, CmsW).as("__sk"))
          .withColumn("__k", lit(1))
        TextAnalysis.topNgrams(docs, "text", TopNgramK, CmsTopK)
          .withColumn("__k", lit(1))
          .join(broadcast(sk), Seq("__k"))
          .select(col("gram"), col("n_occurrences"),
            Sketches.cmsEstimate(col("__sk"),
              StableHash.hash60(col("gram")), CmsD, CmsW).as("cms_est"))
      },
      Some {
        val perms = StableHash.minhashParams(CmsD).zipWithIndex
        def bucketSql(hSql: String, a: Long, b: Long) =
          s"(${StableHash.minhashPermSql(hSql, a, b)} % $CmsW)"
        val bkCols = perms.map { case ((a, b), i) =>
          s"${bucketSql("h", a, b)} AS b_$i" }.mkString(", ")
        val cntCtes = perms.map { case (_, i) =>
          s"c_$i AS (SELECT b_$i AS b, count(*) AS c FROM bk GROUP BY 1)"
        }.mkString(",\n")
        val qCols = perms.map { case ((a, b), i) =>
          s"${bucketSql(StableHash.hash60Sql("gram"), a, b)} AS q_$i"
        }.mkString(", ")
        val joins = perms.map { case (_, i) =>
          s"JOIN c_$i ON tq.q_$i = c_$i.b" }.mkString("\n")
        val leastOf = perms.map { case (_, i) => s"c_$i.c" }
          .mkString("least(", ", ", ")")
        s"""WITH $wordsCte,
           |sa AS (SELECT unnest(list_transform(
           |    range(1, len(ws) - ${TopNgramK - 2}),
           |    i -> array_to_string(ws[i:i+${TopNgramK - 1}], ' ')))
           |  AS gram FROM words),
           |hh AS (SELECT ${StableHash.hash60Sql("gram")} AS h FROM sa),
           |bk AS (SELECT $bkCols FROM hh),
           |$cntCtes,
           |top AS (SELECT gram, count(*) AS n_occurrences FROM sa
           |  GROUP BY gram ORDER BY n_occurrences DESC, gram
           |  LIMIT $CmsTopK),
           |tq AS (SELECT gram, n_occurrences, $qCols FROM top)
           |SELECT tq.gram, tq.n_occurrences, $leastOf AS cms_est
           |FROM tq
           |$joins""".stripMargin
      }),

    // curriculum length-binning: every doc assigned to its quartile
    // bucket of token counts, thresholds from the deterministic
    // hash-sample quantiles (stable under corpus growth)
    "sample_length_buckets" -> QueryDef(
      (s, d) => {
        import graft.operators.Sketches
        Sketches.quantileBuckets(table(s, d, "documents"), "doc_id",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"),
          sampleFrac = 0.5, probs = Seq(0.25, 0.5, 0.75))
      },
      Some(s"""WITH smp AS (SELECT doc_id,
              |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
              |      AS BIGINT) AS value
              |  FROM documents
              |  WHERE ${graft.operators.Sampling.bucketSql("doc_id")}
              |    < ${math.round(0.5 * graft.operators.Sampling.Buckets)}),
              |r AS (SELECT value, doc_id, row_number() OVER (
              |    ORDER BY value, doc_id) AS rn,
              |    count(*) OVER () AS n_sample FROM smp),
              |th AS (SELECT value
              |  FROM r JOIN (VALUES (0.25), (0.5), (0.75)) AS ps(p)
              |    ON rn = greatest(1, CAST(ceil(p * n_sample) AS BIGINT))),
              |tl AS (SELECT list_sort(list(value)) AS ths FROM th),
              |d AS (SELECT doc_id,
              |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
              |      AS BIGINT) AS value
              |  FROM documents)
              |SELECT doc_id, value,
              |  CAST(len(list_filter(tl.ths, t -> d.value > t)) AS INT)
              |    AS bucket
              |FROM d, tl""".stripMargin)),

    // estimator-quality audit: signature agreement vs exact Jaccard on
    // the LSH survivor pairs (tunes numHashes/bands before a 100 TB run)
    "dedup_minhash_precision" -> QueryDef(
      (s, d) => Dedup.minhashPrecision(table(s, d, "documents"),
        "doc_id", "text", ShingleK, NumHashes, RowsPerBand,
        MinhashThreshold),
      Some(s"""WITH $minhashLshCtes,
              |p AS ($minhashLshSelect),
              |sz AS (SELECT doc_id, count(*) AS sz FROM h
              |  GROUP BY doc_id),
              |i AS (SELECT p.id_a, p.id_b, count(*) AS inter
              |  FROM p
              |  JOIN h a ON a.doc_id = p.id_a
              |  JOIN h b ON b.doc_id = p.id_b AND a.h = b.h
              |  GROUP BY 1, 2)
              |SELECT p.id_a, p.id_b, p.sig_agreement,
              |  CAST(coalesce(i.inter, 0) AS DOUBLE)
              |    / CAST(x.sz + y.sz - coalesce(i.inter, 0) AS DOUBLE)
              |    AS jaccard
              |FROM p
              |LEFT JOIN i ON p.id_a = i.id_a AND p.id_b = i.id_b
              |JOIN sz x ON p.id_a = x.doc_id
              |JOIN sz y ON p.id_b = y.doc_id""".stripMargin)),

    // asymmetric containment over the LSH survivors: the quote/subset
    // detector Jaccard misses (a short doc quoted inside a long one has
    // tiny Jaccard but containment_a ~ 1)
    "dedup_minhash_containment" -> QueryDef(
      (s, d) => Dedup.minhashContainment(table(s, d, "documents"),
        "doc_id", "text", ShingleK, NumHashes, RowsPerBand,
        MinhashThreshold),
      Some(s"""WITH $minhashLshCtes,
              |p AS ($minhashLshSelect),
              |sz AS (SELECT doc_id, count(*) AS sz FROM h
              |  GROUP BY doc_id),
              |i AS (SELECT p.id_a, p.id_b, count(*) AS inter
              |  FROM p
              |  JOIN h a ON a.doc_id = p.id_a
              |  JOIN h b ON b.doc_id = p.id_b AND a.h = b.h
              |  GROUP BY 1, 2)
              |SELECT p.id_a, p.id_b,
              |  CAST(coalesce(i.inter, 0) AS DOUBLE) / CAST(x.sz AS
              |    DOUBLE) AS containment_a,
              |  CAST(coalesce(i.inter, 0) AS DOUBLE) / CAST(y.sz AS
              |    DOUBLE) AS containment_b
              |FROM p
              |LEFT JOIN i ON p.id_a = i.id_a AND p.id_b = i.id_b
              |JOIN sz x ON p.id_a = x.doc_id
              |JOIN sz y ON p.id_b = y.doc_id""".stripMargin)),

    "text_oov_rate" -> QueryDef(
      (s, d) => TextAnalysis.oovRate(table(s, d, "documents"),
        "doc_id", "text", OovVocab),
      Some(s"""WITH $wordsCte,
              |inst AS (SELECT doc_id, unnest(ws) AS w FROM words),
              |voc AS (SELECT w FROM (SELECT w, count(*) AS c FROM inst
              |  GROUP BY w ORDER BY c DESC, w LIMIT $OovVocab)),
              |tag AS (SELECT doc_id,
              |    CASE WHEN voc.w IS NULL THEN 1 ELSE 0 END AS miss
              |  FROM inst LEFT JOIN voc ON inst.w = voc.w)
              |SELECT doc_id, count(*) AS n_tokens,
              |  CAST(sum(miss) AS BIGINT) AS oov_tokens,
              |  CAST(sum(miss) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              |    AS oov_rate
              |FROM tag GROUP BY doc_id""".stripMargin)),

    // learned-vocab tokenizer: train top-N units (words + char bigrams)
    // then greedy longest-match encode — real token counts for the
    // mixture/pack budget functions. The oracle reproduces the greedy
    // segmentation with a recursive CTE over (distinct word, position)
    // states; the Spark side is a zero-exchange trie projection.
    "text_vocab_token_counts" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val vocab = TextAnalysis.trainUnitVocab(docs, "text", UnitVocab)
        TextAnalysis.vocabTokenCounts(docs, "doc_id", "text",
          vocab.toIndexedSeq)
      },
      Some(s"""WITH RECURSIVE $vocabTokCtes
              |SELECT i.doc_id, count(*) AS n_words,
              |  CAST(sum(coalesce(seg.nt, 0)) AS BIGINT) AS n_tokens
              |FROM inst i LEFT JOIN seg ON i.w = seg.w
              |GROUP BY i.doc_id""".stripMargin)),

    // the budget functions CONSUME the learned counts, oracle-verified:
    // sqrt-temperature source rebalance where n_tokens is the greedy
    // tokenizer's count, not the whitespace heuristic
    "sample_temperature_vocab" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val vocab = TextAnalysis.trainUnitVocab(docs, "text", UnitVocab)
        graft.operators.Sampling.sqrtTemperatureRates(docs, "source",
          "text", tokensCol = Some(graft.functions.GreedyTokenCount
            .tokenCount(col("text"), vocab.toIndexedSeq)))
      },
      Some(s"""WITH RECURSIVE $vocabTokCtes,
              |tokv AS (SELECT d.source,
              |    CAST(count(DISTINCT i.doc_id) AS BIGINT) AS n_docs,
              |    CAST(sum(coalesce(seg.nt, 0)) AS BIGINT) AS n_tokens
              |  FROM inst i JOIN documents d USING (doc_id)
              |  LEFT JOIN seg ON i.w = seg.w
              |  GROUP BY d.source),
              |mv AS (SELECT source, n_docs, n_tokens,
              |  min(n_tokens) OVER () AS mn FROM tokv)
              |SELECT source, n_docs, n_tokens,
              |  sqrt(CAST(mn AS DOUBLE) / CAST(n_tokens AS DOUBLE))
              |    AS sample_rate,
              |  CAST(n_tokens AS DOUBLE)
              |    * sqrt(CAST(mn AS DOUBLE) / CAST(n_tokens AS DOUBLE))
              |    AS expected_tokens
              |FROM mv""".stripMargin)),

    "embedding_validate" -> QueryDef(
      (s, d) => Similarity.validateEmbeddings(table(s, d, "embeddings"),
        "vec_id", "embedding", expectedDim = EmbDim),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
              |    FROM embeddings)
              |SELECT vec_id, CAST(len(v) AS INT) AS dim,
              |  len(list_filter(v, x -> isnan(x))) > 0 AS has_nan,
              |  NOT (len(list_filter(v, x -> isnan(x))) > 0)
              |    AND list_max(list_transform(v, x -> abs(x))) = 0
              |    AS is_zero,
              |  len(v) = $EmbDim
              |    AND NOT (len(list_filter(v, x -> isnan(x))) > 0)
              |    AND NOT (NOT (len(list_filter(v, x -> isnan(x))) > 0)
              |      AND list_max(list_transform(v, x -> abs(x))) = 0)
              |    AS valid
              |FROM e""".stripMargin)),

    // the 4x storage path composes with search: quantize -> dequantize
    // -> brute-force cosine top-k, rank-exact vs the oracle
    "ann_quantized_topk" -> QueryDef(
      (s, d) => {
        import graft.functions.VectorOps
        val dq = table(s, d, "embeddings").select(col("vec_id"),
          VectorOps.dequantizeInt8(VectorOps.quantizeInt8(col("embedding")))
            .as("embedding"))
        Similarity.bruteForceTopK(dq,
          dq.filter(col("vec_id") < AnnNumQueries), "vec_id", "embedding",
          AnnK)
      },
      Some(annQuantSql)),

    // exact k-means over the embedding corpus: integer sum-centroids,
    // zero-shuffle literal-centroid assignment — the oracle reproduces
    // every Lloyd round bit-for-bit (see kmeansCtes)
    // output is a scalar digest of each centroid (exact integer sums):
    // registry outputs stay array-free by convention (the driver's hash
    // compare is defined over scalar cells)
    "kmeans_train" -> QueryDef(
      (s, d) => Similarity.kmeansTrainExact(table(s, d, "embeddings"),
        "vec_id", "embedding", KmK, KmIters)
        .select(col("centroid_id"), col("n_members"),
          aggregate(col("cent_sum"), lit(0L), (a, x) => a + x).as("sum_c"),
          array_min(col("cent_sum")).as("min_c"),
          array_max(col("cent_sum")).as("max_c")),
      Some(kmeansTrainSql)),

    "kmeans_assign" -> QueryDef(
      (s, d) => Similarity.kmeansAssignExact(table(s, d, "embeddings"),
        "vec_id", "embedding", KmK, KmIters),
      Some(kmeansAssignSql)),

    // per-cluster cohesion report: exact integer rollups of the
    // fixed-point winning cosine — the "is this clustering any good /
    // which cluster is mush" acceptance metric
    "kmeans_cohesion" -> QueryDef(
      (s, d) => Similarity.kmeansDiagnostics(table(s, d, "embeddings"),
          "vec_id", "embedding", KmK, KmIters)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("sim_q")).as("sum_sim_q"),
          min(col("sim_q")).as("min_sim_q")),
      Some(kmeansCohesionSql)),

    // embedding outliers: far from EVERY centroid — the dirty-vector
    // screen to run before SemDeDup / IVF trust the geometry
    "embedding_outliers" -> QueryDef(
      (s, d) => Similarity.kmeansDiagnostics(table(s, d, "embeddings"),
          "vec_id", "embedding", KmK, KmIters)
        .filter(col("sim_q") < OutlierSimQ),
      Some(embOutliersSql)),

    // bloom pre-filter for the incremental-dedup probe shape: the
    // corpus index's keys sketched into m bits, the batch tested
    // against the broadcast sketch BEFORE any join — no false negatives
    // (bloom_hit >= exact_hit row-wise), false positives identical in
    // both engines because the bit arithmetic is StableHash-deterministic
    "sketch_bloom_probe" -> QueryDef(
      (s, d) => {
        import graft.operators.Sketches
        val docs = table(s, d, "documents")
        val corpus = docs.filter(col("doc_id") % IncrMod =!= 0)
          .select(StableHash.hash60(col("text")).as("h"))
        val sk = corpus.agg(graft.functions.BloomBits
            .sketch(col("h"), BloomK, BloomM).as("__sk"))
          .withColumn("__k", lit(1))
        val batch = docs.filter(col("doc_id") % IncrMod === 0)
          .select(col("doc_id"), StableHash.hash60(col("text")).as("h"))
        val exact = corpus.distinct().withColumn("__exact", lit(true))
        batch.withColumn("__k", lit(1))
          .join(broadcast(sk), Seq("__k"))
          .join(exact, Seq("h"), "left")
          .select(col("doc_id"),
            Sketches.bloomMightContain(col("__sk"), col("h"),
              BloomK, BloomM).as("bloom_hit"),
            coalesce(col("__exact"), lit(false)).as("exact_hit"))
      },
      Some {
        val P = StableHash.MinhashPrime
        def bitSql(hSql: String, a: Long, b: Long) =
          s"((($a * ($hSql % $P) + $b) % $P) % $BloomM)"
        val perms = StableHash.minhashParams(BloomK)
        val corBits = perms.map { case (a, b) =>
          s"SELECT ${bitSql("h", a, b)} AS bit FROM cor"
        }.mkString("\nUNION\n")
        val probeChecks = perms.map { case (a, b) =>
          s"${bitSql("b.h", a, b)} IN (SELECT bit FROM bset)"
        }.mkString("\n  AND ")
        s"""WITH cor AS (SELECT DISTINCT ${StableHash.hash60Sql("text")}
           |    AS h FROM documents WHERE doc_id % $IncrMod <> 0),
           |bset AS ($corBits),
           |bat AS (SELECT doc_id, ${StableHash.hash60Sql("text")} AS h
           |  FROM documents WHERE doc_id % $IncrMod = 0)
           |SELECT b.doc_id,
           |  ($probeChecks) AS bloom_hit,
           |  b.h IN (SELECT h FROM cor) AS exact_hit
           |FROM bat b""".stripMargin
      }),

    // referential coverage between the text corpus and its embedding
    // table — the integrity audit to run BEFORE any embedding-dependent
    // stage (SemDeDup, ANN, clustering): a doc without a vector silently
    // escapes semantic dedup; a vector without a doc is wasted index
    // space. Full-outer join, per-source rollup.
    "corpus_embedding_coverage" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("source"))
        val emb = table(s, d, "embeddings")
          .select(col("vec_id").as("doc_id"), lit(1L).as("__has_vec"))
        docs.join(emb, Seq("doc_id"), "full_outer")
          .groupBy(coalesce(col("source"), lit("__no_doc")).as("source"))
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("__has_vec"), lit(0L))).as("n_with_vec"))
      },
      Some("""SELECT coalesce(source, '__no_doc') AS source,
             |  count(*) AS n,
             |  CAST(sum(CASE WHEN vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) AS n_with_vec
             |FROM documents d FULL OUTER JOIN embeddings e
             |  ON d.doc_id = e.vec_id
             |GROUP BY 1""".stripMargin)),

    "corpus_token_rollup" -> QueryDef(
      (s, d) => table(s, d, "documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
            .as("n_tokens")),
      Some(tokenRollupSql)),

    "profile_columns" -> QueryDef(
      (s, d) => graft.operators.Profiling.columnProfile(
        table(s, d, "documents"), ProfileCols),
      Some(profileSql)),

    "dedup_intra_doc_chunks" -> QueryDef(
      (s, d) => Dedup.dropRepeatedChunks(table(s, d, "documents"),
        "doc_id", "text", ChunkW),
      Some(intraChunkSql)),

    "dedup_source_overlap" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        Dedup.overlapMatrix(
          Dedup.minhashNearDups(docs, "doc_id", "text", ShingleK,
            NumHashes, RowsPerBand, MinhashThreshold),
          docs, "doc_id", "source")
      },
      Some(sourceOverlapSql)),

    "text_dsir_weights" -> QueryDef(
      (s, d) => TextAnalysis.importanceWeights(table(s, d, "documents"),
        "doc_id", "text", col("source") === DsirTarget, DsirScale),
      Some(dsirSql)),

    // the sampling family composed end to end: DSIR-weighted keep ->
    // sqrt-temperature source rebalance over the survivors -> salted
    // second-stage sample -> pack plan of the final mixture. The third
    // composed pipeline (curation and boilerplate+dedup are the others).
    "pipeline_weighted_mixture" -> QueryDef(
      (s, d) => {
        import graft.operators.Sampling
        val docs = table(s, d, "documents")
        val wts = TextAnalysis.importanceWeights(docs, "doc_id", "text",
          col("source") === DsirTarget, DsirScale)
        val rated = docs.join(wts.select(col("doc_id"),
          (col("dsir_score").cast("double") /
            (col("n_tokens") * lit(DsirScale)).cast("double"))
            .as("__keep_rate")), Seq("doc_id"))
        // survivors feed two consumers (temperature totals + the final
        // sample join) — persist once, like the other pipelines
        val s1 = Sampling.sampleByRate(rated, "doc_id", col("__keep_rate"))
          .select(col("doc_id"), col("source"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tr = Sampling.sqrtTemperatureRates(s1, "source", "text")
          .select(col("source"), col("sample_rate"))
        // salt the second-stage key so the two keep decisions are
        // decorrelated (same bucket() on the same key would nest the
        // samples instead of sampling independently)
        val s2 = Sampling.sampleByRate(
          s1.join(broadcast(tr), Seq("source"))
            .withColumn("__mix_key",
              concat(lit("mix#"), col("doc_id").cast("string"))),
          "__mix_key", col("sample_rate"))
        val result = Sampling.packPlan(s2, "doc_id", "text",
          PackSeqLen, PackShards)
        Dedup.releaseAfter(result, s1)
      },
      Some(weightedMixtureSql)),

    "sample_temperature_mixture" -> QueryDef(
      (s, d) => graft.operators.Sampling.sqrtTemperatureRates(
        table(s, d, "documents"), "source", "text"),
      Some(temperatureSql)),

    // SQL surface: the same operators through spark.sql(...) with the
    // graft_* functions registered (GraftFunctions/GraftExtensions) —
    // proves the SQL and DataFrame paths share one implementation
    "sql_scalar_surface" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        table(s, d, "documents")
          .createOrReplaceTempView("graft_sql_docs")
        s.sql("""SELECT doc_id,
            graft_stable_hash60(text) AS text_hash,
            graft_bucket(doc_id) AS bucket,
            size(graft_word_shingles(text, 3)) AS n_shingles,
            graft_lang_id(text) AS predicted_lang
          FROM graft_sql_docs""")
      },
      Some(s"""WITH l AS ($langIdSql)
              |SELECT d.doc_id, ${StableHash.hash60Sql("d.text")}
              |    AS text_hash,
              |  ${graft.operators.Sampling.bucketSql("d.doc_id")}
              |    AS bucket,
              |  CAST(greatest(len(string_split_regex(trim(lower(d.text)),
              |    '\\s+')) - 2, 0) AS INT) AS n_shingles,
              |  l.predicted_lang
              |FROM documents d JOIN l ON d.doc_id = l.doc_id"""
        .stripMargin)),

    "sql_topk_agg" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        table(s, d, "documents")
          .createOrReplaceTempView("graft_sql_docs")
        s.sql(s"""SELECT source, explode(graft_bounded_topk(
            CAST(n_chars AS DOUBLE), doc_id, $DomainCap)) AS doc_id
          FROM graft_sql_docs GROUP BY source""")
      },
      // identical semantics to sample_domain_cap's window oracle
      Some(s"""SELECT source, doc_id FROM (
              |  SELECT source, doc_id, row_number() OVER (
              |    PARTITION BY source
              |    ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS rn
              |  FROM documents) WHERE rn <= $DomainCap""".stripMargin)),

    // r14 SQL surface for the incremental probe family: an ingest batch
    // fingerprinted and band-joined against a persisted signature index
    // from PURE SQL (graft_minhash_sigs / graft_minhash_bands scalars —
    // zero-shuffle per-row twins of the aggregate signature build).
    // Oracle identical to dedup_incremental_minhash's: the SQL spelling
    // must produce the DataFrame probe's exact rows.
    "sql_minhash_probe" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = table(s, d, "documents")
        Dedup.minhashSignatures(
            docs.filter(col("doc_id") % IncrMod =!= 0),
            "doc_id", "text", ShingleK, NumHashes)
          .createOrReplaceTempView("graft_sql_sigs")
        docs.filter(col("doc_id") % IncrMod === 0)
          .createOrReplaceTempView("graft_sql_batch")
        val sigArr = (0 until NumHashes).map(i => s"sig_$i")
          .mkString("array(", ", ", ")")
        s.sql(
          s"""WITH nb AS (
             |  SELECT doc_id, sigs, band_no, bk
             |  FROM (SELECT doc_id,
             |      graft_minhash_sigs(text, $ShingleK, $NumHashes) AS sigs
             |    FROM graft_sql_batch)
             |  LATERAL VIEW posexplode(
             |    graft_minhash_bands(sigs, $NumHashes, $RowsPerBand))
             |    t AS band_no, bk),
             |cb AS (
             |  SELECT doc_id, $sigArr AS sigs, band_no, bk
             |  FROM graft_sql_sigs
             |  LATERAL VIEW posexplode(graft_minhash_bands($sigArr,
             |    $NumHashes, $RowsPerBand)) t AS band_no, bk)
             |SELECT new_id, corpus_id, sig_agreement FROM (
             |  SELECT /*+ BROADCAST(nb) */ DISTINCT
             |    nb.doc_id AS new_id, cb.doc_id AS corpus_id,
             |    CAST(aggregate(zip_with(nb.sigs, cb.sigs,
             |        (x, y) -> IF(x = y, 1, 0)),
             |      0, (acc, x) -> acc + x) AS DOUBLE) / $NumHashes
             |      AS sig_agreement
             |  FROM cb JOIN nb ON nb.band_no = cb.band_no
             |    AND nb.bk = cb.bk)
             |WHERE sig_agreement >= $MinhashThreshold""".stripMargin)
      },
      Some(incrDedupSql)),

    // the simhash spelling: graft_simhash / graft_hamming_bands against
    // a persisted fingerprint table. Oracle identical to
    // dedup_incremental_simhash's.
    "sql_simhash_probe" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = table(s, d, "documents")
        Dedup.simhash(docs.filter(col("doc_id") % IncrMod =!= 0),
            "doc_id", "text", SimhashBits)
          .createOrReplaceTempView("graft_sql_fps")
        docs.filter(col("doc_id") % IncrMod === 0)
          .createOrReplaceTempView("graft_sql_batch")
        s.sql(
          s"""WITH nb AS (
             |  SELECT doc_id AS new_id, fp_n, band_no, bk
             |  FROM (SELECT doc_id,
             |      graft_simhash(text, $SimhashBits) AS fp_n
             |    FROM graft_sql_batch)
             |  LATERAL VIEW posexplode(
             |    graft_hamming_bands(fp_n, $SimhashBits, 8))
             |    t AS band_no, bk),
             |cb AS (
             |  SELECT doc_id AS corpus_id, simhash AS fp_c, band_no, bk
             |  FROM graft_sql_fps
             |  LATERAL VIEW posexplode(
             |    graft_hamming_bands(simhash, $SimhashBits, 8))
             |    t AS band_no, bk)
             |SELECT new_id, corpus_id, hamming FROM (
             |  SELECT /*+ BROADCAST(nb) */ DISTINCT
             |    nb.new_id, cb.corpus_id,
             |    CAST(bit_count(nb.fp_n ^ cb.fp_c) AS INT) AS hamming
             |  FROM cb JOIN nb ON nb.band_no = cb.band_no
             |    AND nb.bk = cb.bk)
             |WHERE hamming <= $MaxHamming""".stripMargin)
      },
      Some(incrSimhashSql)),

    // the TVF spelling (r15): the whole probe as one SQL table
    // function expanding into the DataFrame operator's plan at
    // analysis time — no CTE assembly, no way for the SQL spelling to
    // drift. Oracles identical to the incremental twins': the surface
    // changes NOTHING about what is computed.
    "sql_minhash_probe_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = table(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-tvfsig").toString
        Dedup.writeSignatureIndex(
          Dedup.minhashSignatures(
            docs.filter(col("doc_id") % IncrMod =!= 0),
            "doc_id", "text", ShingleK, NumHashes),
          dir, NumHashes, RowsPerBand, shingleK = ShingleK)
        docs.filter(col("doc_id") % IncrMod === 0)
          .createOrReplaceTempView("graft_tvf_batch")
        s.sql(s"""SELECT new_id, corpus_id, sig_agreement
                 |FROM graft_minhash_probe('graft_tvf_batch', '$dir',
                 |  'doc_id', 'text', $MinhashThreshold)""".stripMargin)
      },
      Some(incrDedupSql)),

    "sql_jaccard_probe_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = table(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-tvfjac").toString
        Dedup.writeJaccardIndex(
          Dedup.buildJaccardIndex(
            docs.filter(col("doc_id") % IncrMod =!= 0), "doc_id",
            "text", JaccardK, JaccardThreshold),
          dir)
        docs.filter(col("doc_id") % IncrMod === 0)
          .createOrReplaceTempView("graft_tvf_batch")
        s.sql(s"""SELECT new_id, corpus_id, jaccard
                 |FROM graft_jaccard_probe('graft_tvf_batch', '$dir',
                 |  'doc_id', 'text')""".stripMargin)
      },
      Some(incrJaccardSql)),

    "sql_embedding_probe_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = table(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") % IncrMod =!= 0)
        val dir = java.nio.file.Files
          .createTempDirectory("graft-tvfemb").toString
        Dedup.writeEmbeddingIndex(
          Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
            EmbPlanes, EmbBandBits),
          dir)
        corpus.createOrReplaceTempView("graft_tvf_corpus")
        emb.filter(col("vec_id") % IncrMod === 0)
          .createOrReplaceTempView("graft_tvf_batch_vecs")
        s.sql(s"""SELECT new_id, corpus_id
                 |FROM graft_embedding_probe('graft_tvf_batch_vecs',
                 |  'graft_tvf_corpus', '$dir', 'vec_id', 'embedding',
                 |  $EmbThreshold)""".stripMargin)
      },
      Some(incrEmbeddingSql)),

    "sql_simhash_probe_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = table(s, d, "documents")
        Dedup.simhash(docs.filter(col("doc_id") % IncrMod =!= 0),
            "doc_id", "text", SimhashBits)
          .createOrReplaceTempView("graft_tvf_fps")
        docs.filter(col("doc_id") % IncrMod === 0)
          .createOrReplaceTempView("graft_tvf_batch")
        s.sql(s"""SELECT new_id, corpus_id, hamming
                 |FROM graft_simhash_probe('graft_tvf_batch',
                 |  'graft_tvf_fps', 'doc_id', 'text', $SimhashBits,
                 |  $MaxHamming)""".stripMargin)
      },
      Some(incrSimhashSql)),

    // the retrieval/ANN TVF family (r16): the serving operators as
    // SQL table functions. Oracles identical to the DataFrame twins'
    // — the surface changes NOTHING about what is computed.
    "sql_text_search_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        table(s, d, "documents")
          .createOrReplaceTempView("graft_tvf_docs")
        s.sql(s"""SELECT doc_id, score
                 |FROM graft_text_search('graft_tvf_docs', 'doc_id',
                 |  'text', '${SearchTerms.mkString(",")}',
                 |  $SearchK)""".stripMargin)
      },
      Some(textSearchTopkSql)),

    "sql_bm25_search_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        table(s, d, "documents")
          .createOrReplaceTempView("graft_tvf_docs")
        s.sql(s"""SELECT doc_id, score
                 |FROM graft_bm25_search('graft_tvf_docs', 'doc_id',
                 |  'text', '${SearchTerms.mkString(",")}',
                 |  $SearchK)""".stripMargin)
      },
      Some(bm25Sql)),

    "sql_ann_probe_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = table(s, d, "embeddings")
        emb.createOrReplaceTempView("graft_tvf_emb")
        emb.filter(col("vec_id") < AnnNumQueries)
          .createOrReplaceTempView("graft_tvf_emb_queries")
        s.sql(s"""SELECT query_id, rank, neighbor_id
                 |FROM graft_ann_probe('graft_tvf_emb',
                 |  'graft_tvf_emb_queries', 'vec_id', 'embedding',
                 |  $AnnK)""".stripMargin)
      },
      Some(annSql)),

    // index-SERVED ANN from SQL (r17): the assigned table is the IVF
    // index view; same construction as ann_ivf_topk, so the TVF
    // expansion must hash-match that query's oracle exactly
    "sql_ivf_probe_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = table(s, d, "embeddings")
        val centroids = Similarity.seedCentroidsK(emb, "vec_id",
          "embedding", IvfK)
        Similarity.ivfAssign(emb, centroids, "vec_id", "embedding")
          .createOrReplaceTempView("graft_tvf_ivf_assigned")
        centroids.createOrReplaceTempView("graft_tvf_ivf_cent")
        emb.filter(col("vec_id") < AnnNumQueries)
          .createOrReplaceTempView("graft_tvf_ivf_queries")
        s.sql(s"""SELECT query_id, rank, neighbor_id
                 |FROM graft_ivf_probe('graft_tvf_ivf_assigned',
                 |  'graft_tvf_ivf_cent', 'graft_tvf_ivf_queries',
                 |  'vec_id', 'embedding', $AnnK, 4)""".stripMargin)
      },
      Some(ivfSql)),

    // PQ/ADC serving from SQL (r18): codebook + codes views = the
    // published PQ index. The TVF's HOF arithmetic must hash-match
    // ann_pq_topk's expression path, so both share pqSql's full-chain
    // oracle (codebook choice included)
    "sql_pq_probe_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = table(s, d, "embeddings")
        val cb = Similarity.pqTrainSampled(emb, "vec_id", "embedding",
          PqM, PqKsub)
        Similarity.pqEncode(emb, cb, "vec_id", "embedding")
          .createOrReplaceTempView("graft_tvf_pq_codes")
        // the codebook VIEW: the training sample's hash-rank order as
        // code_id — pqTrainSampled's selection rule, spelled lazily
        graft.operators.BoundedRank.packedIndex(
          emb.filter(col("embedding").isNotNull)
            .select(StableHash.hash60(col("vec_id").cast("string"))
                .as("__h"),
              col("vec_id").as("__id"), col("embedding"))
            .orderBy(col("__h").asc, col("__id").asc)
            .limit(PqKsub),
          Seq(col("__h"), col("__id")),
          Seq("embedding" -> col("embedding")), "code_id")
          .createOrReplaceTempView("graft_tvf_pq_cb")
        emb.filter(col("vec_id") < AnnNumQueries)
          .createOrReplaceTempView("graft_tvf_pq_queries")
        s.sql(s"""SELECT query_id, rank, neighbor_id
                 |FROM graft_pq_probe('graft_tvf_pq_cb',
                 |  'graft_tvf_pq_codes', 'graft_tvf_pq_queries',
                 |  'vec_id', 'embedding', $PqM, $AnnK)""".stripMargin)
      },
      Some(pqSql)),

    // IVF+PQ from SQL (r18): partition pruning AND 16x codes in one
    // served chain — also ivfTopKPq's FIRST oracle row (the DataFrame
    // path was spec-only through r17)
    "sql_ivfpq_probe_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = table(s, d, "embeddings")
        val cb = Similarity.pqTrainSampled(emb, "vec_id", "embedding",
          PqM, PqKsub)
        val cents = Similarity.seedCentroidsK(emb, "vec_id", "embedding",
          IvfFixedK)
        // codes computed ON the assigned frame: the probed scan reads
        // (id, cluster, codes), never float vectors
        Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
          .select(col("vec_id"), col("cluster"),
            graft.functions.PqOps.encode(col("embedding"), cb)
              .as("codes"))
          .createOrReplaceTempView("graft_tvf_ivfpq_asg")
        cents.createOrReplaceTempView("graft_tvf_ivfpq_cent")
        graft.operators.BoundedRank.packedIndex(
          emb.filter(col("embedding").isNotNull)
            .select(StableHash.hash60(col("vec_id").cast("string"))
                .as("__h"),
              col("vec_id").as("__id"), col("embedding"))
            .orderBy(col("__h").asc, col("__id").asc)
            .limit(PqKsub),
          Seq(col("__h"), col("__id")),
          Seq("embedding" -> col("embedding")), "code_id")
          .createOrReplaceTempView("graft_tvf_ivfpq_cb")
        emb.filter(col("vec_id") < AnnNumQueries)
          .createOrReplaceTempView("graft_tvf_ivfpq_queries")
        s.sql(s"""SELECT query_id, rank, neighbor_id
                 |FROM graft_ivfpq_probe('graft_tvf_ivfpq_asg',
                 |  'graft_tvf_ivfpq_cent', 'graft_tvf_ivfpq_cb',
                 |  'graft_tvf_ivfpq_queries', 'vec_id', 'embedding',
                 |  $PqM, $AnnK, 4)""".stripMargin)
      },
      Some(ivfPqSql)),

    // incremental SemDeDup from SQL (r18): the hierarchy's three
    // artifact views serve graft_semdedup_probe — same construction
    // as dedup_semantic_against (the index built from the corpus
    // split, the batch assigned through its frozen seeds), so the
    // TVF expansion must hash-match that row's oracle exactly. The
    // expansion is pure lazy (assignToSeedsLazy — zero jobs at
    // analysis, listener-asserted in GraftFunctionsSpec)
    "sql_semdedup_probe_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = table(s, d, "embeddings")
        val corp = emb.filter(col("vec_id") % IncrMod =!= 0)
        val batch = emb.filter(col("vec_id") % IncrMod === 0)
        val idx = Similarity.buildHierarchyIndexAuto(corp, "vec_id",
          "embedding", targetClusterSize = SemEvery)
        idx.assigned.createOrReplaceTempView("graft_tvf_sem_asg")
        idx.centroids.createOrReplaceTempView("graft_tvf_sem_cent")
        idx.subSeeds.createOrReplaceTempView("graft_tvf_sem_seeds")
        batch.createOrReplaceTempView("graft_tvf_sem_batch")
        s.sql(s"""SELECT new_id, corpus_id
                 |FROM graft_semdedup_probe('graft_tvf_sem_asg',
                 |  'graft_tvf_sem_cent', 'graft_tvf_sem_seeds',
                 |  'graft_tvf_sem_batch', 'vec_id', 'embedding',
                 |  $SemThreshold)""".stripMargin)
      },
      Some(semanticAgainstSql)),

    "sql_hybrid_rrf_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = table(s, d, "documents")
        val emb = table(s, d, "embeddings")
        Similarity.rankTopK(
          graft.operators.TextSearch.searchTopK(
              docs, "doc_id", "text", SearchTerms, SearchK)
            .select(lit(HybridQueryId.toLong).as("query_id"),
              col("doc_id").cast("long").as("neighbor_id"),
              col("score").cast("double").as("sim")), SearchK)
          .createOrReplaceTempView("graft_tvf_lex")
        Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") === HybridQueryId), "vec_id",
            "embedding", SearchK)
          .createOrReplaceTempView("graft_tvf_vec")
        s.sql(s"""SELECT query_id, rank, neighbor_id, rrf
                 |FROM graft_hybrid_rrf('graft_tvf_lex',
                 |  'graft_tvf_vec', $SearchK, $RrfK)""".stripMargin)
      },
      Some(hybridRrfSql)),

    "dedup_exact" -> QueryDef(
      (s, d) => Dedup.exact(table(s, d, "documents"), "doc_id", "text"),
      Some(s"""SELECT ${StableHash.hash60Sql("text")} AS text_hash,
              |  min(doc_id) AS keep_id, count(*) AS n_copies
              |FROM documents GROUP BY 1""".stripMargin)),

    "dedup_minhash_signatures" -> QueryDef(
      (s, d) => Dedup.minhashSignatures(table(s, d, "documents"),
        "doc_id", "text", ShingleK, NumHashes),
      Some(minhashSigsSql)),

    "dedup_minhash_lsh" -> QueryDef(
      (s, d) => Dedup.minhashNearDups(table(s, d, "documents"),
        "doc_id", "text", ShingleK, NumHashes, RowsPerBand,
        MinhashThreshold),
      Some(minhashLshSql)),

    "dedup_minhash_capped" -> QueryDef(
      (s, d) => Dedup.minhashNearDups(table(s, d, "documents"),
        "doc_id", "text", ShingleK, NumHashes, RowsPerBand,
        MinhashThreshold, maxBucket = CapBucket),
      Some(minhashCappedSql)),

    "dedup_simhash" -> QueryDef(
      (s, d) => Dedup.simhash(table(s, d, "documents"), "doc_id", "text",
        SimhashBits),
      Some(simhashSql)),

    "dedup_simhash_pairs" -> QueryDef(
      (s, d) => Dedup.simhashNearDups(table(s, d, "documents"),
        "doc_id", "text", SimhashBits, MaxHamming),
      Some(simhashPairsSql)),

    "dedup_ngram_jaccard" -> QueryDef(
      (s, d) => Dedup.ngramJaccardPairs(table(s, d, "documents"),
        "doc_id", "text", JaccardK, JaccardThreshold),
      Some(jaccardSql)),

    "dedup_edit_verified" -> QueryDef(
      (s, d) => Dedup.editVerifiedPairs(table(s, d, "documents"),
        "doc_id", "text", q = EditQ, maxEdit = EditMax),
      Some(editPairsSql)),

    "dedup_embedding_cosine" -> QueryDef(
      (s, d) => Dedup.embeddingNearDups(table(s, d, "embeddings"),
        "vec_id", "embedding", numPlanes = EmbPlanes,
        bandBits = EmbBandBits, threshold = EmbThreshold),
      Some(embCosineSql)),

    "ann_cosine_topk" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < AnnNumQueries), "vec_id", "embedding",
          AnnK)
      },
      Some(annSql)),

    // hard-negative mining: retrieve 2k deep, drop same-label
    // neighbors (the "positives" a contrastive objective must not
    // push away), re-rank the rest by retrieval order, keep k — the
    // nearest non-positives. The ranked list persists across its two
    // consumers (positive derivation + exclusion); the corpus label
    // lookup streams against the BROADCAST panel-sized list
    "ann_hard_negatives" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < AnnNumQueries)
        val ranked = Similarity.bruteForceTopK(emb, queries,
            "vec_id", "embedding", 2 * AnnK)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ql = queries.select(col("vec_id").as("query_id"),
          col("label").as("q_label"))
        val positives = emb
          .select(col("vec_id").as("neighbor_id"),
            col("label").as("n_label"))
          .join(broadcast(ranked.join(broadcast(ql), "query_id")),
            "neighbor_id")
          // null-safe equality: a NULL-label neighbor of a NULL-label
          // query IS a positive, exactly the complement of the
          // oracle's IS DISTINCT FROM (plain === would keep the
          // both-NULL pair as a negative and diverge)
          .filter(col("n_label") <=> col("q_label"))
          .select(col("query_id"), col("neighbor_id"))
        Dedup.releaseAfter(
          Similarity.hardNegatives(ranked, positives, AnnK), ranked)
      },
      Some(hardNegSql)),

    // label-noise audit: per query vector, how many of its k nearest
    // neighbors share its label — integer counts, one final division
    "ann_label_agreement" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Similarity.knnLabelAgreement(emb,
          emb.filter(col("vec_id") < AnnNumQueries),
          "vec_id", "embedding", "label", AnnK)
      },
      Some(annLabelSql)),

    "ann_ivf_topk" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val centroids = Similarity.seedCentroidsK(emb, "vec_id", "embedding",
          IvfK)
        val assigned = Similarity.ivfAssign(emb, centroids, "vec_id",
          "embedding")
        Similarity.ivfTopK(assigned, centroids,
          emb.filter(col("vec_id") < AnnNumQueries), "vec_id", "embedding",
          AnnK, nprobe = 4)
      },
      Some(ivfSql)),

    // the FIXED-nlist seeding (r16, r17 hash-rank): the k smallest
    // stable-hash rows seed the centroids, so nlist stays exactly k
    // as the corpus grows and on ANY id distribution. Since r18 the
    // whole IVF-serving family runs this spelling (IvfK = 32); this
    // row keeps the k = 20 configuration and its cross-round bench
    // identity as the scale-curve exhibit
    "ann_ivf_fixed_nlist" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val centroids = Similarity.seedCentroidsK(emb, "vec_id",
          "embedding", IvfFixedK)
        val assigned = Similarity.ivfAssign(emb, centroids, "vec_id",
          "embedding")
        Similarity.ivfTopK(assigned, centroids,
          emb.filter(col("vec_id") < AnnNumQueries), "vec_id",
          "embedding", AnnK, nprobe = 4)
      },
      Some(ivfFixedSql)),

    // the self-contained index build: kmeans-trained centroids (exact
    // integer sums, float-rounded for storage) feeding the same IVF
    // assign/probe/rank path — train + index + search in one verified
    // chain
    "ann_ivf_trained_topk" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val cents = Similarity.kmeansTrainExact(emb, "vec_id", "embedding",
            KmK, KmIters)
          .select(col("centroid_id"),
            transform(col("cent_sum"), x => x.cast("double").cast("float"))
              .as("embedding"))
        val assigned = Similarity.ivfAssign(emb, cents, "vec_id",
          "embedding")
        Similarity.ivfTopK(assigned, cents,
          emb.filter(col("vec_id") < AnnNumQueries), "vec_id", "embedding",
          AnnK, nprobe = 4)
      },
      Some(ivfTrainedSql)),

    // product quantization: seeded codebook -> zero-exchange encode ->
    // per-query LUT -> ADC ranking, rank-exact vs the oracle replaying
    // the whole chain (codebook choice included) in SQL
    "ann_pq_topk" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val cb = Similarity.pqTrainSampled(emb, "vec_id", "embedding",
          PqM, PqKsub)
        val encoded = Similarity.pqEncode(emb, cb, "vec_id", "embedding")
        Similarity.pqTopK(encoded, cb,
          emb.filter(col("vec_id") < AnnNumQueries),
          "vec_id", "embedding", AnnK)
      },
      Some(pqSql)),

    // PQ recall@k vs the exact baseline — BOTH paths replayed by the
    // oracle, so the quality number itself is verified, not asserted
    "ann_pq_recall" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val cb = Similarity.pqTrainSampled(emb, "vec_id", "embedding",
          PqM, PqKsub)
        val queries = emb.filter(col("vec_id") < AnnNumQueries)
        val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
          "embedding", AnnK)
        val approx = Similarity.pqTopK(
          Similarity.pqEncode(emb, cb, "vec_id", "embedding"), cb,
          queries, "vec_id", "embedding", AnnK)
        Similarity.recallAudit(exact, approx)
      },
      Some(pqRecallSql)),

    // the 4x-compressed index composed with inverted-file search: the
    // whole IVF pipeline (centroids, assignment, probes, ranking) over
    // int8-reconstructed vectors — rank-exact vs the oracle
    "ann_ivf_quantized_topk" -> QueryDef(
      (s, d) => {
        import graft.functions.VectorOps
        val dq = table(s, d, "embeddings").select(col("vec_id"),
          VectorOps.dequantizeInt8(VectorOps.quantizeInt8(col("embedding")))
            .as("embedding"))
        val centroids = Similarity.seedCentroidsK(dq, "vec_id", "embedding",
          IvfK)
        val assigned = Similarity.ivfAssign(dq, centroids, "vec_id",
          "embedding")
        Similarity.ivfTopK(assigned, centroids,
          dq.filter(col("vec_id") < AnnNumQueries), "vec_id", "embedding",
          AnnK, nprobe = 4)
      },
      Some(ivfQuantSql)),

    "text_lang_id" -> QueryDef(
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("predicted_lang")),
      Some(langIdSql)),

    "text_classifier_score" -> QueryDef(
      (s, d) => TextAnalysis.hashedClassifierScore(
        table(s, d, "documents"), "doc_id", "text", ClsWeights),
      Some(classifierSql)),

    // classifier TRAINING inside the engine: label = "is the DSIR
    // target slice", weights = fixed-point smoothed per-bucket class
    // posteriors — exact integer arithmetic end to end
    "classifier_train" -> QueryDef(
      (s, d) => TextAnalysis.nbTrainHashed(table(s, d, "documents"),
        col("source") === DsirTarget, "text", ClsDim),
      Some(nbTrainSql)),

    // the eighth composed pipeline: train the classifier on the target
    // slice, apply it as a SCAN PREDICATE (exact integer threshold),
    // exact-dedup the survivors on normalized text, digest per source —
    // set-dependent through every stage
    "pipeline_classified_curate" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val w = TextAnalysis.nbWeightsArray(
          TextAnalysis.nbTrainHashed(docs,
            col("source") === DsirTarget, "text", ClsDim), ClsDim)
        val kept = docs.filter(
          TextAnalysis.classifierKeep(col("text"), w, CurateMinScore))
        val keepIds = Dedup.exact(
          kept.select(col("doc_id"),
            TextAnalysis.normalizeForHash(col("text")).as("__norm")),
          "doc_id", "__norm").select(col("keep_id").as("doc_id"))
        kept.join(keepIds, "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.wsTokenCount(col("text")).cast("long"))
              .as("n_tokens"))
      },
      Some(classifiedCurateSql)),

    // train -> collect the dim-int model artifact -> serve through the
    // UNCHANGED hashedClassifierScore literal-array path
    "classifier_train_score" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val w = TextAnalysis.nbWeightsArray(
          TextAnalysis.nbTrainHashed(docs,
            col("source") === DsirTarget, "text", ClsDim), ClsDim)
        TextAnalysis.hashedClassifierScore(docs, "doc_id", "text", w)
      },
      Some(nbTrainScoreSql)),

    "pipeline_filter_funnel" -> QueryDef(
      (s, d) => TextAnalysis.filterFunnel(table(s, d, "documents"),
        "text", lang = "en", minWords = GopherMinWords,
        maxRepetition = FunnelRepMax, minQuality = FunnelQualityMin),
      Some(funnelSql)),

    "text_quality_score" -> QueryDef(
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality_score")),
      Some(qualitySql)),

    "text_token_counts" -> QueryDef(
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeTokenEstimate(col("text")).as("bpe_est_tokens")),
      Some(tokenCountSql)),

    "doc_fingerprint" -> QueryDef(
      (s, d) => TextAnalysis.fingerprint(table(s, d, "documents"),
        "doc_id", "text"),
      Some(fingerprintSql)),

    "media_stats" -> QueryDef(
      (s, d) => Multimodal.mediaStats(
        table(s, d, "documents").select(col("doc_id").as("media_id"),
          lit("text-bytes").as("modality"),
          col("text").cast("binary").as("payload"))),
      Some("""SELECT doc_id AS media_id, 'text-bytes' AS modality,
             |  CAST(length(text) AS BIGINT) AS n_bytes,
             |  md5(text) AS checksum
             |FROM documents""".stripMargin)),

    "media_frame_sample" -> QueryDef(
      (s, d) => Multimodal.sampleFrames(
        table(s, d, "documents").select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload")),
        frameBytes = 64, everyNth = 2),
      Some("""SELECT media_id, CAST(frame_no AS INT) AS frame_no FROM (
             |  SELECT doc_id AS media_id,
             |    unnest(range(0, greatest(
             |      CAST(floor(length(text) / 64) AS INT), 1))) AS frame_no
             |  FROM documents)
             |WHERE frame_no % 2 = 0""".stripMargin)),

    // REAL decode end to end: the PGM fixture's bytes are parsed by the
    // pure-JVM MediaCodec (header walk -> raster) and the decoded dims +
    // 2-D block phash are hash-exact vs the oracle replaying the pixel
    // math from the shared rpad rule
    "media_features_decoded" -> QueryDef(
      (s, d) => Multimodal.decodedStats(
        mediaFixture(s, d, rgb = false), "media_id", "payload"),
      Some(s"""WITH $pgmBvCtes,
              |$phashFpCtes
              |SELECT media_id, 'pgm' AS format, w AS width, h AS height,
              |  CAST(1 AS INT) AS channels,
              |  CAST(w*h AS BIGINT) AS n_units, phash
              |FROM fp""".stripMargin)),

    // same through the 3-channel PPM decoder (interleaved RGB raster ->
    // exact-integer channel-sum luminance)
    "media_decode_ppm" -> QueryDef(
      (s, d) => Multimodal.decodedStats(
        mediaFixture(s, d, rgb = true), "media_id", "payload"),
      Some(s"""WITH $ppmBvCtes,
              |$phashFpCtes
              |SELECT media_id, 'ppm' AS format, w AS width, h AS height,
              |  CAST(3 AS INT) AS channels,
              |  CAST(w*h AS BIGINT) AS n_units, phash
              |FROM fp""".stripMargin)),

    // perceptual image dedup over DECODED pixels in the HISTORICAL
    // 8-bit-band geometry — kept as the oracle-parity contrast row for
    // the published narrow-band algorithm (n²/256 candidates per band,
    // measured ×303 at factor 100 — BASELINE.md r18) and deliberately
    // NOT a bench headline since r19; the operator's default (and the
    // headline row below) is the 16-bit scale geometry
    "media_phash_pairs" -> QueryDef(
      (s, d) => Multimodal.phashNearDupsDecoded(
        mediaFixture(s, d, rgb = false),
        "media_id", "payload", maxHamming = PhashMaxHamming,
        bandBits = 8),
      Some(phashPairsSql)),

    // the SAME operator in its corpus-scale configuration — since r19
    // the OPERATOR DEFAULT, so the short spelling is the 100 TB plan:
    // 16-bit bands (4 × 65,536 buckets vs 8 × 256) keep pigeonhole
    // certainty for ham <= 3 with candidate volume n²/65,536 — ×16.2
    // at factor 100 vs the 8-bit row's ×303, a measured 30× win
    "media_phash_pairs_scale" -> QueryDef(
      (s, d) => Multimodal.phashNearDupsDecoded(
        mediaFixture(s, d, rgb = false),
        "media_id", "payload", maxHamming = PhashMaxHamming),
      Some(phashPairsScaleSql)),

    // image dedup end to end: phash pairs -> connected components ->
    // every media row labeled (component, canonical?) — the multimodal
    // twin of the text keep-list path, one row per input medium
    "media_dedup_canonical" -> QueryDef(
      (s, d) => {
        val media = mediaFixture(s, d, rgb = false)
        val pairs = Multimodal.phashNearDupsDecoded(media, "media_id",
          "payload", maxHamming = PhashMaxHamming)
        val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
        media.select(col("media_id"))
          .join(labels.withColumnRenamed("id", "media_id"),
            Seq("media_id"), "left")
          .select(col("media_id"),
            coalesce(col("component_id"), col("media_id"))
              .as("component_id"))
          .withColumn("is_canonical",
            col("media_id") === col("component_id"))
      },
      Some(phashCanonicalSql)),

    // the batched mapPartitions extraction path (mapInPandas contract)
    // over the decoded kernel — provenance columns have an exact oracle
    // (the oracle rebuilds the identical PNM payload string); the float
    // block-mean features are parity-asserted vs MediaBlockMeans in specs
    "media_features_batch" -> QueryDef(
      (s, d) => Multimodal.extractFeatures(
        mediaFixture(s, d, rgb = false)
          .select(col("media_id"), lit("image").as("modality"),
            col("payload")))
        .select(col("media_id"), col("modality"), col("n_bytes"),
          col("checksum")),
      Some(s"""WITH $mediaDimsCte,
              |pay AS (SELECT media_id,
              |    concat('P5', chr(10), CAST(w AS VARCHAR), ' ',
              |      CAST(h AS VARCHAR), chr(10), '255', chr(10),
              |      rpad(text, w*h, text)) AS s
              |  FROM d)
              |SELECT media_id, 'image' AS modality,
              |  CAST(length(s) AS BIGINT) AS n_bytes, md5(s) AS checksum
              |FROM pay""".stripMargin)),

    "text_repetition_ratio" -> QueryDef(
      (s, d) => table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text"), k = 3).as("rep_ratio")),
      Some(repRatioSql)),

    // ---- deterministic sampling / splitting ---------------------------

    "sample_hash_split" -> QueryDef(
      (s, d) => graft.operators.Sampling.hashSplit(
        table(s, d, "documents").select(col("doc_id")),
        "doc_id", Seq("train" -> 0.98, "valid" -> 0.01, "test" -> 0.01)),
      Some(s"""SELECT doc_id,
              |  CASE WHEN ${graft.operators.Sampling.bucketSql("doc_id")}
              |         < 9800 THEN 'train'
              |       WHEN ${graft.operators.Sampling.bucketSql("doc_id")}
              |         < 9900 THEN 'valid'
              |       ELSE 'test' END AS split
              |FROM documents""".stripMargin)),

    "sample_stratified" -> QueryDef(
      (s, d) => graft.operators.Sampling.stratifiedSampleByHash(
        events(s, d).select(col("event_id"), col("event_type"),
          col("user_id")),
        "event_id", "event_type",
        Map("click" -> 0.10, "view" -> 0.05), defaultFraction = 1.0),
      Some(s"""SELECT event_id, event_type, user_id FROM events
              |WHERE ${graft.operators.Sampling.bucketSql("event_id")} <
              |  CASE WHEN event_type = 'click' THEN 1000
              |       WHEN event_type = 'view' THEN 500
              |       ELSE 10000 END""".stripMargin)),

    // ---- decontamination / chunk dedup / mixture planning -------------

    "decontam_overlap" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        Decontamination.contaminationHits(
          docs.filter(col("doc_id") % BenchMod =!= 0), "doc_id", "text",
          Decontamination.benchmarkGrams(
            docs.filter(col("doc_id") % BenchMod === 0), "text",
            DecontamK),
          DecontamK)
      },
      Some(decontamSql)),

    // SEMANTIC decontamination (r18): the embedding-space complement
    // of decontam_overlap — paraphrased eval leakage that shares no
    // surface k-gram still clears the cosine screen. Same corpus/
    // batch carve as dedup_semantic_against with the roles read as
    // decontamination (the batch IS the benchmark); the report keeps
    // one row per training doc, zeros included. Not bench-tracked:
    // its cost profile is dedup_semantic_against plus one batch-sized
    // left join, already drift-visible there.
    "decontam_semantic" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Decontamination.semanticContamination(
          emb.filter(col("vec_id") % IncrMod =!= 0),
          emb.filter(col("vec_id") % IncrMod === 0),
          "vec_id", "embedding", SemThreshold,
          targetClusterSize = SemEvery)
      },
      Some(semanticDecontamSql)),

    "dedup_chunk_fraction" -> QueryDef(
      (s, d) => Dedup.chunkDupStats(table(s, d, "documents"),
        "doc_id", "text", ChunkW),
      Some(chunkDupSql)),

    "sample_mixture_plan" -> QueryDef(
      (s, d) => graft.operators.Sampling.mixturePlan(
        table(s, d, "documents"), "source", "text", MixtureWeights),
      Some(mixturePlanSql)),

    "sample_epoch_plan" -> QueryDef(
      (s, d) => graft.operators.Sampling.epochPlan(
        table(s, d, "documents"), "source", "text",
        EpochBudget, EpochWeights),
      Some(epochPlanSql)),

    "ann_recall_audit" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < AnnNumQueries)
        val exact = Similarity.bruteForceTopK(emb, queries,
          "vec_id", "embedding", AnnK)
        val centroids = Similarity.seedCentroidsK(emb, "vec_id",
          "embedding", IvfK)
        val assigned = Similarity.ivfAssign(emb, centroids, "vec_id",
          "embedding")
        val approx = Similarity.ivfTopK(assigned, centroids, queries,
          "vec_id", "embedding", AnnK, nprobe = 4)
        Similarity.recallAudit(exact, approx)
      },
      Some(recallAuditSql)),

    "dedup_incremental_minhash" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        Dedup.minhashNearDupsAgainst(
          docs.filter(col("doc_id") % IncrMod === 0),
          Dedup.minhashSignatures(
            docs.filter(col("doc_id") % IncrMod =!= 0),
            "doc_id", "text", ShingleK, NumHashes),
          "doc_id", "text", ShingleK, NumHashes, RowsPerBand,
          MinhashThreshold)
      },
      Some(incrDedupSql)),

    // the exact-Jaccard member of the `...Against` family (r13): the
    // batch's prefixes are ordered by the index's FROZEN df order and
    // joined against the stored corpus prefix index; exact verification
    // from the stored shingle sets. The oracle (like jaccardSql) skips
    // the prefix filter — sound-only pruning, so any-shared-gram
    // candidates verify to the identical pair set.
    "dedup_incremental_jaccard" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val idx = Dedup.buildJaccardIndex(
          docs.filter(col("doc_id") % IncrMod =!= 0), "doc_id", "text",
          JaccardK, JaccardThreshold)
        Dedup.ngramJaccardAgainst(
          docs.filter(col("doc_id") % IncrMod === 0), idx,
          "doc_id", "text")
      },
      // grams hashed with the engine's StableHash in BOTH engines —
      // Jaccard over distinct hashed grams, so a hash collision
      // collapses the same pair of grams on both sides
      Some(incrJaccardSql)),

    // the same probe served from a PUBLISHED index directory: the
    // AllPairs tables + prefix-gram Bloom + parameters round-trip
    // through parquet and `_index_meta.json`, and the probe runs with
    // the restored artifacts only. The oracle is IDENTICAL to
    // dedup_incremental_jaccard's — hash-equality proves publish/serve
    // (including the Bloom prefilter) changes nothing.
    "dedup_jaccard_against_index" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-jacidx").toString
        Dedup.writeJaccardIndex(
          Dedup.buildJaccardIndex(
            docs.filter(col("doc_id") % IncrMod =!= 0), "doc_id", "text",
            JaccardK, JaccardThreshold),
          dir)
        Dedup.ngramJaccardAgainst(
          docs.filter(col("doc_id") % IncrMod === 0),
          Dedup.readJaccardIndex(s, dir), "doc_id", "text")
      },
      Some(incrJaccardSql)),

    // the manifest-pruned path probe: dfreq/prefix are published
    // range-sorted by gram hash, the stored sets range-sorted by doc
    // id (r15), and the probe opens only the shard files containing
    // its batch's grams / candidate ids — the exact verification no
    // longer scans the corpus set table whole. Oracle identical to
    // dedup_incremental_jaccard's: pruning changes what is read, never
    // what is answered.
    "dedup_jaccard_against_pruned" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-jacprune").toString
        Dedup.writeJaccardIndex(
          Dedup.buildJaccardIndex(
            docs.filter(col("doc_id") % IncrMod =!= 0), "doc_id", "text",
            JaccardK, JaccardThreshold),
          dir, shards = 16)
        Dedup.ngramJaccardAgainstPath(
          docs.filter(col("doc_id") % IncrMod === 0), dir,
          "doc_id", "text")
      },
      Some(incrJaccardSql)),

    // the embedding-cosine member of the `...Against` family (r13): the
    // ingest batch is signed with the INDEX'S hyperplanes (built from
    // the corpus slice only — the probe may never re-derive planes),
    // band-joined against the persisted corpus signatures, and
    // verified by exact cosine against the corpus vectors.
    "dedup_incremental_embedding" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") % IncrMod =!= 0)
        val idx = Dedup.buildEmbeddingIndex(corpus, "vec_id",
          "embedding", EmbPlanes, EmbBandBits)
        Dedup.embeddingNearDupsAgainst(
          emb.filter(col("vec_id") % IncrMod === 0), corpus, idx,
          "vec_id", "embedding", EmbThreshold)
      },
      Some(incrEmbeddingSql)),

    // the SAME probe in the operator's documented 100 TB geometry:
    // 32 planes / 16-bit bands (2 × 65,536 buckets) instead of the
    // 16/4 test geometry (4 × 16 buckets). The r18 factor-100 curve
    // measured the test geometry quadratic (~n²/16 candidates per
    // band, 169 s at f100); the wide bands are the production point
    // on the same recall/cost knob, oracle-verified like the default
    // and bench-tracked beside it. Output is the per-batch-vector dup
    // REPORT (every probe vector, its surviving-dup count, its first
    // dup) rather than the bare pair list: the fixture's near-dups
    // top out at cosine ~0.45, so the wide bands honestly pass ~zero
    // pairs at the small SFs, and an empty pair list would be a
    // vacuous oracle row — the report keeps one hash-checked row per
    // probe vector (zeros included) at every SF
    "dedup_incremental_embedding_scale" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") % IncrMod =!= 0)
        val batch = emb.filter(col("vec_id") % IncrMod === 0)
        val idx = Dedup.buildEmbeddingIndex(corpus, "vec_id",
          "embedding", EmbPlanesScale, EmbBandBitsScale)
        val pairs = Dedup.embeddingNearDupsAgainst(batch, corpus, idx,
          "vec_id", "embedding", EmbThreshold)
        batch.select(col("vec_id").as("new_id"))
          .join(pairs, Seq("new_id"), "left")
          .groupBy(col("new_id"))
          .agg(count(col("corpus_id")).as("n_dups"),
            min(col("corpus_id")).as("first_dup"))
      },
      Some(incrEmbeddingScaleSql)),

    // the same probe served from a PUBLISHED index directory (planes +
    // signatures + band-key Bloom + parameters through parquet and
    // `_index_meta.json`). Oracle identical to
    // dedup_incremental_embedding's: publish/serve and the Bloom
    // prefilter must change nothing.
    "dedup_embedding_against_index" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") % IncrMod =!= 0)
        val dir = java.nio.file.Files
          .createTempDirectory("graft-embidx").toString
        Dedup.writeEmbeddingIndex(
          Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
            EmbPlanes, EmbBandBits),
          dir)
        Dedup.embeddingNearDupsAgainst(
          emb.filter(col("vec_id") % IncrMod === 0), corpus,
          Dedup.readEmbeddingIndex(s, dir),
          "vec_id", "embedding", EmbThreshold)
      },
      Some(incrEmbeddingSql)),

    // the embedding banded-postings twin: candidate generation reads
    // only the shards containing the batch's band keys, and — with the
    // corpus vector table published beside the index (r15) — the
    // exact-cosine verification reads only the shards holding
    // candidate ids instead of scanning the vector table whole. Oracle
    // identical to dedup_incremental_embedding's: the layout changes
    // WHAT IS READ, never what is answered.
    "dedup_embedding_against_postings" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") % IncrMod =!= 0)
        val dir = java.nio.file.Files
          .createTempDirectory("graft-embband").toString
        Dedup.writeBandedEmbeddingIndex(
          Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
            EmbPlanes, EmbBandBits),
          dir, shards = 16)
        Dedup.writeIndexVectors(corpus, dir, "vec_id", "embedding",
          shards = 16)
        // sidecar-only spelling: the published vectors ARE the corpus
        // table here, so don't pass a second copy to be ignored
        Dedup.embeddingNearDupsAgainstBandedIndexOpt(
          emb.filter(col("vec_id") % IncrMod === 0), None, dir,
          "vec_id", "embedding", EmbThreshold,
          Dedup.DefaultMaxProbePoints, None)
      },
      Some(incrEmbeddingSql)),

    // the simhash member of the `...Against` family (r13): a batch is
    // fingerprinted and screened against the persisted corpus simhash
    // table — byte-band candidates, Hamming-verified, corpus never
    // re-fingerprinted. Also serves media aHash tables via the shared
    // hammingNearDupsAgainst core.
    "dedup_incremental_simhash" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        Dedup.simhashNearDupsAgainst(
          docs.filter(col("doc_id") % IncrMod === 0),
          Dedup.simhash(docs.filter(col("doc_id") % IncrMod =!= 0),
            "doc_id", "text", SimhashBits),
          "doc_id", "text", SimhashBits, MaxHamming)
      },
      Some(incrSimhashSql)),

    // the probe-optimized banded-postings layout: postings range-sorted
    // by band-key hash into manifest-indexed shards, probe reads ONLY
    // the shards containing the batch's band keys. Oracle identical to
    // dedup_incremental_minhash's: the layout changes WHAT IS READ,
    // never what is answered.
    "dedup_minhash_against_postings" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-bandidx").toString
        Dedup.writeBandedSignatureIndex(
          Dedup.minhashSignatures(
            docs.filter(col("doc_id") % IncrMod =!= 0),
            "doc_id", "text", ShingleK, NumHashes),
          "doc_id", dir, NumHashes, RowsPerBand, shards = 16, ShingleK)
        Dedup.minhashNearDupsAgainstBandedIndex(
          docs.filter(col("doc_id") % IncrMod === 0), dir,
          "doc_id", "text", MinhashThreshold)
      },
      Some(incrDedupSql)),

    // the Bloom-prefiltered twin of dedup_incremental_minhash: the
    // publish-time band-key Bloom drops definite-miss batch keys before
    // the broadcast build. The oracle is IDENTICAL to the unbloomed
    // query's — hash-equality proves the Bloom never drops a true
    // collision (no false negatives), the whole point of the filter.
    "dedup_minhash_against_bloomed" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val index = Dedup.minhashSignatures(
          docs.filter(col("doc_id") % IncrMod =!= 0),
          "doc_id", "text", ShingleK, NumHashes)
        val bloom = Dedup.buildMinhashBandBloom(index, NumHashes,
          RowsPerBand)
        Dedup.minhashNearDupsAgainstBloomed(
          docs.filter(col("doc_id") % IncrMod === 0), index,
          "doc_id", "text", bloom, bloomK = 5,
          ShingleK, NumHashes, RowsPerBand, MinhashThreshold)
      },
      Some(incrDedupSql)),

    // the banded-postings MAINTAINER under the hard hash gate (r20) —
    // the same end-state upgrade the WalTail slot path (r18) and the
    // hierarchy rebuild (r19) got: the corpus split streams through
    // StreamingBandedSignatureIndex in three epochs (bootstrap base,
    // one append, then the compactEvery=2 boundary folds the tail into
    // a fresh range-sorted base), and the batch is probed against the
    // MAINTAINED layout. The oracle is IDENTICAL to
    // dedup_incremental_minhash's: a maintainer that lost an epoch,
    // double-applied a replay, broke the shard sort, or folded the
    // tail wrongly cannot hash-match the batch-built index's answer.
    // The fold's completeness is asserted in-query: a run whose meta
    // still points at the bootstrap base fails the row.
    "dedup_minhash_maintained_probe" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-bandstream").toString
        val (src, idx) = (s"$dir/in", s"$dir/idx")
        new java.io.File(src).mkdirs()
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING")
        (1 to 3).foreach { i =>
          docs.filter(col("doc_id") % IncrMod =!= 0 &&
              col("doc_id") % 3 === (i - 1))
            .select(col("doc_id"), col("text"))
            .coalesce(1).write.parquet(s"$src/f$i")
          val q = graft.streaming.StreamingBandedSignatureIndex.start(
            s, s"$src/*", schema, idx, s"$dir/pairs", s"$dir/ckpt",
            "doc_id", "text", ShingleK, NumHashes, RowsPerBand,
            shards = 16, compactEvery = 2,
            threshold = MinhashThreshold)
          q.awaitTermination(300000); q.stop()
        }
        val root = graft.sink.IndexLayout.readMeta(s, idx)
        require(Dedup.metaStrOpt(root, "postings_dir")
            .contains("postings_v2"),
          s"epoch 2's boundary must have folded the tail into a fresh " +
            s"base, meta points at ${
              Dedup.metaStrOpt(root, "postings_dir")}")
        val out = Dedup.minhashNearDupsAgainstBandedIndex(
            docs.filter(col("doc_id") % IncrMod === 0), idx,
            "doc_id", "text", MinhashThreshold)
          .localCheckpoint(true)
        val fsys = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(s.sessionState.newHadoopConf())
        fsys.delete(new org.apache.hadoop.fs.Path(dir), true)
        out
      },
      Some(incrDedupSql)),

    // the embedding maintainer's end-state gate (r20) — the two-table
    // twin of dedup_minhash_maintained_probe: three epochs stream
    // through StreamingBandedEmbeddingIndex (band postings AND the
    // vector sidecar its exact-cosine verification reads; the boundary
    // folds BOTH), then the batch probes the maintained layout
    // sidecar-only. Epochs are sliced by id RANGE with the smallest
    // ids first: the maintainer freezes its hyperplanes from the
    // bootstrap batch, and the batch oracle's planes are the
    // numPlanes smallest-id corpus vectors, so a first slice holding
    // them makes frozen-at-bootstrap plane-identical to batch-built —
    // and the oracle (incrEmbeddingSql, same as the incremental and
    // published-index rows) must then hash-match exactly.
    "dedup_embedding_maintained_probe" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") % IncrMod =!= 0)
        val dir = java.nio.file.Files
          .createTempDirectory("graft-embstream").toString
        val (src, idx) = (s"$dir/in", s"$dir/idx")
        new java.io.File(src).mkdirs()
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, embedding ARRAY<FLOAT>")
        val slices = Seq(col("vec_id") <= 18,
          col("vec_id") > 18 && col("vec_id") <= 60,
          col("vec_id") > 60)
        slices.zipWithIndex.foreach { case (p, i) =>
          corpus.filter(p).select(col("vec_id"), col("embedding"))
            .coalesce(1).write.parquet(s"$src/f$i")
          val q = graft.streaming.StreamingBandedEmbeddingIndex.start(
            s, s"$src/*", schema, idx, s"$dir/pairs", s"$dir/ckpt",
            "vec_id", "embedding", EmbPlanes, EmbBandBits,
            shards = 16, compactEvery = 2, threshold = EmbThreshold)
          q.awaitTermination(300000); q.stop()
        }
        val root = graft.sink.IndexLayout.readMeta(s, idx)
        require(Dedup.metaStrOpt(root, "postings_dir")
            .contains("postings_v2"),
          s"epoch 2's boundary must have folded both tables, meta " +
            s"points at ${Dedup.metaStrOpt(root, "postings_dir")}")
        val out = Dedup.embeddingNearDupsAgainstBandedIndexOpt(
            emb.filter(col("vec_id") % IncrMod === 0), None, idx,
            "vec_id", "embedding", EmbThreshold,
            Dedup.DefaultMaxProbePoints, None)
          .localCheckpoint(true)
        val fsys = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(s.sessionState.newHadoopConf())
        fsys.delete(new org.apache.hadoop.fs.Path(dir), true)
        out
      },
      Some(incrEmbeddingSql)),

    "text_normalize" -> QueryDef(
      (s, d) => table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.normalizeForHash(col("text")).as("norm_text"),
        StableHash.hash60(TextAnalysis.normalizeForHash(col("text")))
          .as("norm_hash")),
      Some(s"""SELECT doc_id,
              |  trim(regexp_replace(regexp_replace(lower(text),
              |    '[^\\p{L}\\p{N}\\s]+', ' ', 'g'), '\\s+', ' ', 'g'))
              |    AS norm_text,
              |  ${StableHash.hash60Sql(
                   "trim(regexp_replace(regexp_replace(lower(text), " +
                     "'[^\\p{L}\\p{N}\\s]+', ' ', 'g'), '\\s+', ' ', 'g'))")}
              |    AS norm_hash
              |FROM documents""".stripMargin)),

    "text_top_ngrams" -> QueryDef(
      (s, d) => TextAnalysis.topNgrams(table(s, d, "documents"),
        "text", TopNgramK, TopNgramN),
      Some(topNgramsSql)),

    "text_bigram_rarity" -> QueryDef(
      (s, d) => TextAnalysis.bigramRarity(table(s, d, "documents"),
        "doc_id", "text"),
      Some(s"""WITH $wordsCte, ${shinglesCte(2)},
              |hh AS (SELECT doc_id,
              |  ${StableHash.hash60Sql("shingle")} AS h FROM sh),
              |occ AS (SELECT doc_id,
              |  count(*) OVER (PARTITION BY h) AS df FROM hh)
              |SELECT doc_id, count(*) AS n_bigrams,
              |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_hapax,
              |  CAST(sum(df) AS DOUBLE) / count(*) AS mean_df
              |FROM occ GROUP BY doc_id""".stripMargin)),

    "sample_pack_plan" -> QueryDef(
      (s, d) => graft.operators.Sampling.packPlan(
        table(s, d, "documents"), "doc_id", "text",
        PackSeqLen, PackShards),
      Some(packPlanSql)),

    "dedup_connected_components" -> QueryDef(
      (s, d) => Dedup.connectedComponents(
        Dedup.minhashNearDups(table(s, d, "documents"), "doc_id", "text",
          ShingleK, NumHashes, RowsPerBand, MinhashThreshold),
        "id_a", "id_b"),
      Some(ccSql)),

    // Incremental component maintenance: CC over the 90% "existing"
    // corpus, then the 10% batch's pairs (in-batch + batch-vs-corpus via
    // the signature index) merged with mergeComponents — which recomputes
    // ONLY touched components. The oracle is the FULL-corpus rebuild
    // (same ccSql as dedup_connected_components): hash-equality IS the
    // proof that the incremental path equals the rebuild.
    "dedup_incremental_components" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val old = docs.filter(col("doc_id") % IncrMod =!= 0)
        val batch = docs.filter(col("doc_id") % IncrMod === 0)
        val oldLabels = Dedup.connectedComponents(
          Dedup.minhashNearDups(old, "doc_id", "text", ShingleK,
            NumHashes, RowsPerBand, MinhashThreshold),
          "id_a", "id_b")
        val cross = Dedup.minhashNearDupsAgainst(batch,
            Dedup.minhashSignatures(old, "doc_id", "text", ShingleK,
              NumHashes),
            "doc_id", "text", ShingleK, NumHashes, RowsPerBand,
            MinhashThreshold)
          .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
        val inBatch = Dedup.minhashNearDups(batch, "doc_id", "text",
            ShingleK, NumHashes, RowsPerBand, MinhashThreshold)
          .select(col("id_a"), col("id_b"))
        Dedup.mergeComponents(oldLabels, cross.union(inBatch),
          "id_a", "id_b")
      },
      Some(ccSql)),

    // priority-aware canonical keep: within each near-dup cluster keep
    // the target-source member (ties to smallest id) — the "prefer the
    // curated copy over the crawl mirror" rule
    "dedup_keep_priority" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val labels = Dedup.connectedComponents(
          Dedup.minhashNearDups(docs, "doc_id", "text", ShingleK,
            NumHashes, RowsPerBand, MinhashThreshold),
          "id_a", "id_b")
        Dedup.keepCanonicalBy(docs, "doc_id", labels,
            when(col("source") === DsirTarget, 1).otherwise(0))
          .select(col("doc_id"), col("source"))
      },
      Some(s"""WITH RECURSIVE $minhashLshCtes,
              |pairs AS ($minhashLshSelect),
              |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
              |reach(id, r) AS (
              |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              |  UNION
              |  SELECT e.u, reach.r FROM edges e
              |    JOIN reach ON reach.id = e.v),
              |lab AS (SELECT id, min(r) AS component_id FROM reach
              |  GROUP BY id),
              |rk AS (SELECT id, row_number() OVER (
              |    PARTITION BY component_id
              |    ORDER BY (CASE WHEN d.source = '$DsirTarget'
              |      THEN 1 ELSE 0 END) DESC, id ASC) AS rn
              |  FROM lab JOIN documents d ON d.doc_id = lab.id),
              |losers AS (SELECT id FROM rk WHERE rn > 1)
              |SELECT doc_id, source FROM documents
              |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin)),

    // SemDeDup: seed centroids -> nearest-centroid assignment (the same
    // ivfAssign the ANN index uses) -> exact cosine only within clusters.
    // DELIBERATELY still the every-knob seeding (unlike the IVF-serving
    // family, re-spelled to fixed k in r18): SemDeDup's verification is
    // exact pairwise WITHIN clusters, so cluster SIZE is the cost knob —
    // every=50 bounds it (~50 members) and keeps verification linear in
    // the corpus (n×25 pairs), at the price of a corpus-proportional
    // nlist in the assignment broadcast. Fixed k would invert that:
    // bounded broadcast, quadratic n²/2k verification. The spelling
    // that escapes the trade is dedup_semantic_pairs_scale below
    // (two-level sqrt-sized assignment, ×209 vs ×9.6 at factor 100 —
    // BASELINE.md r18); this row stays as the published-algorithm
    // oracle, and the approximate production path for embedding pairs
    // remains the banded LSH family (embeddingNearDups / the
    // incremental probes).
    "dedup_semantic_pairs" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val centroids = Similarity.seedCentroids(emb, "vec_id",
          "embedding", every = SemEvery)
        val assigned = Similarity.ivfAssign(emb, centroids, "vec_id",
          "embedding")
        Dedup.semanticNearDups(assigned, "vec_id", "embedding",
          "cluster", SemThreshold)
      },
      Some(semanticSql)),

    // SemDeDup at corpus scale (r18): the same exact intra-cluster
    // verification, but the assignment is TWO-LEVEL — k coarse
    // centroids (bounded, sqrt-sized broadcast) then k sub-seeds per
    // cell (joined BY CELL KEY, never broadcast), with
    // k = ceil(sqrt(n/50)) derived from the corpus count so cluster
    // population stays ~50 at EVERY scale. This closes the
    // dedup_semantic_pairs caveat above: verification stays n×25
    // pairs (linear), assignment is n·2k = O(n^1.5) compute split
    // across executors, the only broadcast is the k-row level-1
    // centroid set, and nothing corpus-proportional ever sits on the
    // driver. Oracle reproduces the sqrt sizing, both hash-rank seed
    // selections, and both argmax assignments rank-for-rank.
    "dedup_semantic_pairs_scale" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val assigned = Similarity.assignHierarchicalAuto(emb, "vec_id",
          "embedding", targetClusterSize = SemEvery)
        Dedup.semanticNearDups(assigned, "vec_id", "embedding",
          "cluster", SemThreshold)
      },
      Some(semanticScaleSql)),

    // incremental SemDeDup — the `...Against` member for the cluster
    // index: the hierarchy (seeds AND sqrt sizing derived from the
    // CORPUS split only — a probe may never re-derive them from data
    // that includes the batch) is built once; the batch is assigned
    // through the same two argmax levels against the persisted seeds
    // and verified exactly against ITS cluster's corpus members only.
    // Probe cost: |batch| × ~target cosines + two bounded seed joins,
    // independent of corpus size when the assignment is stored
    // partitioned by cluster.
    "dedup_semantic_against" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val corp = emb.filter(col("vec_id") % IncrMod =!= 0)
        val batch = emb.filter(col("vec_id") % IncrMod === 0)
        val idx = Similarity.buildHierarchyIndexAuto(corp, "vec_id",
          "embedding", targetClusterSize = SemEvery)
        val asg = Similarity.assignToHierarchy(batch, idx, "vec_id",
          "embedding")
        Dedup.semanticNearDupsAgainst(asg, idx.assigned, "vec_id",
          "embedding", "cluster", SemThreshold)
      },
      Some(semanticAgainstSql)),

    // the same probe served from a PUBLISHED hierarchy layout
    // (centroids + sub-seeds + bucket-partitioned assignment +
    // _index_meta.json): the batch's cluster ids prune the scan —
    // bucket (= cluster mod 4096) as a partition filter plus the
    // cluster IN list against row-group stats on the cluster-sorted
    // files. Oracle identical to dedup_semantic_against's:
    // publish/serve and the pruning must change nothing. Scale note:
    // this row's bench number INCLUDES the inline publish; r18
    // measured the pre-bucketing hive layout's n/target directory
    // fan-out at ×9.9 (BASELINE.md), which the r19 bucketed layout
    // caps at 4096 dirs at any corpus size.
    "dedup_semantic_against_index" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val corp = emb.filter(col("vec_id") % IncrMod =!= 0)
        val batch = emb.filter(col("vec_id") % IncrMod === 0)
        val dir = java.nio.file.Files
          .createTempDirectory("graft-hieridx").toString
        Similarity.writeHierarchyIndex(
          Similarity.buildHierarchyIndexAuto(corp, "vec_id",
            "embedding", targetClusterSize = SemEvery),
          dir, "vec_id", "embedding")
        Similarity.semanticNearDupsAgainstIndex(batch, dir, "vec_id",
          "embedding", SemThreshold)
      },
      Some(semanticAgainstSql)),

    // the r19 drift-gated REBUILD under the hard hash gate — the same
    // upgrade r18 gave the WalTail slot path: three epochs stream
    // through the maintained hierarchy with the gate FORCED (a
    // negative threshold makes every compaction boundary rebuild), so
    // epoch 2's boundary replaces the bootstrap tree (sized and
    // seeded from the FIRST batch only) with one re-derived from the
    // FULL corpus. The end-state assignment must then equal a fresh
    // assignHierarchicalAuto over all rows — exactly the shared
    // hierarchy-CTE oracle — which a swap that leaked stale epochs,
    // kept old seeds, or resized wrongly cannot hash-match. The
    // swap's completeness is asserted in-query: a run whose meta
    // still points at the bootstrap generation fails the row.
    "dedup_semantic_rebuild_swap" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-hier-rebuild").toString
        val (src, idx) = (s"$dir/in", s"$dir/idx")
        new java.io.File(src).mkdirs()
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, embedding ARRAY<FLOAT>")
        (1 to 3).foreach { i =>
          emb.filter(col("vec_id") % 3 === (i - 1))
            .coalesce(1).write.parquet(s"$src/f$i")
          val q = graft.streaming.StreamingHierarchyIndex.start(s,
            s"$src/*", schema, idx, s"$dir/pairs", s"$dir/ckpt",
            "vec_id", "embedding", targetClusterSize = SemEvery,
            shards = 8, compactEvery = 2, threshold = SemThreshold,
            driftThreshold = -10.0)
          q.awaitTermination(300000); q.stop()
        }
        val root = graft.sink.IndexLayout.readMeta(s, idx)
        require(Dedup.metaStrOpt(root, "centroids_dir")
            .contains("centroids_v2"),
          s"epoch 2's boundary must have swapped in a rebuilt tree, " +
            s"meta points at ${Dedup.metaStrOpt(root, "centroids_dir")}")
        val out = graft.sink.IndexLayout.readPostings(s, idx, root,
            points = None, maxEpochExclusive = None,
            graft.sink.IndexLayout.HierarchyAssigned)
          .select(col("vec_id"), col("cluster"))
          .localCheckpoint(true)
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        out
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
              |    FROM embeddings),
              |$hierAsgCtes
              |SELECT vec_id, cluster FROM a2""".stripMargin)),

    "text_gopher_rules" -> QueryDef(
      (s, d) => TextAnalysis.gopherRules(table(s, d, "documents"),
        "doc_id", "text", minWords = GopherMinWords),
      Some(gopherSql)),

    "sample_domain_cap" -> QueryDef(
      (s, d) => graft.operators.Sampling.capPerGroup(
        table(s, d, "documents"), "source", "doc_id",
        col("n_chars"), DomainCap),
      Some(s"""SELECT source, doc_id FROM (
              |  SELECT source, doc_id, row_number() OVER (
              |    PARTITION BY source
              |    ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS rn
              |  FROM documents) WHERE rn <= $DomainCap""".stripMargin)),

    // int8 storage quantization: scale + exact integer summaries of the
    // code vector (sum/min/max are order-independent and exact, so the
    // whole quantization arithmetic is oracle-checked without comparing
    // list-typed columns)
    "embedding_quantize" -> QueryDef(
      (s, d) => {
        import graft.functions.VectorOps
        val qs = VectorOps.quantizeInt8(col("embedding"))
        table(s, d, "embeddings")
          .select(col("vec_id"), qs.as("qs"))
          .select(col("vec_id"),
            col("qs.scale").as("scale"),
            aggregate(col("qs.q"), lit(0L), (acc, x) => acc + x)
              .as("q_sum"),
            array_min(col("qs.q")).as("q_min"),
            array_max(col("qs.q")).as("q_max"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |    FROM embeddings),
             |s AS (SELECT vec_id, v,
             |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
             |  FROM e),
             |q AS (SELECT vec_id, scale,
             |    list_transform(v, x -> CAST(floor(CASE WHEN scale = 0
             |      THEN 0.0 ELSE x / scale + 0.5 END) AS INT)) AS q
             |  FROM s)
             |SELECT vec_id, scale, CAST(list_sum(q) AS BIGINT) AS q_sum,
             |  list_min(q) AS q_min, list_max(q) AS q_max
             |FROM q""".stripMargin)),

    // deterministic KMV distinct sketch vs the exact count it estimates:
    // per-source distinct 3-gram cardinality. The sketch side shuffles
    // <= k longs per source; the exact side is the test-scale referee
    // (at 100 TB you ship only the sketch)
    "sketch_distinct_ngrams" -> QueryDef(
      (s, d) => {
        import graft.operators.Sketches
        val inst = table(s, d, "documents")
          .select(col("source"),
            explode(graft.functions.TextShingles.wordShingles(
              col("text"), ShingleK)).as("g"))
          .select(col("source"), StableHash.hash60(col("g")).as("h"))
        Sketches.kmvDistinct(inst, "source", col("h"), SketchK)
          .join(inst.groupBy(col("source"))
            .agg(countDistinct(col("h")).as("exact_distinct")),
            Seq("source"))
      },
      Some(s"""WITH $wordsCte, ${shinglesCte(ShingleK)},
              |hh AS (SELECT DISTINCT d.source,
              |    ${StableHash.hash60Sql("shingle")} AS h
              |  FROM sh JOIN documents d USING (doc_id)),
              |r AS (SELECT source, h, row_number() OVER (
              |    PARTITION BY source ORDER BY h) AS rn FROM hh),
              |agg AS (SELECT source, count(*) AS nd,
              |    max(CASE WHEN rn = $SketchK THEN h END) AS kth
              |  FROM r GROUP BY source)
              |SELECT source,
              |  CAST(least(nd, $SketchK) AS INT) AS kmv_size,
              |  CASE WHEN nd < $SketchK THEN CAST(nd AS DOUBLE)
              |    ELSE CAST(${SketchK - 1} AS DOUBLE)
              |      * CAST(1152921504606846976 AS DOUBLE)
              |      / CAST(kth AS DOUBLE) END AS est_distinct,
              |  nd AS exact_distinct
              |FROM agg""".stripMargin)),

    // deterministic hash-sample quantiles of doc token counts — the
    // p50/p90/p99 report that sizes sequence packing. Same hash-sample
    // membership in both engines, exact rank selection on the sample.
    "sample_token_quantiles" -> QueryDef(
      (s, d) => {
        import graft.operators.Sketches
        Sketches.hashSampleQuantiles(table(s, d, "documents"), "doc_id",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"),
          sampleFrac = 0.5, probs = Seq(0.5, 0.9, 0.99))
      },
      Some(s"""WITH smp AS (SELECT doc_id,
              |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
              |      AS BIGINT) AS value
              |  FROM documents
              |  WHERE ${graft.operators.Sampling.bucketSql("doc_id")}
              |    < ${math.round(0.5 * graft.operators.Sampling.Buckets)}),
              |r AS (SELECT value, doc_id, row_number() OVER (
              |    ORDER BY value, doc_id) AS rn,
              |    count(*) OVER () AS n_sample FROM smp)
              |SELECT p, n_sample, value
              |FROM r JOIN (VALUES (0.5), (0.9), (0.99)) AS ps(p)
              |  ON rn = greatest(1, CAST(ceil(p * n_sample) AS BIGINT))"""
        .stripMargin)),

    // per-source dataset-card rollup: doc/token volumes, quality keep
    // rate, stopword density — the report that drives mixture decisions.
    // All aggregates are exact longs; the three ratios are single final
    // divisions, so the doubles hash-match the oracle. Map-side
    // combinable groupBy on source — one exchange of |sources| rows.
    "corpus_quality_profile" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val g = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = GopherMinWords)
        docs.select(col("doc_id"), col("source")).join(g, Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_tokens"),
            sum(col("stopword_hits")).as("stop_hits"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            (col("n_tokens").cast("double") /
              col("n_docs").cast("double")).as("mean_doc_tokens"),
            (col("stop_hits").cast("double") /
              col("n_tokens").cast("double")).as("stopword_density"),
            (col("n_kept").cast("double") /
              col("n_docs").cast("double")).as("keep_rate"))
      },
      Some(s"""WITH gop AS ($gopherSql),
              |j AS (SELECT d.source, g.n_words, g.stopword_hits, g.keep
              |  FROM documents d JOIN gop g ON d.doc_id = g.doc_id),
              |agg AS (SELECT source, count(*) AS n_docs,
              |    CAST(sum(n_words) AS BIGINT) AS n_tokens,
              |    CAST(sum(stopword_hits) AS BIGINT) AS stop_hits,
              |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_kept
              |  FROM j GROUP BY source)
              |SELECT source, n_docs, n_tokens,
              |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
              |    AS mean_doc_tokens,
              |  CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              |    AS stopword_density,
              |  CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)
              |    AS keep_rate
              |FROM agg""".stripMargin)),

    // CCNet-ordered cleaning pipeline: language + quality filters ->
    // cross-doc boilerplate removal (doc-frequency over the FILTERED
    // corpus — set-dependent) -> exact dedup on the CLEANED text (docs
    // identical only after boilerplate is cut collapse) -> split. The
    // second composed proof, with a different operator mix than
    // pipeline_curate_corpus.
    "pipeline_boilerplate_dedup" -> QueryDef(
      (s, d) => {
        import graft.operators.Sampling
        val docs = table(s, d, "documents")
        // predicate composition on the scan — see pipeline_curate_corpus
        val base = docs.filter(
          TextAnalysis.langId(col("text")) === "en" &&
            TextAnalysis.gopherKeep(col("text"),
              minWords = GopherMinWords))
        val clean = Dedup.removeBoilerplateChunks(base, "doc_id", "text",
            ChunkW, BoilerMinDf)
          .select(col("id").as("doc_id"), col("clean_text"))
        val keepx = Dedup.exact(clean, "doc_id", "clean_text")
          .select(col("keep_id").as("doc_id"))
        Sampling.hashSplit(base.join(keepx, "doc_id"), "doc_id",
            Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
          .select(col("doc_id"), col("source"), col("split"))
      },
      Some {
        val bucket = graft.operators.Sampling.bucketSql("doc_id")
        s"""WITH lang AS ($langIdSql),
           |gop AS ($gopherSql),
           |base AS (SELECT d.doc_id, d.source, d.text
           |  FROM documents d
           |  JOIN lang ON d.doc_id = lang.doc_id
           |  JOIN gop ON d.doc_id = gop.doc_id
           |  WHERE lang.predicted_lang = 'en' AND gop.keep),
           |w2 AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS ws
           |  FROM base),
           |u AS (SELECT doc_id, unnest(list_transform(
           |    range(0, CAST(ceil(len(ws) / ${ChunkW}.0) AS BIGINT)),
           |    i -> {'pos': i, 'chunk':
           |      array_to_string(ws[i*$ChunkW+1:i*$ChunkW+$ChunkW],
           |        ' ')})) AS s
           |  FROM w2),
           |e AS (SELECT doc_id, s.pos AS pos, s.chunk AS chunk,
           |    ${StableHash.hash60Sql("s.chunk")} AS h FROM u),
           |dd AS (SELECT doc_id, pos, chunk,
           |    count(DISTINCT doc_id) OVER (PARTITION BY h) AS df
           |  FROM e),
           |clean AS (SELECT doc_id,
           |    coalesce(string_agg(
           |      CASE WHEN df < $BoilerMinDf THEN chunk END,
           |      ' ' ORDER BY pos), '') AS ctext
           |  FROM dd GROUP BY doc_id),
           |nh AS (SELECT doc_id, ${StableHash.hash60Sql("ctext")} AS h
           |  FROM clean),
           |keepx AS (SELECT min(doc_id) AS doc_id FROM nh GROUP BY h)
           |SELECT b.doc_id, b.source,
           |  CASE WHEN $bucket < 9000 THEN 'train'
           |       WHEN $bucket < 9500 THEN 'valid'
           |       ELSE 'test' END AS split
           |FROM base b JOIN keepx USING (doc_id)""".stripMargin
      }),

    // the whole curation recipe as ONE verified query: every stage is an
    // operator proven above; this proves they COMPOSE (the set-dependent
    // stages see each other's survivors, not the base table)
    // the DECLARATIVE twin of pipeline_curate_corpus: the same recipe
    // expressed as a CurationSpec and compiled by Curation.run — the
    // shared oracle is the proof that the compiler emits the identical
    // pipeline (predicates fused on the scan, set stages in order)
    "pipeline_spec_curate" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        import graft.operators.Curation._
        val spec = CurationSpec(Seq(
          LangFilter("en"),
          GopherFilter(GopherMinWords),
          ExactDedup,
          NearDedup(ShingleK, NumHashes, RowsPerBand, MinhashThreshold),
          CapPerGroup("source", "n_chars", DomainCap),
          HashSplit(Seq("train" -> 0.9, "valid" -> 0.05,
            "test" -> 0.05))))
        Curation.run(table(s, d, "documents"), "doc_id", "text", spec)
          .select(col("doc_id"), col("source"), col("split"))
      },
      Some(curateSql)),

    // the classifier-train chain expressed as a JSON recipe (exercises
    // Curation.fromJson end to end): train_classifier + exact_dedup,
    // digested per source — hash-matches pipeline_classified_curate's
    // oracle, the proof the declarative spec emits the hand-built chain
    "pipeline_spec_classified" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        val spec = Curation.fromJson(
          s"""{"stages": [
             |  {"stage": "train_classifier", "label_col": "source",
             |   "label_value": "$DsirTarget", "dim": $ClsDim,
             |   "min_score": $CurateMinScore},
             |  {"stage": "exact_dedup"}
             |]}""".stripMargin)
        Curation.run(table(s, d, "documents"), "doc_id", "text", spec)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.wsTokenCount(col("text")).cast("long"))
              .as("n_tokens"))
      },
      Some(classifiedCurateSql)),

    // r13 recipe-vocabulary widening: the source-mixture rebalance as a
    // declarative stage — rates computed on the stage's input set
    // (mixturePlan), applied as a literal stratified-hash predicate.
    // The oracle recomputes the rates in SQL and applies the identical
    // floor(rate*Buckets + 0.5) threshold.
    "pipeline_spec_mixture" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        val wjson = MixtureWeights.toSeq.sortBy(_._1)
          .map { case (src, v) => s""""$src": $v""" }.mkString(", ")
        val spec = Curation.fromJson(
          s"""{"stages": [{"stage": "mixture",
             |  "source_col": "source", "weights": {$wjson}}]}"""
            .stripMargin)
        Curation.run(table(s, d, "documents"), "doc_id", "text", spec)
          .select(col("doc_id"), col("source"))
      },
      Some {
        val rows = MixtureWeights.toSeq.sortBy(_._1)
          .map { case (src, wt) => s"('$src', $wt::DOUBLE)" }
          .mkString(", ")
        s"""WITH $mixTokCte,
           |w(source, weight) AS (VALUES $rows),
           |j AS (SELECT t.source, n_tokens, weight
           |  FROM tok t JOIN w USING (source)),
           |r AS (SELECT source,
           |  weight * min(CAST(n_tokens AS DOUBLE) / weight) OVER ()
           |    / CAST(n_tokens AS DOUBLE) AS rate FROM j)
           |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
           |WHERE ${graft.operators.Sampling.bucketSql("d.doc_id")} <
           |  CAST(floor(r.rate * ${graft.operators.Sampling.Buckets}
           |    + 0.5) AS BIGINT)""".stripMargin
      }),

    // r13 recipe-vocabulary widening: hash sampling + benchmark
    // decontamination as declarative stages. The benchmark table rides
    // the recipe as a NAME resolved by the caller (here: the carved-out
    // doc_id%20 slice), the sample is the per-row bucket predicate
    // (fuses into the scan), and min_hits=2 exercises the non-default
    // threshold path.
    "pipeline_spec_decontaminate" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        val docs = table(s, d, "documents")
        val spec = Curation.fromJson(
          s"""{"stages": [
             |  {"stage": "sample", "fraction": 0.8},
             |  {"stage": "decontaminate", "benchmark": "bench",
             |   "k": $DecontamK, "min_hits": 2}
             |]}""".stripMargin)
        Curation.run(docs.filter(col("doc_id") % BenchMod =!= 0),
            "doc_id", "text", spec,
            resolveTable =
              _ => docs.filter(col("doc_id") % BenchMod === 0))
          .select(col("doc_id"), col("source"))
      },
      Some(specDecontamSql)),

    // the same recipe served from a PUBLISHED benchmark gram index
    // (Decontamination.writeBenchmarkGrams directory — the shingle size
    // travels in _index_meta.json, the recipe carries only the path).
    // Oracle identical to pipeline_spec_decontaminate's: publish/serve
    // must change nothing.
    "pipeline_spec_decontaminate_index" -> QueryDef(
      (s, d) => {
        import graft.operators.{Curation, Decontamination}
        val docs = table(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-benchidx").toString
        Decontamination.writeBenchmarkGrams(
          docs.filter(col("doc_id") % BenchMod === 0), "text",
          DecontamK, dir)
        val spec = Curation.fromJson(
          s"""{"stages": [
             |  {"stage": "sample", "fraction": 0.8},
             |  {"stage": "decontaminate_index", "index": "$dir",
             |   "min_hits": 2}
             |]}""".stripMargin)
        Curation.run(docs.filter(col("doc_id") % BenchMod =!= 0),
            "doc_id", "text", spec)
          .select(col("doc_id"), col("source"))
      },
      Some(specDecontamSql)),

    // r14 recipe-vocabulary completion: the remaining near-dedup
    // flavors as declarative stages, each hash-matched against a
    // recursive CC-keep oracle over the flavor's own pair graph — the
    // proof the recipe compiler emits the hand-built
    // pairs -> components -> keep-canonical chain for every family.
    // scoped to the doc_id % 8 = 1 slice: the 70-word synthetic vocab
    // collapses simhash fingerprints into mega-clusters (3.0M ham<=3
    // pairs over the 5,000 full-corpus docs at sf0.1 —
    // docs/SEARCH_SOAK.md), and the ORACLE's recursive transitive
    // closure over a near-clique graph is cubic-ish in cluster size
    // (hours in DuckDB). The engine side handles the full graph fine
    // (pointer-jumping CC is built for it — dedup_simhash_pairs runs
    // corpus-wide above); the slice keeps the recipe-stage
    // hash-equality proof while the oracle stays seconds (a DATA
    // property of the synthetic vocabulary, not an operator bound).
    "pipeline_spec_simhash" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        val spec = Curation.fromJson(
          s"""{"stages": [{"stage": "simhash_dedup",
             |  "bits": $SimhashBits, "max_hamming": $MaxHamming}]}"""
            .stripMargin)
        Curation.run(
            table(s, d, "documents").filter(col("doc_id") % 8 === 1),
            "doc_id", "text", spec)
          .select(col("doc_id"), col("source"))
      },
      Some(s"""WITH RECURSIVE docs8 AS (SELECT * FROM documents
              |  WHERE doc_id % 8 = 1),
              |${wordsCteFrom("docs8")}, $simhashCte,
              |$simhashCandCte,
              |pairs AS (SELECT id_a, id_b FROM cand
              |  WHERE bit_count(xor(fp_a, fp_b)) <= $MaxHamming),
              |$ccDropTail
              |SELECT d.doc_id, d.source FROM docs8 d
              |LEFT JOIN dropids ON d.doc_id = dropids.id
              |WHERE dropids.id IS NULL""".stripMargin)),

    "pipeline_spec_jaccard" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        val spec = Curation.fromJson(
          s"""{"stages": [{"stage": "jaccard_dedup",
             |  "k": $JaccardK, "threshold": $JaccardThreshold}]}"""
            .stripMargin)
        Curation.run(table(s, d, "documents"), "doc_id", "text", spec)
          .select(col("doc_id"), col("source"))
      },
      Some(s"""WITH RECURSIVE $wordsCte, ${shinglesCte(JaccardK)},
              |$jaccardCtes,
              |pairs AS (SELECT id_a, id_b FROM ($jaccardSelect)),
              |$ccDropTail
              |SELECT d.doc_id, d.source FROM documents d
              |LEFT JOIN dropids ON d.doc_id = dropids.id
              |WHERE dropids.id IS NULL""".stripMargin)),

    "pipeline_spec_embedding" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        val spec = Curation.fromJson(
          s"""{"stages": [{"stage": "embedding_dedup",
             |  "vec_col": "embedding", "num_planes": $EmbPlanes,
             |  "band_bits": $EmbBandBits,
             |  "threshold": $EmbThreshold}]}""".stripMargin)
        Curation.run(table(s, d, "embeddings"), "vec_id", "embedding",
            spec)
          .select(col("vec_id"), col("label"))
      },
      Some(s"""WITH RECURSIVE $embCosineCtes,
              |pairs AS ($embCosineSelect),
              |$ccDropTail
              |SELECT emb.vec_id, emb.label FROM embeddings emb
              |LEFT JOIN dropids ON emb.vec_id = dropids.id
              |WHERE dropids.id IS NULL""".stripMargin)),

    // r16 recipe-vocabulary widening: retrieval as a declarative
    // SUFFIX — curate the corpus, then BM25-retrieve over the
    // survivors (every corpus statistic recomputes on the curated
    // set), then mine hard negatives against a positive label. The
    // JSON path exercises all three new stage grammars end to end.
    "pipeline_spec_retrieval" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        val spec = Curation.fromJson(
          s"""{"stages": [
             |  {"stage": "lang", "lang": "en"},
             |  {"stage": "retrieve",
             |   "terms": [${SearchTerms.map(t => s""""$t"""")
                  .mkString(", ")}],
             |   "k": ${2 * SearchK}, "scorer": "bm25", "query_id": 0},
             |  {"stage": "hard_negatives", "label_col": "source",
             |   "label_value": "src0", "k": $SearchK}
             |]}""".stripMargin)
        Curation.run(table(s, d, "documents"), "doc_id", "text", spec)
      },
      Some(specRetrievalSql)),

    // the hybrid serving shape as a recipe stage: both arms' candidate
    // sets pruned to the curated survivors — the lexical statistics
    // recompute over the base, the vector candidates semi-join to the
    // surviving ids, RRF fuses. Compiled ≡ the imperative two-arm
    // chain, proven by the same oracle discipline as hybrid_search_rrf
    "pipeline_spec_hybrid" -> QueryDef(
      (s, d) => {
        import graft.operators.Curation
        import graft.operators.Curation._
        val spec = CurationSpec(Seq(
          LangFilter("en"),
          HybridRetrieve(SearchTerms, SearchK, "embeddings",
            HybridQueryId.toLong, rrfK = RrfK)))
        Curation.run(table(s, d, "documents"), "doc_id", "text", spec,
          resolveTable = name => table(s, d, name))
      },
      Some(specHybridSql)),

    // the recipe runner from pure SQL (r16): graft_curate compiles
    // the SAME JSON recipe pipeline_spec_retrieval runs through the
    // DataFrame API — one oracle, two spellings, hash-parity is the
    // proof the TVF expansion and the DataFrame compiler emit one plan
    "sql_curate_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        table(s, d, "documents")
          .createOrReplaceTempView("graft_tvf_curate_docs")
        val recipe =
          s"""{"stages": [
             |  {"stage": "lang", "lang": "en"},
             |  {"stage": "retrieve",
             |   "terms": [${SearchTerms.map(t => s""""$t"""")
                  .mkString(", ")}],
             |   "k": ${2 * SearchK}, "scorer": "bm25", "query_id": 0},
             |  {"stage": "hard_negatives", "label_col": "source",
             |   "label_value": "src0", "k": $SearchK}
             |]}""".stripMargin.replace("\n", " ")
        s.sql("SELECT query_id, rank, neighbor_id FROM graft_curate(" +
          s"'graft_tvf_curate_docs', 'doc_id', 'text', '$recipe')")
      },
      Some(specRetrievalSql)),

    "pipeline_curate_corpus" -> QueryDef(
      (s, d) => {
        import graft.operators.Sampling
        val docs = table(s, d, "documents")
        // lang-id + gopher are per-row predicates: compose them ON the
        // scan (zero-shuffle codegen'd filter) instead of materializing
        // a keep-list and joining it back — the join shuffles the full
        // text column twice at 100 TB for what one filter expresses
        // persisted (r20): BOTH the exact-dedup keep list and the edocs
        // join below consume this filtered frame, and without the
        // persist the scan + langId + gopher predicate chain ran TWICE
        // (the two near-identical heavy jobs in the executed profile).
        // Releases with the result's materialization alongside edocs.
        val base = docs.filter(
          TextAnalysis.langId(col("text")) === "en" &&
            TextAnalysis.gopherKeep(col("text"),
              minWords = GopherMinWords))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val keepExact = Dedup.exact(
          base.select(col("doc_id"),
            TextAnalysis.normalizeForHash(col("text")).as("__norm")),
          "doc_id", "__norm").select(col("keep_id").as("doc_id"))
        // both the minhash sweep and the canonical keep-list consume
        // edocs; without a persist each recomputes the full filter
        // chain (language scan + gopher metrics + two joins). At 100 TB
        // this materialization is the curated-corpus landing table the
        // downstream stages read anyway.
        val edocs = base.join(keepExact, "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val labels = Dedup.connectedComponents(
          Dedup.minhashNearDups(edocs, "doc_id", "text", ShingleK,
            NumHashes, RowsPerBand, MinhashThreshold),
          "id_a", "id_b")
        val canon = Dedup.keepCanonical(edocs, "doc_id", labels)
        val capped = Sampling.capPerGroup(canon, "source", "doc_id",
          col("n_chars"), DomainCap)
        val result = Sampling.hashSplit(capped, "doc_id",
            Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
          .select(col("doc_id"), col("source"), col("split"))
        // release edocs once the result is materialized — without this the
        // cache outlives the query and accumulates across a full registry run
        Dedup.releaseAfterAll(result, edocs, base)
      },
      Some(curateSql)),

    // snapshot drift audit: two deterministic corpus versions derived
    // from the same table (old drops doc_id%10==0 and carries a '[rev1]'
    // suffix on doc_id%7==0; new drops doc_id%9==0), diffed by content
    // hash. Text never rides the full-outer shuffle — only (key, hash60,
    // length, source) does — so the diff moves ~40 bytes/doc at 100 TB.
    "corpus_snapshot_diff" -> QueryDef(
      (s, d) => {
        import graft.operators.CorpusDiff
        val docs = table(s, d, "documents")
        val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [rev1]"))).otherwise(col("text")))
        val newSnap = docs.filter(col("doc_id") % 9 =!= 0)
        CorpusDiff.diffSummary(
          CorpusDiff.snapshotDiff(oldSnap, newSnap, "doc_id", "text",
            carry = Seq("source")),
          "source")
      },
      Some("""WITH old AS (SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev1]'
             |         ELSE text END AS text, source
             |  FROM documents WHERE doc_id % 10 <> 0),
             |new AS (SELECT doc_id, text, source FROM documents
             |  WHERE doc_id % 9 <> 0),
             |d AS (SELECT
             |    CASE WHEN o.doc_id IS NULL THEN 'added'
             |         WHEN n.doc_id IS NULL THEN 'removed'
             |         WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
             |         ELSE 'unchanged' END AS status,
             |    length(o.text) AS old_len, length(n.text) AS new_len,
             |    coalesce(n.source, o.source) AS source
             |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
             |SELECT status, source, count(*) AS n_docs,
             |  CAST(sum(coalesce(new_len, 0) - coalesce(old_len, 0))
             |    AS BIGINT) AS delta_chars
             |FROM d GROUP BY 1, 2""".stripMargin)),

    // distributed PCA, exact half: globally-scaled int8 quantization →
    // one-pass integer moment aggregate ([n, Σq, Σq·qᵀ] as BIGINTs —
    // partition-order independent, hash-exact vs the oracle's replay).
    // The float covariance/eigen step happens on the driver over this
    // bounded artifact (Pca.covariance/topComponents, spec-verified);
    // nothing vector-sized ever shuffles.
    "embedding_gram_quantized" -> QueryDef(
      (s, d) => graft.operators.Pca.momentRows(
        table(s, d, "embeddings"), "embedding", 64),
      Some(gramMomentsSql)),

    // incremental PCA: moments are exact integer sums under the FROZEN
    // full-corpus scale, so per-slice moments ADD — old(90%) + batch
    // merged by (i, j) hash-matches the full-corpus oracle (the same
    // gramMomentsSql), proving moments(old) ⊎ moments(batch) =
    // moments(all)
    "pca_incremental_moments" -> QueryDef(
      (s, d) => {
        import graft.operators.Pca
        val emb = table(s, d, "embeddings")
        val scale = Pca.globalScale(
          emb.filter(col("embedding").isNotNull), "embedding")
        val old = emb.filter(col("vec_id") % IncrMod =!= 0)
        val batch = emb.filter(col("vec_id") % IncrMod === 0)
        Pca.momentRowsWithScale(old, "embedding", 64, scale)
          .union(Pca.momentRowsWithScale(batch, "embedding", 64, scale))
          .groupBy(col("i"), col("j"))
          .agg(sum(col("s")).as("s"))
      },
      Some(gramMomentsSql)),

    // fourth composed pipeline — the daily-crawl refresh: snapshot diff
    // finds the delta (added + changed docs), the delta probes the OLD
    // corpus's exact-hash index (a changed doc whose new text collides
    // with any old doc is a dup, not new work), and the survivors gate
    // on language before entering the embed queue. Set-dependent stages
    // (diff feeds the probe input, the probe feeds the gate) verified
    // as one query. Scale: the diff join moves slimmed rows, the index
    // side stays put (bucketed-index contract of exactAgainst), the
    // lang gate is a scan.
    "pipeline_incremental_refresh" -> QueryDef(
      (s, d) => {
        import graft.operators.CorpusDiff
        val docs = table(s, d, "documents")
        // both snapshots redact some docs to the same placeholder text
        // (disjoint id sets) — the realistic source of cross-doc exact
        // dups the probe stage must catch
        val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 19 === 0, lit("CONTENT REMOVED"))
              .when(col("doc_id") % 7 === 0,
                concat(col("text"), lit(" [rev1]")))
              .otherwise(col("text")))
        val newSnap = docs.filter(col("doc_id") % 9 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 17 === 0, lit("CONTENT REMOVED"))
              .otherwise(col("text")))
        // ONE delta pass: language id + content hash fold into a single
        // projection over the recovered delta rows, so the probe is one
        // left join against the index (the exactAgainst join shape,
        // inlined here to keep the lang gate in the same scan — a
        // two-branch formulation recomputes the whole diff per branch,
        // caught in the plan audit)
        val delta = CorpusDiff.snapshotDiff(oldSnap, newSnap, "doc_id",
            "text", carry = Seq("source"))
          .filter(col("status").isin("added", "changed"))
          .select("doc_id")
          .join(newSnap, "doc_id")
          .select(col("doc_id"), col("source"),
            TextAnalysis.langId(col("text")).as("lang_pred"),
            StableHash.hash60(col("text")).as("text_hash"))
        delta
          .join(Dedup.exact(oldSnap, "doc_id", "text")
            .select(col("text_hash"), col("keep_id").as("dup_of")),
            Seq("text_hash"), "left")
          .select(col("doc_id"), col("source"),
            when(col("dup_of").isNotNull, "skip_dup")
              .when(col("lang_pred") =!= "en", "skip_lang")
              .otherwise("embed").as("action"),
            col("dup_of"))
      },
      Some(s"""WITH old AS (SELECT doc_id,
              |    CASE WHEN doc_id % 19 = 0 THEN 'CONTENT REMOVED'
              |         WHEN doc_id % 7 = 0 THEN text || ' [rev1]'
              |         ELSE text END AS text, source
              |  FROM documents WHERE doc_id % 10 <> 0),
              |new AS (SELECT doc_id,
              |    CASE WHEN doc_id % 17 = 0 THEN 'CONTENT REMOVED'
              |         ELSE text END AS text, source
              |  FROM documents WHERE doc_id % 9 <> 0),
              |delta AS (SELECT n.doc_id, n.text, n.source
              |  FROM new n LEFT JOIN old o ON o.doc_id = n.doc_id
              |  WHERE o.doc_id IS NULL OR o.text IS DISTINCT FROM n.text),
              |cor AS (SELECT ${StableHash.hash60Sql("text")} AS text_hash,
              |    min(doc_id) AS keep_id
              |  FROM old GROUP BY 1),
              |probe AS (SELECT d.doc_id, d.source, cor.keep_id AS dup_of
              |  FROM delta d LEFT JOIN cor
              |    ON ${StableHash.hash60Sql("d.text")} = cor.text_hash),
              |lang AS (${langIdSqlFrom("delta")})
              |SELECT p.doc_id, p.source,
              |  CASE WHEN p.dup_of IS NOT NULL THEN 'skip_dup'
              |       WHEN l.predicted_lang <> 'en' THEN 'skip_lang'
              |       ELSE 'embed' END AS action,
              |  p.dup_of
              |FROM probe p JOIN lang l ON p.doc_id = l.doc_id"""
        .stripMargin)),

    // content-drift alarm between the same two snapshot versions the
    // row diff uses: top-20 3-gram lists of each side, full-outer
    // joined — NULL old_rank = gram entered the vocabulary head, NULL
    // new_rank = it left. Bounded end to end (two TakeOrderedAndProject
    // passes + a 20×20 join).
    "corpus_vocab_drift" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [rev1]"))).otherwise(col("text")))
        val newSnap = docs.filter(col("doc_id") % 9 =!= 0)
        TextAnalysis.vocabDrift(oldSnap, newSnap, "text",
          k = 3, topN = 20)
      },
      Some("""WITH old AS (SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev1]'
             |         ELSE text END AS text
             |  FROM documents WHERE doc_id % 10 <> 0),
             |new AS (SELECT doc_id, text FROM documents
             |  WHERE doc_id % 9 <> 0),
             |og AS (SELECT unnest(list_transform(range(1, len(ws) - 1),
             |    i -> array_to_string(ws[i:i+2], ' '))) AS gram
             |  FROM (SELECT string_split_regex(trim(lower(text)), '\s+')
             |    AS ws FROM old)),
             |oc AS (SELECT gram, count(*) AS n FROM og GROUP BY 1
             |  ORDER BY n DESC, gram LIMIT 20),
             |orank AS (SELECT gram, n,
             |  row_number() OVER (ORDER BY n DESC, gram) AS rank FROM oc),
             |ng AS (SELECT unnest(list_transform(range(1, len(ws) - 1),
             |    i -> array_to_string(ws[i:i+2], ' '))) AS gram
             |  FROM (SELECT string_split_regex(trim(lower(text)), '\s+')
             |    AS ws FROM new)),
             |nc AS (SELECT gram, count(*) AS n FROM ng GROUP BY 1
             |  ORDER BY n DESC, gram LIMIT 20),
             |nrank AS (SELECT gram, n,
             |  row_number() OVER (ORDER BY n DESC, gram) AS rank FROM nc)
             |SELECT coalesce(o.gram, nn.gram) AS gram,
             |  o.rank AS old_rank, nn.rank AS new_rank,
             |  o.n AS old_n, nn.n AS new_n
             |FROM orank o FULL OUTER JOIN nrank nn ON o.gram = nn.gram"""
        .stripMargin)),

    // fifth composed pipeline — the embedding-index build: deterministic
    // corruption (1-in-23 zeroed => zero-norm, 1-in-37 truncated =>
    // wrong dim) → validation gate → int8 quantize/reconstruct → IVF
    // (seeded centroids, assignment, 4-probe search). Set-dependent by
    // construction: the hash-rank seed set (r18, fixed IvfK) is drawn
    // from the SURVIVORS, so dropped invalids change the seeds and the
    // whole downstream index — a stage skipped or reordered cannot
    // hash-match. The oracle reuses the validate/dequant/IVF fragments.
    "pipeline_embedding_index" -> QueryDef(
      (s, d) => {
        import graft.functions.VectorOps
        val emb = table(s, d, "embeddings")
        val mutated = emb.select(col("vec_id"),
          when(col("vec_id") % 23 === 0,
            transform(col("embedding"), _ => lit(0.0f)))
            .when(col("vec_id") % 37 === 0,
              slice(col("embedding"), 1, 32))
            .otherwise(col("embedding")).as("embedding"))
        val keep = Similarity.validateEmbeddings(mutated, "vec_id",
            "embedding", expectedDim = 64)
          .filter(col("valid")).select("vec_id")
        val dq = mutated.join(keep, "vec_id")
          .select(col("vec_id"),
            VectorOps.dequantizeInt8(
              VectorOps.quantizeInt8(col("embedding"))).as("embedding"))
        val centroids = Similarity.seedCentroidsK(dq, "vec_id",
          "embedding", IvfK)
        val assigned = Similarity.ivfAssign(dq, centroids, "vec_id",
          "embedding")
        Similarity.ivfTopK(assigned, centroids,
          dq.filter(col("vec_id") < AnnNumQueries), "vec_id",
          "embedding", AnnK, nprobe = 4)
      },
      Some(s"""WITH raw0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0
              |    FROM embeddings),
              |mut AS (SELECT vec_id,
              |    CASE WHEN vec_id % 23 = 0
              |           THEN list_transform(v0, x -> 0.0)
              |         WHEN vec_id % 37 = 0 THEN v0[1:32]
              |         ELSE v0 END AS v0
              |  FROM raw0),
              |valid AS (SELECT vec_id, v0 AS v FROM mut
              |  WHERE len(v0) = 64
              |    AND list_max(list_transform(v0,
              |      x -> CASE WHEN isnan(x) THEN 1 ELSE 0 END)) = 0
              |    AND list_max(list_transform(v0, x -> abs(x))) <> 0),
              |${dequantVecCtesOver("valid")},
              |$ivfBody
              |$ivfSelect""".stripMargin)),

    "text_inverted_index" -> QueryDef(
      (s, d) => graft.operators.TextSearch.invertedIndex(
        table(s, d, "documents"), "doc_id", "text", InvIdxMaxPostings),
      Some(s"""WITH $termTfCte,
              |idx AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
              |post AS (SELECT term, doc_id,
              |  row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1
              |    AS slot
              |  FROM tfq)
              |SELECT p.term, i.df, p.slot, p.doc_id
              |FROM post p JOIN idx i ON p.term = i.term
              |WHERE p.slot < $InvIdxMaxPostings""".stripMargin)),

    // incremental maintenance proof: index 90% of the corpus, append
    // the rest, hash-match the FULL-corpus rebuild oracle — the merge
    // is provably identical to a from-scratch build (see
    // TextSearch.invertedIndexAppend scaladoc)
    "text_inverted_index_incremental" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val base = docs.filter(col("doc_id") % 10 =!= 0)
        val batch = docs.filter(col("doc_id") % 10 === 0)
        graft.operators.TextSearch.invertedIndexAppend(
          graft.operators.TextSearch.invertedIndex(
            base, "doc_id", "text", InvIdxMaxPostings),
          batch, "doc_id", "text", InvIdxMaxPostings)
      },
      Some(s"""WITH $termTfCte,
              |idx AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
              |post AS (SELECT term, doc_id,
              |  row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1
              |    AS slot
              |  FROM tfq)
              |SELECT p.term, i.df, p.slot, p.doc_id
              |FROM post p JOIN idx i ON p.term = i.term
              |WHERE p.slot < $InvIdxMaxPostings""".stripMargin)),

    // eighth composed pipeline / the eval-contamination question: do
    // near-duplicate pairs straddle the train/valid/test boundary? A
    // random-looking hash split CANNOT prevent this (near-dups hash
    // independently), which is exactly why the audit must exist: pairs
    // labeled with both endpoints' splits, cross-split = leak. Wider
    // minority splits (60/20/20) than the production 98/1/1 so the
    // fixture actually exhibits leaks.
    "split_leakage_audit" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
          ShingleK, NumHashes, RowsPerBand, MinhashThreshold)
        val split = graft.operators.Sampling.hashSplit(
          docs.select(col("doc_id")), "doc_id",
          Seq("train" -> 0.6, "valid" -> 0.2, "test" -> 0.2))
        pairs.select(col("id_a"), col("id_b"))
          .join(split.select(col("doc_id").as("id_a"),
            col("split").as("split_a")), "id_a")
          .join(split.select(col("doc_id").as("id_b"),
            col("split").as("split_b")), "id_b")
          .select(col("id_a"), col("id_b"), col("split_a"),
            col("split_b"),
            (col("split_a") =!= col("split_b")).cast("long").as("leaks"))
      },
      Some(s"""WITH $minhashLshCtes,
              |p AS ($minhashLshSelect),
              |sp AS (SELECT doc_id,
              |  CASE WHEN ${graft.operators.Sampling.bucketSql("doc_id")}
              |         < 6000 THEN 'train'
              |       WHEN ${graft.operators.Sampling.bucketSql("doc_id")}
              |         < 8000 THEN 'valid'
              |       ELSE 'test' END AS split
              |  FROM documents)
              |SELECT p.id_a, p.id_b, sa.split AS split_a,
              |  sb.split AS split_b,
              |  CAST(sa.split <> sb.split AS BIGINT) AS leaks
              |FROM p
              |JOIN sp sa ON p.id_a = sa.doc_id
              |JOIN sp sb ON p.id_b = sb.doc_id""".stripMargin)),

    // ...and the REMEDY: split keyed on the near-dup component
    // representative, so every cluster member lands in the same split
    // by construction (unpaired docs represent themselves)
    "sample_cluster_safe_split" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val labels = Dedup.connectedComponents(
          Dedup.minhashNearDups(docs, "doc_id", "text",
            ShingleK, NumHashes, RowsPerBand, MinhashThreshold),
          "id_a", "id_b")
        graft.operators.Sampling.clusterSafeSplit(
            docs.select(col("doc_id")), "doc_id", labels,
            Seq("train" -> 0.6, "valid" -> 0.2, "test" -> 0.2))
          .select(col("doc_id"), col("component_rep"), col("split"))
      },
      Some(s"""WITH RECURSIVE $minhashLshCtes,
              |pairs AS ($minhashLshSelect),
              |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
              |reach(id, r) AS (
              |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              |  UNION
              |  SELECT e.u, reach.r FROM edges e
              |  JOIN reach ON reach.id = e.v),
              |comp AS (SELECT id, min(r) AS component_id FROM reach
              |  GROUP BY id),
              |rep AS (SELECT d.doc_id,
              |  coalesce(c.component_id, d.doc_id) AS component_rep
              |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
              |SELECT doc_id, component_rep,
              |  CASE WHEN ${graft.operators.Sampling
                 .bucketSql("component_rep")} < 6000 THEN 'train'
              |       WHEN ${graft.operators.Sampling
                 .bucketSql("component_rep")} < 8000 THEN 'valid'
              |       ELSE 'test' END AS split
              |FROM rep""".stripMargin)),

    // index-SERVING proof: build the capped index, then answer the
    // same conjunctive query from it — candidates come from postings
    // (bounded-recall by the cap, deterministically in both engines),
    // df from the index, scoring identical to the scan path
    "text_search_from_index" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        graft.operators.TextSearch.searchTopKFromIndex(
          graft.operators.TextSearch.invertedIndex(
            docs, "doc_id", "text", InvIdxMaxPostings),
          docs, "doc_id", "text", SearchTerms, SearchK)
      },
      Some(fromIndexSql)),

    // the index-SERVED conjunctive retrieval from pure SQL (r16):
    // same oracle as text_search_from_index — the TVF expansion and
    // the DataFrame spelling emit one plan
    "sql_index_search_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = table(s, d, "documents")
        docs.createOrReplaceTempView("graft_tvf_idx_docs")
        graft.operators.TextSearch.invertedIndex(
            docs, "doc_id", "text", InvIdxMaxPostings)
          .createOrReplaceTempView("graft_tvf_idx_index")
        s.sql(s"""SELECT doc_id, score FROM graft_index_search(
                 |  'graft_tvf_idx_index', 'graft_tvf_idx_docs',
                 |  'doc_id', 'text',
                 |  '${SearchTerms.mkString(",")}', $SearchK)"""
          .stripMargin)
      },
      Some(fromIndexSql)),

    // the index-served BM25 from pure SQL (r16): candidates from the
    // posting lists, (sumdl, n_docs) from the published stats view —
    // the full serving configuration reachable without leaving SQL
    "sql_index_bm25_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = table(s, d, "documents")
        docs.createOrReplaceTempView("graft_tvf_bm25_docs")
        graft.operators.TextSearch.invertedIndex(
            docs, "doc_id", "text", InvIdxMaxPostings)
          .createOrReplaceTempView("graft_tvf_bm25_index")
        graft.operators.TextSearch.bm25CorpusStats(
            docs, "doc_id", "text")
          .createOrReplaceTempView("graft_tvf_bm25_stats")
        s.sql(s"""SELECT doc_id, score FROM graft_index_bm25(
                 |  'graft_tvf_bm25_index', 'graft_tvf_bm25_stats',
                 |  'graft_tvf_bm25_docs', 'doc_id', 'text',
                 |  '${SearchTerms.mkString(",")}', $SearchK)"""
          .stripMargin)
      },
      Some(bm25FromIndexSql)),

    // URL decomposition + per-domain rollup: construct deterministic
    // URLs from fixture columns (userinfo, mixed-case host, port,
    // query) in BOTH engines, extract host/domain/path, roll up per
    // registrable domain — the real-world key the per-domain cap
    // operators group on
    "text_url_parts" -> QueryDef(
      (s, d) => {
        val url = concat(lit("https://user:pw@WWW."), col("source"),
          lit(".Example.COM:8443/docs/"), col("doc_id"),
          lit("/view?ref=1&lang="), col("lang"))
        val parts = table(s, d, "documents").select(
          col("doc_id"),
          TextAnalysis.urlHost(url).as("host"),
          TextAnalysis.urlDomain(url).as("domain"),
          TextAnalysis.urlPath(url).as("path"))
        parts.groupBy(col("domain"))
          .agg(count(lit(1)).as("n_docs"),
            count_distinct(col("host")).as("n_hosts"),
            min(col("path")).as("first_path"))
      },
      Some(s"""WITH u AS (SELECT doc_id,
              |  'https://user:pw@WWW.' || source || '.Example.COM:8443'
              |    || '/docs/' || doc_id || '/view?ref=1&lang=' || lang
              |    AS url FROM documents),
              |p AS (SELECT doc_id,
              |  lower(regexp_extract(url,
              |    '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
              |    1)) AS host,
              |  regexp_extract(url,
              |    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
              |    AS path FROM u)
              |SELECT regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
              |    AS domain,
              |  count(*) AS n_docs,
              |  count(DISTINCT host) AS n_hosts,
              |  min(path) AS first_path
              |FROM p GROUP BY 1""".stripMargin)),

    // crawl-ingest front door: wrap the fixture text in deterministic
    // markup (style payload, comment, entities, script with a '<' that
    // must NOT parse as a tag boundary... inside a removed block), then
    // prove the extractor recovers clean text — the SAME
    // regexp/replace chain runs in DuckDB
    "text_html_extract" -> QueryDef(
      (s, d) => {
        val html = concat(
          lit("<html><head><style>body{color:red}</style></head>" +
            "<body><!-- nav --><div class=\"main\"><h1>Title</h1><p>"),
          col("text"),
          lit("</p><p>tail &amp;amp; x &lt;b&gt; &quot;q&quot; &#39;s" +
            "&#39; &nbsp;end</p><script>var x = 1 < 2;</script>" +
            "</div></body></html>"))
        table(s, d, "documents").select(col("doc_id"),
          TextAnalysis.htmlToText(html).as("extracted"))
      },
      Some(s"""WITH h AS (SELECT doc_id,
              |  '<html><head><style>body{color:red}</style></head>' ||
              |  '<body><!-- nav --><div class="main"><h1>Title</h1><p>'
              |  || text ||
              |  '</p><p>tail &amp;amp; x &lt;b&gt; &quot;q&quot; ' ||
              |  '&#39;s&#39; &nbsp;end</p><script>var x = 1 < 2;' ||
              |  '</script></div></body></html>' AS html
              |  FROM documents)
              |SELECT doc_id, trim(regexp_replace(
              |  replace(replace(replace(replace(replace(replace(
              |    regexp_replace(
              |      regexp_replace(
              |        regexp_replace(
              |          regexp_replace(html,
              |            '(?is)<(script|style)[^>]*>.*?</(script|style)\\s*>',
              |            ' ', 'g'),
              |          '(?s)<!--.*?-->', ' ', 'g'),
              |        '(?i)<(br|/p|/div|/li|/tr|/h[1-6]|/blockquote|/pre)[^>]*>',
              |        chr(10), 'g'),
              |      '<[^>]*>', ' ', 'g'),
              |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
              |    '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
              |  '\\s+', ' ', 'g')) AS extracted
              |FROM h""".stripMargin)),

    // seventh composed pipeline: embedding-space clusters labeled by
    // their distinguishing terms — hierarchical assignment -> docs
    // joined on the shared id space -> per-cluster term counts ->
    // cluster-level tf-idf (exact integer scores) -> top-5 labels per
    // cluster. The "data map" report a corpus owner reads first: what
    // IS each region of embedding space, in words. Set-dependent end to
    // end: a wrong cluster assignment changes term counts, df, and the
    // label ranking, so a skipped or reordered stage cannot hash-match.
    // r19: re-spelled off the every-knob seeding (which broadcast a
    // corpus-proportional centroid set and did n²/every assignment
    // work — the scale-killer class the factor-100 curve caught three
    // times in r18) onto assignHierarchicalAuto: the same bounded
    // ~SemEvery cluster population the per-cluster term stats need,
    // with a sqrt-sized level-1 broadcast and cell-key-joined
    // sub-seeds — nothing corpus-proportional on the driver or the
    // broadcast path.
    "pipeline_cluster_labels" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val docs = table(s, d, "documents")
        val assigned = Similarity.assignHierarchicalAuto(emb, "vec_id",
          "embedding", targetClusterSize = SemEvery)
        val clustered = docs.join(
          assigned.select(col("vec_id").as("doc_id"), col("cluster")),
          "doc_id")
        // per-cluster term instance counts: tf computed row-locally,
        // then map-side-combined per (cluster, term) — the ct frame is
        // bounded by |clusters| x |vocab|, never corpus-sized
        val ct = clustered.select(col("cluster"),
            explode(graft.functions.TextShingles.wordTermCounts(
              col("text"))).as("tc"))
          .select(col("cluster"), col("tc.term").as("term"),
            col("tc.tf").as("tf"))
          .filter(col("term") =!= "")
          .groupBy(col("cluster"), col("term"))
          .agg(sum(col("tf")).as("ctf"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nc = ct.agg(count_distinct(col("cluster")).as("n_clusters"))
        val dfc = ct.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
        val scored = ct.join(dfc, "term").crossJoin(broadcast(nc))
          .withColumn("score",
            expr("ctf * ((n_clusters * 1000000L) div dfc)"))
        scored.withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster"))
              .orderBy(col("score").desc, col("term").asc)))
          .filter(col("rank") <= 5)
          .select(col("cluster"), col("rank").cast("long").as("rank"),
            col("term"), col("ctf"), col("dfc"), col("score"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
              |    FROM embeddings),
              |$hierAsgCtes,
              |cw AS (SELECT a.cluster,
              |    string_split_regex(trim(lower(d.text)), '\\s+') AS ws
              |  FROM a2 a JOIN documents d ON d.doc_id = a.vec_id),
              |ti AS (SELECT cluster, unnest(ws) AS term FROM cw),
              |tc AS (SELECT cluster, term, count(*) AS ctf FROM ti
              |  WHERE term <> '' GROUP BY cluster, term),
              |nc AS (SELECT count(DISTINCT cluster) AS n_clusters FROM tc),
              |dfc AS (SELECT term, count(*) AS dfc FROM tc GROUP BY term),
              |sc AS (SELECT cluster, tc.term, ctf, dfc,
              |  ctf * ((n_clusters * 1000000) // dfc) AS score
              |  FROM tc JOIN dfc ON tc.term = dfc.term, nc),
              |rk AS (SELECT cluster, term, ctf, dfc, score,
              |  row_number() OVER (PARTITION BY cluster
              |    ORDER BY score DESC, term) AS rank FROM sc)
              |SELECT cluster, rank, term, ctf, dfc, score FROM rk
              |WHERE rank <= 5""".stripMargin)),

    // the data-map report: TRAINED clusters (not seeded), each with
    // size, token mass, exact cohesion, outlier count, and its top-3
    // distinguishing terms — every number flows through the trained
    // assignment, so a wrong Lloyd round breaks the hash
    "pipeline_data_map" -> QueryDef(
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val docs = table(s, d, "documents")
        val diag = Similarity.kmeansDiagnostics(emb, "vec_id",
          "embedding", KmK, KmIters)
        val clustered = docs.join(
            diag.select(col("vec_id").as("doc_id"), col("cluster"),
              col("sim_q")), "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val stats = clustered.groupBy(col("cluster")).agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          sum(col("sim_q")).as("sum_sim_q"),
          sum(when(col("sim_q") < OutlierSimQ, 1L).otherwise(0L))
            .as("n_outliers"))
        val ct = clustered.select(col("cluster"),
            explode(graft.functions.TextShingles.wordTermCounts(
              col("text"))).as("tc"))
          .select(col("cluster"), col("tc.term").as("term"),
            col("tc.tf").as("tf"))
          .filter(col("term") =!= "")
          .groupBy(col("cluster"), col("term"))
          .agg(sum(col("tf")).as("ctf"))
        val nc = ct.agg(count_distinct(col("cluster")).as("n_clusters"))
        val dfc = ct.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
        val labels = ct.join(dfc, "term").crossJoin(broadcast(nc))
          .withColumn("score",
            expr("ctf * ((n_clusters * 1000000L) div dfc)"))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster"))
              .orderBy(col("score").desc, col("term").asc)))
          .filter(col("rank") <= 3)
          .select(col("cluster"), col("rank").cast("long").as("rank"),
            col("term"))
        val result = stats.join(labels, "cluster")
        Dedup.releaseAfter(result, clustered)
      },
      Some(s"""WITH $kmeansCtes,
              |$kmeansDiagCtes,
              |cl AS (SELECT f.vec_id AS doc_id, f.cluster, f.sim_q,
              |    d.text FROM fin f JOIN documents d
              |  ON d.doc_id = f.vec_id),
              |st AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(len(string_split_regex(trim(lower(text)),
              |      '\\s+'))) AS BIGINT) AS n_tokens,
              |    CAST(sum(sim_q) AS BIGINT) AS sum_sim_q,
              |    CAST(sum(CASE WHEN sim_q < $OutlierSimQ THEN 1 ELSE 0
              |      END) AS BIGINT) AS n_outliers
              |  FROM cl GROUP BY cluster),
              |ti AS (SELECT cluster,
              |    unnest(string_split_regex(trim(lower(text)), '\\s+'))
              |      AS term FROM cl),
              |tc AS (SELECT cluster, term, count(*) AS ctf FROM ti
              |  WHERE term <> '' GROUP BY cluster, term),
              |nc AS (SELECT count(DISTINCT cluster) AS n_clusters FROM tc),
              |dfc AS (SELECT term, count(*) AS dfc FROM tc GROUP BY term),
              |sc AS (SELECT cluster, tc.term, ctf * ((n_clusters *
              |    1000000) // dfc) AS score
              |  FROM tc JOIN dfc ON tc.term = dfc.term, nc),
              |rk AS (SELECT cluster, term, row_number() OVER (
              |    PARTITION BY cluster ORDER BY score DESC, term)
              |    AS rank FROM sc)
              |SELECT st.cluster, n_docs, n_tokens, sum_sim_q, n_outliers,
              |  CAST(rank AS BIGINT) AS rank, term
              |FROM st JOIN rk ON st.cluster = rk.cluster
              |WHERE rank <= 3""".stripMargin)),

    "text_phrase_search" -> QueryDef(
      (s, d) => graft.operators.TextSearch.phraseSearch(
        table(s, d, "documents"), "doc_id", "text", "batch batch"),
      Some(phraseSql)),

    // the phrase TVF twin (r16): decontamination triage from pure SQL
    "sql_phrase_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        table(s, d, "documents")
          .createOrReplaceTempView("graft_tvf_phrase_docs")
        s.sql("""SELECT doc_id, n_hits FROM graft_phrase_search(
                |  'graft_tvf_phrase_docs', 'doc_id', 'text',
                |  'batch batch')""".stripMargin)
      },
      Some(phraseSql)),

    "text_tfidf_keywords" -> QueryDef(
      (s, d) => graft.operators.TextSearch.tfidfKeywords(
        table(s, d, "documents"), "doc_id", "text", TfidfK),
      Some(s"""WITH $termTfCte,
              |${tfidfScoredCte("tfq")},
              |rk AS (SELECT doc_id, term, tf, df, score,
              |  row_number() OVER (PARTITION BY doc_id
              |    ORDER BY score DESC, term) AS rank
              |  FROM sc)
              |SELECT doc_id, rank, term, tf, df, score FROM rk
              |WHERE rank <= $TfidfK""".stripMargin)),

    "text_search_topk" -> QueryDef(
      (s, d) => graft.operators.TextSearch.searchTopK(
        table(s, d, "documents"), "doc_id", "text", SearchTerms, SearchK),
      Some(textSearchTopkSql)),

    // hybrid retrieval: the lexical tf·idf top-k and the cosine top-k
    // of one query doc's embedding, fused by reciprocal rank
    // (Similarity.rrfFuse) — the standard serving combiner when the
    // two retrievers' scores are incommensurable. rankTopK lifts the
    // lexical list into the ranked (query_id, rank, neighbor_id)
    // vocabulary; the exact integer tf·idf score casts to double
    // losslessly (far below 2^53)
    "hybrid_search_rrf" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val emb = table(s, d, "embeddings")
        val lex = Similarity.rankTopK(
          graft.operators.TextSearch.searchTopK(
              docs, "doc_id", "text", SearchTerms, SearchK)
            .select(lit(HybridQueryId.toLong).as("query_id"),
              col("doc_id").cast("long").as("neighbor_id"),
              col("score").cast("double").as("sim")), SearchK)
        val vec = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === HybridQueryId), "vec_id",
          "embedding", SearchK)
        Similarity.rrfFuse(Seq(lex, vec), SearchK, RrfK)
      },
      Some(hybridRrfSql)),

    // the SERVED hybrid: both retrievers answer from index layouts —
    // lexical candidates from the capped inverted index (df and
    // candidates never rescan the corpus' non-matching docs), the
    // vector list from the IVF assign/probe/rank path (~nprobe/nlist
    // of the corpus touched). The fusion is identical; only where the
    // ranked lists COME FROM changes, which is the whole serving story
    "hybrid_search_from_index" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val emb = table(s, d, "embeddings")
        val lex = Similarity.rankTopK(
          graft.operators.TextSearch.searchTopKFromIndex(
              graft.operators.TextSearch.invertedIndex(
                docs, "doc_id", "text", InvIdxMaxPostings),
              docs, "doc_id", "text", SearchTerms, SearchK)
            .select(lit(HybridQueryId.toLong).as("query_id"),
              col("doc_id").cast("long").as("neighbor_id"),
              col("score").cast("double").as("sim")), SearchK)
        val centroids = Similarity.seedCentroidsK(emb, "vec_id",
          "embedding", IvfK)
        val assigned = Similarity.ivfAssign(emb, centroids, "vec_id",
          "embedding")
        val vec = Similarity.ivfTopK(assigned, centroids,
          emb.filter(col("vec_id") === HybridQueryId), "vec_id",
          "embedding", SearchK, nprobe = 4)
        Similarity.rrfFuse(Seq(lex, vec), SearchK, RrfK)
      },
      Some(hybridFromIndexSql)),

    // more-like-this: each panel doc queries the corpus with its own
    // top tf·idf keywords through the one-pass disjunctive batch
    // retrieval (self-match expected at rank 1 — the sanity signal).
    // One persisted (doc_id, term, tf) stream feeds BOTH the keyword
    // extraction and the batch retrieval (r20): composing the two
    // operators naively tokenized the full corpus twice.
    "more_like_this" -> QueryDef(
      (s, d) => {
        import graft.operators.TextSearch
        val docs = table(s, d, "documents")
        val dt = TextSearch.docTerms(docs, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val qt = TextSearch.tfidfKeywordsOver(docs, dt, TfidfK)
          .filter(col("doc_id") < MltQueries)
          .select(col("doc_id").as("query_id"), col("term"))
        TextSearch.searchTopKBatchOver(docs, dt, qt, MltK,
          alsoRelease = Seq(dt))
      },
      Some(mltSql)),

    // the BM25-scored panel path (r16): more_like_this's serving
    // shape with the BM25 scorer — tf saturation + length
    // normalization per (query, doc), float-deterministic through the
    // character-identical chain + sorted-term fold, ranked into the
    // (query_id, rank, neighbor_id) vocabulary
    "more_like_this_bm25" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val qt = graft.operators.TextSearch.tfidfKeywords(
            docs, "doc_id", "text", TfidfK)
          .filter(col("doc_id") < MltQueries)
          .select(col("doc_id").as("query_id"), col("term"))
        graft.operators.TextSearch.searchTopKBatchBm25(
          docs, "doc_id", "text", qt, MltK)
      },
      Some(mltBm25Sql)),

    // BM25 as the lexical arm of the hybrid (r16): the standard
    // serving configuration — BM25 handles the query terms, cosine
    // the embedding, RRF fuses the incommensurable scores
    "hybrid_bm25_rrf" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val emb = table(s, d, "embeddings")
        val lex = Similarity.rankTopK(
          graft.operators.TextSearch.searchTopKBm25(
              docs, "doc_id", "text", SearchTerms, SearchK)
            .select(lit(HybridQueryId.toLong).as("query_id"),
              col("doc_id").cast("long").as("neighbor_id"),
              col("score").as("sim")), SearchK)
        val vec = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === HybridQueryId), "vec_id",
          "embedding", SearchK)
        Similarity.rrfFuse(Seq(lex, vec), SearchK, RrfK)
      },
      Some(hybridBm25RrfSql)),

    // BM25 served from the published artifacts (r16): candidates from
    // the inverted index's posting lists, tf+dl row-local on the
    // candidates, df from the index, (sumdl, n_docs) from the
    // published bm25CorpusStats — the corpus is never re-scanned at
    // query time. Exact vs searchTopKBm25 when query-term dfs fit the
    // posting cap; the oracle replays the same capped candidate set
    "bm25_from_index" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        graft.operators.TextSearch.searchTopKBm25FromIndex(
          graft.operators.TextSearch.invertedIndex(
            docs, "doc_id", "text", InvIdxMaxPostings),
          graft.operators.TextSearch.bm25CorpusStats(
            docs, "doc_id", "text"),
          docs, "doc_id", "text", SearchTerms, SearchK)
      },
      Some(bm25FromIndexSql)),

    // MULTI-query hybrid: the whole more_like_this panel fused with
    // each doc's cosine neighbors — rrfFuse's panel path in one row
    // (the single-query hybrid rows exercise only query_id = 7).
    // Lexical MLT includes the self-match; the ANN list excludes self
    // by construction — RRF just sees one list that voted for it
    "hybrid_mlt_rrf" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val emb = table(s, d, "embeddings")
        val qt = graft.operators.TextSearch.tfidfKeywords(
            docs, "doc_id", "text", TfidfK)
          .filter(col("doc_id") < MltQueries)
          .select(col("doc_id").as("query_id"), col("term"))
        val lex = graft.operators.TextSearch.searchTopKBatch(
          docs, "doc_id", "text", qt, MltK)
        val vec = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < MltQueries), "vec_id",
          "embedding", MltK)
        Similarity.rrfFuse(Seq(lex, vec), MltK, RrfK)
      },
      Some(hybridMltSql)),

    // BM25-flavor ranking: classic tf saturation + doc-length
    // normalization over the engine's integer idf family; each
    // per-term score is one fixed-order float chain spelled
    // character-identically here, and the per-doc sum folds in sorted
    // term order (list_sum(list(s ORDER BY term)) ≡ the engine's
    // aggregate-over-array_sort — the PQ/ADC determinism precedent)
    "text_search_bm25" -> QueryDef(
      (s, d) => graft.operators.TextSearch.searchTopKBm25(
        table(s, d, "documents"), "doc_id", "text", SearchTerms,
        SearchK),
      Some(bm25Sql)),

    // result snippets: ±4 words of context around the first hit of
    // any query term — zero-exchange scan, the result-page companion
    // to the retrieval family and the decontamination triage view
    "search_snippets" -> QueryDef(
      (s, d) => graft.operators.TextSearch.searchSnippets(
        table(s, d, "documents"), "doc_id", "text", SearchTerms,
        window = 4),
      Some(snippetsSql)),

    // the snippets TVF twin (r16): the result-page context view from
    // pure SQL — same zero-exchange scan, same oracle
    "sql_snippets_tvf" -> QueryDef(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        table(s, d, "documents")
          .createOrReplaceTempView("graft_tvf_snip_docs")
        s.sql(s"""SELECT doc_id, pos, snippet FROM graft_snippets(
                 |  'graft_tvf_snip_docs', 'doc_id', 'text',
                 |  '${SearchTerms.mkString(",")}', 4)""".stripMargin)
      },
      Some(snippetsSql)),

    // pseudo-relevance feedback (RM1-flavor query expansion), built
    // ENTIRELY by composition: conjunctive seed search -> the seed
    // docs' tf·idf keywords -> disjunctive re-query with the expanded
    // term set. No new operator — the three retrieval ops compose
    "search_prf_expanded" -> QueryDef(
      (s, d) => {
        val docs = table(s, d, "documents")
        val seed = graft.operators.TextSearch.searchTopK(
          docs, "doc_id", "text", SearchTerms, PrfM)
        val kw = graft.operators.TextSearch.tfidfKeywords(
            docs, "doc_id", "text", TfidfK)
          .join(broadcast(seed.select(col("doc_id"))), "doc_id")
          .select(col("term"))
        val original = s.createDataset(SearchTerms)(
          org.apache.spark.sql.Encoders.STRING).toDF("term")
        val qt = kw.union(original)
          .select(lit(0L).as("query_id"), col("term"))
        graft.operators.TextSearch.searchTopKBatch(
          docs, "doc_id", "text", qt, SearchK)
      },
      Some(prfSql))
  )
}
