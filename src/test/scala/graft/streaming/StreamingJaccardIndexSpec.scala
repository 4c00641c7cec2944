package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.operators.Dedup
import graft.sink.{DirCommit, IndexLayout}

/** StreamingJaccardIndex: epoch appends under the FROZEN df order
  * answer every probe exactly like a from-scratch rebuild (exact
  * verification makes append ≡ rebuild hold on OUTPUT, not just
  * soundness), per-epoch pairs equal the pre-batch probe, compaction
  * re-freezes all three tables without changing answers, and crash
  * windows repair idempotently.
  */
// driver-excluded slow suite (r21): run with SPARK_GRAFT_SLOW_TESTS=1
@graft.tags.Slow
class StreamingJaccardIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private val phrase = "alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val schema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")

  private def pairSet(df: DataFrame) =
    df.select(col("new_id"), col("corpus_id"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  /** From-scratch published rebuild over `corpus`, probed by path. */
  private def rebuildProbe(corpus: DataFrame, b: DataFrame) = {
    val dir = Files.createTempDirectory("jac-rb").toString
    Dedup.writeJaccardIndex(
      Dedup.buildJaccardIndex(corpus, "doc_id", "text", 3, 0.5), dir,
      shards = 8)
    pairSet(Dedup.ngramJaccardAgainstPath(b, dir, "doc_id", "text"))
  }

  test("jaccard maintainer: frozen-order appends == rebuild, " +
      "compaction re-freezes, crash windows repair") {
    val dir = Files.createTempDirectory("jacidx-stream").toString
    val (srcDir, idxDir, pairsDir, ckpt) =
      (s"$dir/in", s"$dir/idx", s"$dir/pairs", s"$dir/ckpt")
    new java.io.File(srcDir).mkdirs()

    val b1 = (1L to 20L).map(i => (i, s"$phrase corpus tail $i")) ++
      (1L to 8L).map(i => (100L + i,
        s"wholly different content number $i sharing nothing at all"))
    val b2 = Seq((200L, s"$phrase corpus tail 7"),
      (201L, "novel unrelated text with zero overlap anywhere here"))
    val b3 = Seq((300L, s"$phrase corpus tail 3"),
      (301L, s"wholly different content number 5 sharing nothing at all"))
    val probeBatch = Seq((900L, s"$phrase corpus tail 3"))
      .toDF("doc_id", "text")

    def run(): Unit = {
      val q = StreamingJaccardIndex.start(spark, s"$srcDir/*", schema,
        idxDir, pairsDir, ckpt, "doc_id", "text", k = 3,
        threshold = 0.5, shards = 8, compactEvery = 2)
      q.processAllAvailable(); q.stop()
    }

    // epoch 0: bootstrap is a one-batch frozen generation
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f1")
    run()
    assert(graft.sink.IndexLayout.lastApplied(spark, idxDir)
      .contains(0L))
    val m0 = pairSet(Dedup.ngramJaccardAgainstPath(probeBatch, idxDir,
      "doc_id", "text"))
    assert(m0.nonEmpty &&
      m0 == rebuildProbe(b1.toDF("doc_id", "text"), probeBatch),
      "bootstrap generation must equal the batch rebuild")

    // epoch 1 across a restart: pre-batch pairs; appends ride as
    // epoch partitions; mid-tail probe == rebuild over the union
    b2.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f2")
    run()
    val expect1 = rebuildProbe(b1.toDF("doc_id", "text"),
      b2.toDF("doc_id", "text"))
    assert(expect1.nonEmpty, "fixture sanity: the echo must match")
    assert(pairSet(spark.read.parquet(s"$pairsDir/epoch=1")) == expect1)
    val fs = DirCommit.fs(spark, idxDir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/sets_epochs/epoch=1")), "sets epoch partition expected")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/prefix_epochs/epoch=1")),
      "prefix epoch partition expected")
    val all12 = (b1 ++ b2).toDF("doc_id", "text")
    assert(pairSet(Dedup.ngramJaccardAgainstPath(probeBatch, idxDir,
        "doc_id", "text")) == rebuildProbe(all12, probeBatch),
      "mid-tail maintained probe must equal the rebuild probe " +
        "(frozen-order appends change candidates at most, never the " +
        "verified output)")
    // the readJaccardIndex surface resolves the maintained view too
    assert(pairSet(Dedup.ngramJaccardAgainst(probeBatch,
        Dedup.readJaccardIndex(spark, idxDir), "doc_id", "text")) ==
      rebuildProbe(all12, probeBatch),
      "readJaccardIndex must serve base + epoch tail")

    // epoch 2: compaction re-freezes all three tables
    b3.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f3")
    run()
    val root = Dedup.readIndexMeta(spark, idxDir)
    assert(IndexLayout.baseDir(root, IndexLayout.JaccardSets) ==
      "sets_v2")
    assert(IndexLayout.baseDir(root, IndexLayout.JaccardPrefix) ==
      "prefix_v2")
    assert(IndexLayout.baseDir(root, IndexLayout.JaccardDfreq) ==
      "dfreq_v2")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/sets_epochs/epoch=1")), "folded sets epochs cleared")
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    val maintained = pairSet(Dedup.ngramJaccardAgainstPath(probeBatch,
      idxDir, "doc_id", "text"))
    assert(maintained == rebuildProbe(all, probeBatch),
      "post-compaction probe must equal the rebuild probe")
    assert(pairSet(spark.read.parquet(s"$pairsDir/epoch=2")) ==
      rebuildProbe(all12, b3.toDF("doc_id", "text")),
      "epoch 2 pairs must probe the PRE-batch corpus")

    // replay of an applied epoch is a no-op
    StreamingJaccardIndex.applyBatch(b3.toDF("doc_id", "text"), 2L,
      idxDir, pairsDir, "doc_id", "text", 3, 0.5, 8, 2, 5, 1 << 16)
    assert(pairSet(Dedup.ngramJaccardAgainstPath(probeBatch, idxDir,
      "doc_id", "text")) == maintained, "replay must be a no-op")

    // crash window: meta promoted, prefix AND gcounts partitions (the
    // replay key is gcounts — the table appended LAST) missing —
    // re-apply repairs; sets append no-ops
    val b4 = Seq((400L, s"$phrase corpus tail 5"))
      .toDF("doc_id", "text")
    StreamingJaccardIndex.applyBatch(b4, 3L, idxDir, pairsDir,
      "doc_id", "text", 3, 0.5, 8, 99, 5, 1 << 16)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$idxDir/prefix_epochs/epoch=3"), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$idxDir/gcounts_epochs/epoch=3"), true)
    StreamingJaccardIndex.applyBatch(b4, 3L, idxDir, pairsDir,
      "doc_id", "text", 3, 0.5, 8, 99, 5, 1 << 16)
    assert(pairSet(Dedup.ngramJaccardAgainstPath(probeBatch, idxDir,
        "doc_id", "text")) ==
      rebuildProbe(all.unionByName(b4), probeBatch),
      "replayed epoch must heal the missing prefix partition")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/gcounts_epochs/epoch=3")),
      "replay must restore the gcounts epoch too")
    // the narrower window — counts epoch alone missing — also replays
    // (replay keys on the LAST-appended table)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$idxDir/gcounts_epochs/epoch=3"), true)
    StreamingJaccardIndex.applyBatch(b4, 3L, idxDir, pairsDir,
      "doc_id", "text", 3, 0.5, 8, 99, 5, 1 << 16)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/gcounts_epochs/epoch=3")),
      "counts-only crash window must repair on replay")

    // param drift fails loudly
    val e = intercept[IllegalArgumentException] {
      StreamingJaccardIndex.applyBatch(b4, 4L, idxDir, pairsDir,
        "doc_id", "text", 3, 0.6, 8, 99, 5, 1 << 16)
    }
    assert(e.getMessage.contains("cannot re-shingle or re-rank"),
      e.getMessage)
  }

  test("gram-count sidecar: folded counts equal a recount, guarded " +
      "probe parity, pre-sidecar layouts fall back then upgrade") {
    val dir = Files.createTempDirectory("jacidx-gc").toString
    val (idxDir, pairsDir) = (s"$dir/idx", s"$dir/pairs")
    // every doc shares the phrase (viral grams); unique tails keep
    // them distinct docs
    val b1 = (1L to 16L).map(i => (i, s"$phrase common tail $i"))
      .toDF("doc_id", "text")
    val b2 = (100L to 104L).map(i => (i, s"$phrase common tail $i"))
      .toDF("doc_id", "text")
    val probe = Seq((900L, s"$phrase common tail 3"))
      .toDF("doc_id", "text")
    def apply(b: DataFrame, id: Long, compactEvery: Int = 99): Unit =
      StreamingJaccardIndex.applyBatch(b, id, idxDir, pairsDir,
        "doc_id", "text", 3, 0.5, 8, compactEvery, 5, 1 << 16)
    apply(b1, 0L); apply(b2, 1L)

    // 1) the folded sidecar equals an exact recount of the prefix view
    val root = Dedup.readIndexMeta(spark, idxDir)
    assert(IndexLayout.hasTable(root, IndexLayout.JaccardGramCounts))
    def rows(df: DataFrame) = df.select(col("g"), col("n"), col("hub"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val folded = rows(IndexLayout.readPostings(spark, idxDir, root,
        None, None, IndexLayout.JaccardGramCounts)
      .groupBy(col("g"))
      .agg(sum(col("n")).as("n"), min(col("hub")).as("hub")))
    val recount = rows(IndexLayout.readPostings(spark, idxDir, root,
        None, None, IndexLayout.JaccardPrefix)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("hub")))
    assert(folded == recount && folded.nonEmpty,
      "base + delta counts must exactly recount the posting view")

    // 2) guarded probe parity: the sidecar branch (path probe) and the
    // recount branch (same layout views, gramCounts stripped) must
    // produce identical pairs under an active cap
    val viaSidecar = pairSet(Dedup.ngramJaccardAgainstPath(probe,
      idxDir, "doc_id", "text", maxGramPostings = 2))
    val viaRecount = pairSet(Dedup.ngramJaccardAgainst(probe,
      Dedup.readJaccardIndex(spark, idxDir).copy(gramCounts = None),
      "doc_id", "text", maxGramPostings = 2))
    assert(viaSidecar == viaRecount,
      "guard statistics from the sidecar must match the recount")
    // cap sanity: the viral phrase grams exceed 2 postings, so the
    // guard is actually active (hub-only answers thin the pair set
    // vs the unguarded probe)
    val unguarded = pairSet(Dedup.ngramJaccardAgainstPath(probe,
      idxDir, "doc_id", "text"))
    assert(viaSidecar.subsetOf(unguarded) && viaSidecar != unguarded,
      "fixture sanity: the cap must engage on the viral grams")

    // 3) a pre-sidecar layout (meta without gcounts fields) falls back
    // to recounting and keeps appending without the counts table
    val f = DirCommit.fs(spark, idxDir)
    val metaTxt = {
      val in = f.open(new org.apache.hadoop.fs.Path(idxDir,
        IndexLayout.MetaFile))
      val t = scala.io.Source.fromInputStream(in).mkString
      in.close(); t
    }
    val stripped = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        org.json4s.jackson.JsonMethods.parse(metaTxt) match {
          case org.json4s.JObject(fields) => org.json4s.JObject(
            fields.filterNot(_._1.startsWith("gcounts")))
          case other => other
        }))
    IndexLayout.promoteMeta(f, idxDir, stripped)
    val b3 = Seq((200L, s"$phrase common tail 200"))
      .toDF("doc_id", "text")
    apply(b3, 2L)
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      s"$idxDir/gcounts_epochs/epoch=2")),
      "a pre-sidecar layout must not gain counts epochs mid-life")
    val root2 = Dedup.readIndexMeta(spark, idxDir)
    assert(!IndexLayout.hasTable(root2, IndexLayout.JaccardGramCounts))
    val guardedFallback = pairSet(Dedup.ngramJaccardAgainstPath(probe,
      idxDir, "doc_id", "text", maxGramPostings = 2))
    assert(guardedFallback.nonEmpty,
      "the recount fallback must keep serving guarded probes")

    // 4) the next compaction re-freezes WITH the sidecar
    val b4 = Seq((201L, s"$phrase common tail 201"))
      .toDF("doc_id", "text")
    apply(b4, 3L, compactEvery = 1)
    val root3 = Dedup.readIndexMeta(spark, idxDir)
    assert(IndexLayout.hasTable(root3, IndexLayout.JaccardGramCounts),
      "compaction must upgrade the layout with the counts table")
    assert(IndexLayout.baseDir(root3, IndexLayout.JaccardGramCounts)
      == "gcounts_v3")
    val postUpgrade = rows(IndexLayout.readPostings(spark, idxDir,
        root3, None, None, IndexLayout.JaccardGramCounts))
    val postRecount = rows(IndexLayout.readPostings(spark, idxDir,
        root3, None, None, IndexLayout.JaccardPrefix)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("hub")))
    assert(postUpgrade == postRecount,
      "upgraded counts must recount the re-frozen prefix")
  }

  test("pre-r16 pos-less prefix: appends inherit the pos-less schema, " +
      "compaction upgrades to the PPJoin layout, append == rebuild " +
      "across the boundary (r17)") {
    val dir = Files.createTempDirectory("jacidx-pos").toString
    val (idxDir, pairsDir) = (s"$dir/idx", s"$dir/pairs")
    val b1 = (1L to 20L).map(i => (i, s"$phrase corpus tail $i"))
    val b2 = Seq((200L, s"$phrase corpus tail 7"))
    val b3 = Seq((300L, s"$phrase corpus tail 3"))
    val b4 = Seq((400L, s"$phrase corpus tail 5"))
    val probe = Seq((900L, s"$phrase corpus tail 3"))
      .toDF("doc_id", "text")
    def apply(b: Seq[(Long, String)], id: Long, compactEvery: Int)
        : Unit =
      StreamingJaccardIndex.applyBatch(b.toDF("doc_id", "text"), id,
        idxDir, pairsDir, "doc_id", "text", 3, 0.5, 8, compactEvery,
        5, 1 << 16)
    def prefixCols(root: org.json4s.JValue): Seq[String] =
      IndexLayout.readPostings(spark, idxDir, root, None, None,
        IndexLayout.JaccardPrefix).columns.toSeq
    apply(b1, 0L, 99)

    // strip to the r15 shape: pos-less prefix base, no gcounts, no
    // recorded schemas (pre-r16 metas carried none)
    val f = DirCommit.fs(spark, idxDir)
    val root0 = Dedup.readIndexMeta(spark, idxDir)
    assert(prefixCols(root0).contains("pos"), "fixture sanity")
    graft.sink.Sinks.writeRangeSorted(
      spark.read.parquet(s"$idxDir/prefix_v0").drop("pos"),
      s"$idxDir/prefix_pre", "g", 8)
    f.delete(new org.apache.hadoop.fs.Path(s"$idxDir/gcounts_v0"), true)
    val (bits, bk) = Dedup.metaBloom(root0)
    IndexLayout.promoteMeta(f, idxDir, IndexLayout.metaJson(Seq(
      "shingle_k" -> 3, "threshold" -> 0.5, "shards" -> 8,
      "layout" -> "jaccard_maintained", "last_epoch" -> 0L,
      "bloom_k" -> bk, "bloom_m" -> bits.length,
      "bloom_bits" -> Dedup.bitsToString(bits),
      "dfreq_dir" -> "dfreq_v0", "sets_dir" -> "sets_v0",
      "sets_compacted_through" -> 0L,
      "prefix_dir" -> "prefix_pre",
      "prefix_compacted_through" -> 0L)))
    val rootPre = Dedup.readIndexMeta(spark, idxDir)
    assert(!prefixCols(rootPre).contains("pos"))
    assert(pairSet(Dedup.ngramJaccardAgainstPath(probe, idxDir,
        "doc_id", "text")) ==
      rebuildProbe(b1.toDF("doc_id", "text"), probe),
      "the length-only fallback must stay exact on a pos-less layout")

    // an append inherits the pos-less schema (mixed-schema epochs
    // would break the union); the recorded schema_prefix must agree
    apply(b2, 1L, 99)
    val root1 = Dedup.readIndexMeta(spark, idxDir)
    assert(!spark.read.parquet(s"$idxDir/prefix_epochs/epoch=1")
      .columns.contains("pos"),
      "appends to a pos-less generation must stay pos-less")
    assert(Dedup.metaSchemaOpt(root1, "schema_prefix")
      .exists(!_.fieldNames.contains("pos")),
      "the recorded schema must match the pos-less generation")
    assert(pairSet(Dedup.ngramJaccardAgainstPath(probe, idxDir,
        "doc_id", "text")) ==
      rebuildProbe((b1 ++ b2).toDF("doc_id", "text"), probe))

    // compaction re-freezes from the stored sets: the new generation
    // carries pos (the PPJoin positional filter turns on), gcounts,
    // and pos-bearing recorded schemas
    apply(b3, 2L, 2)
    val root2 = Dedup.readIndexMeta(spark, idxDir)
    assert(IndexLayout.baseDir(root2, IndexLayout.JaccardPrefix) ==
      "prefix_v2", "compaction expected at epoch 2")
    assert(prefixCols(root2).contains("pos"),
      "compaction must upgrade the prefix to the pos-bearing layout")
    assert(IndexLayout.hasTable(root2, IndexLayout.JaccardGramCounts))
    assert(Dedup.metaSchemaOpt(root2, "schema_prefix")
      .exists(_.fieldNames.contains("pos")))
    assert(pairSet(Dedup.ngramJaccardAgainstPath(probe, idxDir,
        "doc_id", "text")) ==
      rebuildProbe((b1 ++ b2 ++ b3).toDF("doc_id", "text"), probe),
      "append == rebuild must hold across the upgrade boundary")

    // post-upgrade appends carry pos
    apply(b4, 3L, 99)
    assert(spark.read.parquet(s"$idxDir/prefix_epochs/epoch=3")
      .columns.contains("pos"),
      "appends to the upgraded generation must carry pos")
    assert(pairSet(Dedup.ngramJaccardAgainstPath(probe, idxDir,
        "doc_id", "text")) ==
      rebuildProbe((b1 ++ b2 ++ b3 ++ b4).toDF("doc_id", "text"),
        probe))
  }
}
