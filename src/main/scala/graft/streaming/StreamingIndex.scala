package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.TextSearch
import graft.sink.DirCommit

/** Continuously maintained inverted index — the streaming twin of
  * [[graft.operators.TextSearch.invertedIndexAppend]]: as document
  * batches land, the stored (term, df, slot, doc_id) table is merged
  * forward without ever re-scanning the indexed corpus, and because the
  * append re-cap is provably identical to a from-scratch rebuild, the
  * maintained table equals `invertedIndex(all docs so far)` after every
  * epoch.
  *
  * Exactly-once discipline (the [[StreamingRollup]] pattern verbatim):
  * df addition is NOT idempotent, so each epoch's batchId commits
  * ATOMICALLY with the index — marker written into the staged directory
  * before the [[graft.sink.DirCommit]] swap; a replayed epoch compares
  * and skips. A crash inside the swap is recovered before any bootstrap
  * decision.
  *
  * Contract: each document must reach the index EXACTLY once across all
  * epochs — dedup upstream (PK discipline, or
  * [[StreamingDedup.dropIndexedTexts]] against the doc corpus) — since a
  * re-indexed doc would double its df contributions. As with the rollup,
  * the index table and its checkpoint are a unit.
  */
object StreamingIndex {

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            tablePath: String, checkpoint: String,
            idCol: String, textCol: String, maxPostings: Int,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, tablePath, idCol, textCol, maxPostings)
      }
      .start()
  }

  /** One epoch: skip if already applied; first epoch bootstraps the
    * index from the batch, later epochs merge into the stored table;
    * publish = staged parquet + marker under ONE atomic swap.
    */
  private[streaming] def applyBatch(batch: DataFrame, batchId: Long,
      tablePath: String, idCol: String, textCol: String,
      maxPostings: Int): Unit = {
    val spark = batch.sparkSession
    val fs = DirCommit.fs(spark, tablePath)
    DirCommit.recover(tablePath)
    if (DirCommit.lastApplied(tablePath).exists(_ >= batchId)) return
    val tableExists = fs.exists(new Path(tablePath))
    val next =
      if (tableExists)
        TextSearch.invertedIndexAppend(
          spark.read.parquet(tablePath), batch, idCol, textCol,
          maxPostings)
      else
        TextSearch.invertedIndex(batch, idCol, textCol, maxPostings)
    // BM25 stats ride the same atomic swap (r16): totals ADD exactly
    // across disjoint batches, so prior + batch equals from-scratch;
    // the one-row collect is a bounded driver artifact. Underscore
    // prefix = invisible to the table's parquet reads. A PRE-r16
    // table that lacks the sidecar must NOT gain one mid-life: the
    // stored postings cannot reconstruct the already-indexed batches'
    // dl totals, so a file seeded from this batch alone would make
    // readBm25Stats SUCCEED with totals missing every earlier batch —
    // silently wrong BM25 scores instead of the documented loud
    // failure. Such tables stay sidecar-less until
    // [[backfillBm25Stats]] seeds the true totals, after which
    // maintenance resumes here.
    val priorOpt = readStatsJson(fs, tablePath)
    val maintainStats = priorOpt.isDefined || !tableExists
    DirCommit.commit(tablePath, Some(batchId)) { stage =>
      next.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
      if (maintainStats) {
        val prior = priorOpt.getOrElse((0L, 0L))
        val bRow = TextSearch.bm25CorpusStats(batch, idCol, textCol).head()
        val nextStats = (prior._1 + Option(bRow.get(0))
            .fold(0L)(_.asInstanceOf[Long]),
          prior._2 + bRow.getLong(1))
        val statsOut = fs.create(new Path(stage, StatsFile), true)
        try statsOut.write(
          s"""{"sumdl": ${nextStats._1}, "n_docs": ${nextStats._2}}"""
            .getBytes("UTF-8"))
        finally statsOut.close()
      }
    }
  }

  private val StatsFile = "_bm25_stats.json"

  private def readStatsJson(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String): Option[(Long, Long)] = {
    val p = new Path(tablePath, StatsFile)
    if (!fs.exists(p)) None
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val in = fs.open(p)
      try {
        val root = JsonMethods.parse(
          scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        def l(n: String): Long = (root \ n) match {
          case JInt(x) => x.longValue
          case JLong(x) => x
          case o => throw new IllegalStateException(
            s"bad $StatsFile field $n: $o")
        }
        Some((l("sumdl"), l("n_docs")))
      } finally in.close()
    }
  }

  /** Seed (or correct) the stats sidecar of an EXISTING table from
    * the full indexed corpus — the upgrade path for tables that
    * predate the sidecar (applyBatch refuses to maintain stats for
    * them, since the stored postings cannot reconstruct earlier
    * batches' dl totals). After the backfill, epoch maintenance
    * resumes adding deltas. The caller owns corpus completeness: it
    * must be EXACTLY the documents indexed so far.
    */
  def backfillBm25Stats(spark: SparkSession, tablePath: String,
      corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): Unit = {
    val fs = DirCommit.fs(spark, tablePath)
    require(fs.exists(new Path(tablePath)),
      s"no index table at $tablePath to backfill")
    val row = TextSearch.bm25CorpusStats(corpus, idCol, textCol).head()
    val sumdl = Option(row.get(0)).fold(0L)(_.asInstanceOf[Long])
    val out = fs.create(new Path(tablePath, StatsFile), true)
    try out.write(
      s"""{"sumdl": $sumdl, "n_docs": ${row.getLong(1)}}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** The maintained `(sumdl, n_docs)` beside a [[StreamingIndex]]
    * table, as the one-row frame
    * [[TextSearch.searchTopKBm25FromIndex]] consumes. Fails loudly if
    * the table predates the r16 stats sidecar — rebuild or backfill
    * with [[backfillBm25Stats]] over the indexed corpus.
    */
  def readBm25Stats(spark: SparkSession, tablePath: String): DataFrame = {
    val fs = DirCommit.fs(spark, tablePath)
    val (sumdl, nDocs) = readStatsJson(fs, tablePath).getOrElse(
      throw new IllegalStateException(
        s"no $StatsFile beside $tablePath - the index predates the " +
          "maintained BM25 stats; backfill with backfillBm25Stats " +
          "over the indexed corpus"))
    import spark.implicits._
    Seq((sumdl, nDocs)).toDF("sumdl", "n_docs")
  }
}
