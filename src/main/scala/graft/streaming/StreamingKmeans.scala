package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Similarity
import graft.sink.DirCommit

/** Continuously maintained k-means centroids — the streaming twin of
  * [[graft.operators.Similarity.kmeansTrainExact]], in the classic
  * online/mini-batch shape (Bottou & Bengio's streaming Lloyd's): each
  * arriving micro-batch is assigned to the centroids-as-of-the-previous
  * epoch, and its members' integer-quantized vectors ADD into the
  * per-cluster running sums. Because a centroid is an exact integer
  * (sum, count) pair — never a rounded mean — the maintained state after
  * epochs 1..n is a pure function of the batch SEQUENCE: replaying the
  * same files through a fresh checkpoint, or restarting mid-stream,
  * reproduces it bit-for-bit (StreamingKmeansSpec proves both, plus
  * parity against an independently-computed sequential fold).
  *
  * Bootstrap: the first epoch seeds one centroid per `k` smallest ids in
  * that batch (deterministic), assigns the WHOLE batch against those
  * seed directions, and keeps only the accumulated member sums — the
  * seed vector itself is direction-only, so no member is double-counted.
  * Clusters that attract no members drop (a zero sum vector would make
  * every later cosine NaN); `n_members` therefore always >= 1.
  *
  * Exactly-once: same discipline as [[StreamingRollup]] — sum-addition
  * is NOT idempotent, so the epoch's batchId is staged with the state
  * and published in one atomic swap; replayed epochs compare against the
  * marker and skip; a crash inside the swap is recovered
  * ([[graft.sink.DirCommit.recover]]) before anything else happens.
  *
  * Scale shape: state is k x (dim+1) longs — a bounded model artifact
  * read and merged on the driver; the per-batch work is a zero-shuffle
  * literal-centroid assignment plus one map-side-partial (cluster, dim)
  * sum exchange, exactly the batch trainer's iteration cost.
  *
  * Why this maintainer does NOT auto-rebuild (unlike
  * [[StreamingHierarchyIndex]], whose drift gate is wired since r19):
  * its centroids are not frozen — every epoch's members move the
  * exact running means, so the member-mean-vs-centroid drift the
  * hierarchy gate measures is ~0 here BY CONSTRUCTION, and the state
  * deliberately retains only (sum, count), never the member vectors,
  * so a re-bootstrap could not re-cluster history — it could only
  * reseed from one arriving batch, silently discarding the
  * accumulated model and breaking the bit-for-bit
  * replay-determinism contract above. The staleness that does accrue
  * (a cluster COUNT sized for the bootstrap corpus, seed directions
  * chosen from the first batch) is a modeling decision: retrain from
  * scratch with [[graft.operators.Similarity.kmeansTrainExact]] over
  * the retained corpus and swap the consumer, using
  * [[graft.operators.Similarity.centroidDriftReport]] over a stored
  * ASSIGNMENT (where frozen cluster ids do drift) as the signal —
  * the same contract the IVF index append documents.
  */
object StreamingKmeans {

  val stateSchema: StructType = StructType(Seq(
    StructField("centroid_id", LongType, nullable = false),
    StructField("n_members", LongType, nullable = false),
    StructField("cent_sum", ArrayType(LongType, containsNull = false),
      nullable = false)))

  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            statePath: String, checkpoint: String,
            idCol: String, vecCol: String, k: Int,
            quant: Double = 1e6,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, statePath, idCol, vecCol, k, quant)
      }
      .start()
  }

  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      statePath: String, idCol: String, vecCol: String, k: Int,
      quant: Double): Unit = {
    val spark = batch.sparkSession
    val fs = DirCommit.fs(spark, statePath)
    DirCommit.recover(statePath)
    if (DirCommit.lastApplied(statePath).exists(_ >= batchId)) return

    val q = Similarity.quantizeLong(batch, idCol, vecCol, quant)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val prev: Seq[(Long, Long, Array[Long])] =
        if (fs.exists(new Path(statePath)))
          spark.read.parquet(statePath)
            .select("centroid_id", "n_members", "cent_sum").collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
        else Seq.empty
      val dirs: Seq[(Long, Array[Double])] =
        if (prev.nonEmpty)
          prev.map { case (cid, _, s) => (cid, s.map(_.toDouble)) }
        else { // bootstrap: k smallest ids of the first batch, re-numbered
          val boot =
            q.orderBy(col("__id").asc).limit(k).collect().zipWithIndex
              .map { case (r, i) =>
                (i.toLong, r.getSeq[Long](1).map(_.toDouble).toArray)
              }.toSeq
          // an empty/short first batch can seed fewer than k centroids;
          // zero seeds would make every later assignment unresolvable
          require(boot.nonEmpty,
            "StreamingKmeans bootstrap: first batch is empty — nothing " +
              "to seed centroids from")
          boot
        }
      val batchSums = Similarity.assignToLiterals(q, dirs)
        .select(col("cluster"), posexplode(col("__qv")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("pos"), col("s"))))
          .as("ps"), max(col("n")).as("n"))
        .collect()
        .map { r =>
          val ps = r.getSeq[Row](1)
          r.getLong(0) -> (r.getLong(2), ps.map(_.getLong(1)).toArray)
        }.toMap
      // driver-side exact merge over the k x (dim+1) model artifact
      val prevMap = prev.map(c => c._1 -> (c._2, c._3)).toMap
      val next = (prevMap.keySet ++ batchSums.keySet).toSeq.sorted.map {
        cid =>
          (prevMap.get(cid), batchSums.get(cid)) match {
            case (Some((n0, s0)), Some((n1, s1))) =>
              (cid, n0 + n1, s0.zip(s1).map { case (a, b) => a + b })
            case (Some((n0, s0)), None) => (cid, n0, s0)
            case (None, Some((n1, s1))) => (cid, n1, s1)
            case (None, None) => throw new IllegalStateException("unreachable")
          }
      }
      import spark.implicits._
      DirCommit.commit(statePath, Some(batchId)) { stage =>
        next.toDF("centroid_id", "n_members", "cent_sum")
          .coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
      }
    } finally q.unpersist()
  }
}
