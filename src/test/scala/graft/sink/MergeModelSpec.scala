package graft.sink

import java.nio.file.Files
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpecBase

/** Property test of both merge paths against a last-write-wins map:
  * random sequences of upserts, tombstones and replayed batches, applied
  * through `flush` and `flushPartitioned` in hard- and soft-delete mode,
  * must leave each table equal to the model after every batch.
  */
class MergeModelSpec extends SparkSpecBase {
  import spark.implicits._

  /** (id, value, tombstone) */
  private type Event = (Long, Int, Boolean)

  private def event(keys: Long): Gen[Event] = for {
    id <- Gen.choose(1L, keys)
    v <- Gen.choose(0, 99)
    dead <- Gen.frequency(4 -> false, 1 -> true)
  } yield (id, v, dead)

  /** Batches in arrival order; a replay re-sends the batch just applied
    * with its sequence numbers, as an at-least-once source does after a
    * kill between the commit and the bookmark.
    */
  private def arrivals(keys: Long, maxBatch: Int)
      : Gen[Seq[Seq[(Long, Int, Long, Boolean)]]] = for {
    n <- Gen.choose(2, 4)
    fresh <- Gen.listOfN(n,
      Gen.choose(1, maxBatch).flatMap(Gen.listOfN(_, event(keys))))
    replayed <- Gen.listOfN(n, Gen.frequency(2 -> false, 1 -> true))
  } yield fresh.zipWithIndex.zip(replayed).flatMap { case ((es, b), r) =>
    val batch = es.zipWithIndex.map { case ((id, v, d), j) =>
      (id, v, b * 100L + j, d)
    }
    if (r) Seq(batch, batch) else Seq(batch)
  }

  private def model(applied: Seq[Seq[(Long, Int, Long, Boolean)]],
                    hard: Boolean): Set[(Long, Int, Boolean)] =
    applied.foldLeft(Map.empty[Long, (Int, Boolean)]) { (m, batch) =>
      batch.groupBy(_._1).values.map(_.maxBy(_._3)).foldLeft(m) {
        case (acc, (id, _, _, true)) if hard => acc - id
        case (acc, (id, v, _, dead)) => acc + (id -> ((v, dead)))
      }
    }.map { case (id, (v, dead)) => (id, v, dead) }.toSet

  /** Applies the seeded history over ids 1..`keys` through both flush
    * paths in both delete modes, checking every table against the model
    * after every batch; returns the buckets each later batch touches.
    */
  private def checkHistory(seed: Long, numParts: Int, keys: Long,
                           maxBatch: Int): Seq[Int] = {
    val bucket = (1L to keys).toDF("id")
      .select($"id", MergeSink.pkBucket(Seq("id"), numParts))
      .as[(Long, Int)].collect().toMap
    val seq = arrivals(keys, maxBatch)
      .pureApply(Gen.Parameters.default, Seed(seed))
    val root = Files.createTempDirectory("merge-model").toString
    seq.indices.flatMap { i =>
      val batch = seq(i).map { case (id, v, s, dead) =>
        (id, v, s, if (dead) "2024-01-01" else null)
      }.toDF("id", "v", "seq", "_sdc_deleted_at")
      for (hard <- Seq(true, false); partitioned <- Seq(false, true)) {
        val t = s"$root/$partitioned-$hard"
        if (partitioned)
          MergeSink.flushPartitioned(spark, batch, t, Seq("id"), "seq",
            numParts = numParts, hardDelete = hard)
        else MergeSink.flush(spark, batch, t, Seq("id"), "seq", hard)
        val got = spark.read.parquet(t)
          .select($"id", $"v", $"_sdc_deleted_at".isNotNull)
          .as[(Long, Int, Boolean)].collect().toSet
        assert(got == model(seq.take(i + 1), hard),
          s"seed $seed, partitioned=$partitioned hardDelete=$hard " +
            s"after batch $i of $seq")
      }
      if (i > 0) Some(seq(i).map(e => bucket(e._1)).distinct.size) else None
    }
  }

  test("flush and flushPartitioned match a last-write-wins model") {
    val touched =
      (1L to 3L).flatMap(checkHistory(_, numParts = 4, keys = 8, maxBatch = 6))
    // whether each later batch took flushPartitioned's whole-layout branch
    val wholeLayout = touched.map(_ >= 3).toSet
    assert(wholeLayout == Set(true, false),
      "the sequences must take both flushPartitioned branches")
  }

  test("a history over more buckets than cores matches the model") {
    // 16 buckets over the test session's 4 cores: both branches write
    // with min(buckets, cores) tasks, so a task holds several buckets
    val cores = spark.sparkContext.defaultParallelism
    val touched = checkHistory(16L, numParts = 16, keys = 48, maxBatch = 30)
    assert(cores < 16)
    assert(touched.exists(_ >= 12),
      s"the history must take the whole-layout branch: $touched")
    assert(touched.exists(t => t > cores && t < 12),
      s"the history must take the per-bucket branch with more touched " +
        s"buckets than cores: $touched")
  }
}
