package graft.sink

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every table writer survives a kill at each step of its commit: the
  * writers run on a non-default filesystem scheme whose Nth rename or
  * delete throws or returns false, and re-running the same batch must
  * converge to the table of a run that never crashed.
  */
class CrashRecoverySpec extends CrashPoints {
  import spark.implicits._

  private val pks = Seq("id")

  private def rows(rs: (Long, String, Long, String)*): DataFrame =
    rs.toDF("id", "v", "seq", "_sdc_deleted_at")

  private def bucketOf(ids: Seq[Long], numParts: Int): Map[Long, Int] =
    ids.toDF("id").select(col("id"), MergeSink.pkBucket(pks, numParts))
      .as[(Long, Int)].collect().toMap

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  // ---- the two data-loss probes (kill inside the retire/promote window)

  test("probe: flush after a kill between retire and promote keeps the " +
    "retired table") {
    val t = Files.createTempDirectory("probe").toString + "/t"
    MergeSink.flush(spark, rows((1L, "a", 1L, null), (2L, "b", 1L, null)),
      t, pks, "seq")
    // the kill: the table was retired to .old, nothing promoted yet
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(t), new Path(t + ".old")))
    MergeSink.flush(spark, rows((3L, "c", 2L, null)), t, pks, "seq")
    assert(ids(spark.read.parquet(t)) == Set(1L, 2L, 3L))
    assert(!fs.exists(new Path(t + ".old")))
  }

  test("probe: a per-bucket swap killed on bucket 0 loses no rows") {
    val t = Files.createTempDirectory("probe").toString + "/t"
    val bucket = bucketOf(1L to 200L, 8)
    MergeSink.flushPartitioned(spark,
      rows((1L to 40L).map(i => (i, s"v$i", 1L, null: String)): _*),
      t, pks, "seq", numParts = 8)
    val inZero = (1L to 40L).filter(bucket(_) == 0)
    assert(inZero.nonEmpty)
    // kill the default filesystem at the second rename of a flush that
    // touches only bucket 0: the bucket is retired, not yet promoted
    CrashingFileSystem.mount(spark, "file")
    val fired = try CrashingFileSystem.failingAt(2, throwIt = true, t)(
      MergeSink.flushPartitioned(spark, rows((inZero.head, "u", 2L, null)),
        t, pks, "seq", numParts = 8))
    finally CrashingFileSystem.unmount(spark, "file")
    assert(fired, "the flush never reached its second rename")
    val fresh = (41L to 200L).find(bucket(_) == 0).get
    MergeSink.flushPartitioned(spark, rows((fresh, "n", 3L, null)),
      t, pks, "seq", numParts = 8)
    assert(ids(spark.read.parquet(t)) == (1L to 40L).toSet + fresh)
  }

  // ---- every writer, every crash point --------------------------------

  private val initial = rows((1L to 12L).map(i =>
    (i, s"v$i", 1L, null: String)): _*)
  private val batch = rows((2L, "B", 2L, null), (3L, "C", 2L, null),
    (5L, null, 2L, "2024-01-01"), (13L, "n", 2L, null))

  test("flush: any crash, then a re-run, gives the no-crash table") {
    val n = everyCrashPoint(
      d => MergeSink.flush(spark, initial, s"$d/t", pks, "seq", true),
      d => MergeSink.flush(spark, batch, s"$d/t", pks, "seq", true),
      d => spark.read.parquet(s"$d/t"))
    assert(n >= 4, s"only $n crash points")
  }

  test("publish: any crash, then a re-run, gives the no-crash table") {
    val n = everyCrashPoint(
      d => MergeSink.publish(initial, s"$d/t"),
      d => MergeSink.publish(batch, s"$d/t"),
      d => spark.read.parquet(s"$d/t"))
    assert(n >= 4, s"only $n crash points")
  }

  test("flushPartitioned whole-layout branch survives every crash point") {
    assert(bucketOf(Seq(2L, 3L, 5L, 13L), 4).values.toSet.size >= 3,
      "the batch must take the whole-layout branch")
    val n = everyCrashPoint(
      d => MergeSink.flushPartitioned(spark, initial, s"$d/t", pks, "seq",
        numParts = 4, hardDelete = true),
      d => MergeSink.flushPartitioned(spark, batch, s"$d/t", pks, "seq",
        numParts = 4, hardDelete = true),
      d => spark.read.parquet(s"$d/t"))
    assert(n >= 4, s"only $n crash points")
  }

  test("flushPartitioned per-bucket branch survives every crash point") {
    // one updated bucket, one bucket the hard delete empties, and one
    // bucket that has no earlier version
    val bucket = bucketOf(1L to 100L, 8)
    val fresh = (41L to 100L).find(bucket(_) != bucket(1L)).get
    val seeded = (1L to 40L).filter(bucket(_) != bucket(fresh))
    val byBucket = seeded.groupBy(bucket)
    val emptied = byBucket.keys.filter(_ != bucket(1L))
      .minBy(byBucket(_).size)
    val seed = rows(seeded.map(i => (i, s"v$i", 1L, null: String)): _*)
    val change = rows(
      Seq((1L, "U", 2L, null: String), (fresh, "n", 2L, null)) ++
        byBucket(emptied).map(i => (i, null: String, 2L, "2024-01-01")): _*)
    val n = everyCrashPoint(
      d => MergeSink.flushPartitioned(spark, seed, s"$d/t", pks, "seq",
        numParts = 8, hardDelete = true),
      d => MergeSink.flushPartitioned(spark, change, s"$d/t", pks, "seq",
        numParts = 8, hardDelete = true),
      d => spark.read.parquet(s"$d/t"))
    // three retires-or-promotes of each kind, then stage and .old drops
    assert(n >= 6, s"only $n crash points")
  }

  test("DeltaMerge bootstrap, delta and compaction survive every crash " +
    "point") {
    def read(d: String) =
      DeltaMerge.readMerged(spark, s"$d/t", pks, "seq", hardDelete = true)
    everyCrashPoint(_ => (),
      d => DeltaMerge.flushDelta(spark, initial, s"$d/t", pks, "seq", true),
      read)
    val n = everyCrashPoint(
      d => DeltaMerge.flushDelta(spark, initial, s"$d/t", pks, "seq", true),
      d => DeltaMerge.flushAuto(spark, batch, s"$d/t", pks, "seq", true,
        compactDeltaFraction = 0.0, compactMinDeltaBytes = 0L),
      read)
    assert(n >= 4, s"only $n crash points")
  }

  test("a non-default scheme is written through its own filesystem") {
    val t = crashDir() + "/t"
    MergeSink.flushPartitioned(spark, initial, t, pks, "seq", numParts = 4)
    MergeSink.flush(spark, initial, t + "_flat", pks, "seq")
    assert(spark.read.parquet(t).count() == 12)
    assert(spark.read.parquet(t + "_flat").count() == 12)
  }
}
