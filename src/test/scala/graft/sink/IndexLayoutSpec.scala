package graft.sink

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import graft.SparkSpecBase

/** IndexLayout directory hygiene: orphan healing may only touch the
  * EXACT dir shapes the layout generates.
  */
// driver-excluded slow suite (r21): run with SPARK_GRAFT_SLOW_TESTS=1
@graft.tags.Slow
class IndexLayoutSpec extends SparkSpecBase {
  import spark.implicits._

  test("healOrphans deletes only generated dir shapes, never " +
      "prefix-sharing user dirs") {
    val dir = Files.createTempDirectory("layout-heal").toString
    val f = DirCommit.fs(spark, dir)
    def mk(name: String): Unit = { f.mkdirs(new Path(dir, name)); () }
    // generated shapes: the bootstrap base and superseded compactions
    mk("postings"); mk("postings_v3"); mk("postings_v7"); mk("epochs")
    // prefix-sharing dirs a user (or a sibling table) may place here —
    // pre-r16 a bare startsWith match deleted all of these
    mk("postings_backup"); mk("postings_v7_old"); mk("postingsX")
    IndexLayout.healOrphans(spark, dir, keepDir = "postings_v7",
      clearEpochsThrough = -1L)
    def exists(name: String) = f.exists(new Path(dir, name))
    assert(!exists("postings") && !exists("postings_v3"),
      "superseded generated bases must be healed away")
    assert(exists("postings_v7") && exists("epochs"),
      "the kept base and the epochs subdir must survive")
    assert(exists("postings_backup") && exists("postings_v7_old") &&
      exists("postingsX"),
      "prefix-sharing non-generated dirs must never be deleted")
  }

  test("healOrphans on the vectors table leaves the epochs of BOTH " +
      "tables alone") {
    val dir = Files.createTempDirectory("layout-heal2").toString
    val f = DirCommit.fs(spark, dir)
    def mk(name: String): Unit = { f.mkdirs(new Path(dir, name)); () }
    mk("vectors"); mk("vectors_v2"); mk("vectors_epochs"); mk("epochs")
    IndexLayout.healOrphans(spark, dir, keepDir = "vectors_v2",
      clearEpochsThrough = -1L, IndexLayout.Vectors)
    def exists(name: String) = f.exists(new Path(dir, name))
    assert(!exists("vectors"), "the superseded vectors base heals")
    assert(exists("vectors_v2") && exists("vectors_epochs") &&
      exists("epochs"),
      "kept base + both epochs subdirs must survive")
  }
}
