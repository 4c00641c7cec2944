package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.SparkSpecBase

/** Driver-side WalTail units (r18): the feedback crash-window fallback
  * and the O(new)-per-poll incremental order validation.
  */
class WalTailUnitSpec extends SparkSpecBase {

  private def hadoopFs(dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())

  private def land(dir: String, name: String, lsns: Seq[Long]): Unit = {
    val tmp = java.nio.file.Paths.get(s"$dir/.stage_$name")
    Files.write(tmp, lsns.map(l => s"$l\tpayload$l")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, java.nio.file.Paths.get(s"$dir/$name"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def stream(dir: String): WalTailStream =
    new WalTailStream(new CaseInsensitiveStringMap(
      java.util.Collections.singletonMap("path", dir)))

  test("feedback crash window: missing slot file with a staged .tmp " +
      "resumes from the tmp, not startLsn") {
    val dir = Files.createTempDirectory("waltail-fb").toString
    val fs = hadoopFs(dir)
    val slot = WalTail.defaultSlotFile(dir)
    WalTail.writeFeedback(fs, slot, 7L)
    assert(WalTail.readFeedback(fs, slot).contains(7L))
    // simulate writeFeedback crashing between its delete and rename:
    // the NEW lsn is fully staged, the slot file is gone
    val p = new org.apache.hadoop.fs.Path(slot)
    val tmp = graft.sink.DirCommit.stagedFile(p)
    val out = fs.create(tmp, true)
    out.write("9".getBytes("UTF-8")); out.close()
    fs.delete(p, false)
    assert(WalTail.readFeedback(fs, slot).contains(9L),
      "the crash window must recover the staged feedback — a None here" +
        " silently replays every retained segment")
    // the next successful write heals the window and consumes the tmp
    WalTail.writeFeedback(fs, slot, 10L)
    assert(WalTail.readFeedback(fs, slot).contains(10L))
    assert(!fs.exists(tmp), "publish must consume the staged tmp")
  }

  test("feedback with BOTH slot file and a newer staged tmp prefers the " +
      "slot file (conservative, monotonic-safe)") {
    val dir = Files.createTempDirectory("waltail-fb2").toString
    val fs = hadoopFs(dir)
    val slot = WalTail.defaultSlotFile(dir)
    WalTail.writeFeedback(fs, slot, 5L)
    val p = new org.apache.hadoop.fs.Path(slot)
    val tmp = graft.sink.DirCommit.stagedFile(p)
    val out = fs.create(tmp, true)
    out.write("8".getBytes("UTF-8")); out.close()
    // crash BEFORE the delete: both files exist; resuming from the
    // older confirmed LSN replays at most one batch, never loses rows
    assert(WalTail.readFeedback(fs, slot).contains(5L))
  }

  test("order validation is O(new) per poll: a poll that admits one " +
      "segment checks its adjacencies only") {
    val dir = Files.createTempDirectory("waltail-inc").toString
    (0 until 10).foreach { i =>
      land(dir, f"wal_${i}%04d.log", Seq(i * 10L + 1, i * 10L + 9))
    }
    val s = stream(dir)
    assert(s.listSegments().size == 10)
    val afterFirst = s.orderChecks
    assert(afterFirst >= 9, s"first poll must validate the full chain," +
      s" checked $afterFirst")
    // idle polls re-check nothing
    s.listSegments()
    assert(s.orderChecks == afterFirst,
      "an idle poll must not re-validate the retained chain")
    // one appended segment: only its adjacency to the previous tail
    land(dir, "wal_0010.log", Seq(101L, 109L))
    s.listSegments()
    assert(s.orderChecks - afterFirst <= 2,
      s"appending one segment re-checked ${s.orderChecks - afterFirst}" +
        " adjacencies — validation regressed to O(retained)")
  }

  test("a misordered LATE segment still fails loudly under incremental " +
      "validation, including one landing mid-chain") {
    val dir = Files.createTempDirectory("waltail-mis").toString
    land(dir, "wal_0001.log", Seq(1L, 9L))
    land(dir, "wal_0002.log", Seq(11L, 19L))
    land(dir, "wal_0004.log", Seq(31L, 39L))
    val s = stream(dir)
    assert(s.listSegments().size == 3)
    // mid-chain landing whose span OVERLAPS its successor: names sort
    // it between 0002 and 0004 but it spans past 0004's start
    land(dir, "wal_0003.log", Seq(21L, 35L))
    val e = intercept[IllegalArgumentException](s.listSegments())
    assert(e.getMessage.contains("contradicts LSN order"))
  }

  test("a front-discarded log keeps validating without re-reading " +
      "retained spans") {
    val dir = Files.createTempDirectory("waltail-disc").toString
    (0 until 5).foreach { i =>
      land(dir, f"wal_${i}%04d.log", Seq(i * 10L + 1, i * 10L + 9))
    }
    val s = stream(dir)
    assert(s.listSegments().size == 5)
    val before = s.orderChecks
    // the log owner discards acknowledged segments below the feedback
    Files.delete(java.nio.file.Paths.get(s"$dir/wal_0000.log"))
    Files.delete(java.nio.file.Paths.get(s"$dir/wal_0001.log"))
    assert(s.listSegments().map(_._1) ==
      Seq("wal_0002.log", "wal_0003.log", "wal_0004.log"))
    assert(s.orderChecks == before,
      "discards introduce no new segments — nothing to re-validate")
  }
}
