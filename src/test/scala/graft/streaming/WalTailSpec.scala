package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpecBase
import graft.sink.MergeSink
import graft.sources.{Wal2Json, WalTail}

/** The file-tailing replication-slot source (r17): LSN offsets,
  * send_feedback commits, slot-file resume, admission control — the
  * offline proof of tap-postgres's live consume loop
  * (sync_strategies/logical_replication.py:577-737).
  */
class WalTailSpec extends SparkSpecBase {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def iu(action: String, lsn: Long, id: Long, v: String): String =
    s"""$lsn\t{"action":"$action","schema":"public","table":"t",""" +
      s""""columns":[{"name":"id","type":"bigint","value":$id},""" +
      s"""{"name":"v","type":"text","value":"$v"}]}"""

  private def del(lsn: Long, id: Long): String =
    s"""$lsn\t{"action":"D","schema":"public","table":"t",""" +
      s""""identity":[{"name":"id","type":"bigint","value":$id}]}"""

  private def land(dir: String, name: String, lines: Seq[String]): Unit = {
    // stage-and-rename: segments must be immutable once visible
    val tmp = java.nio.file.Paths.get(s"$dir/.stage_$name")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, java.nio.file.Paths.get(s"$dir/$name"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def hadoopFs(dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())

  /** Run the slot source to drain with AvailableNow, merging each
    * micro-batch into `tablePath` through startWalSlot.
    */
  private def drain(srcDir: String, tablePath: String, ckpt: String,
                    maxFilesPerTrigger: Option[Int] = None): Unit = {
    val q = StreamingMerge.startWalSlot(spark, srcDir, "public", "t",
      rowSchema, tablePath, ckpt, Seq("id"), hardDelete = true,
      targetPartitions = 4, maxFilesPerTrigger = maxFilesPerTrigger)
    q.awaitTermination(120000)
    q.stop()
  }

  private def state(tablePath: String): Seq[(Long, String)] =
    spark.read.parquet(tablePath).select("id", "v")
      .as[(Long, String)].collect().toSeq.sorted

  /** The batch replay of the same log — what tail-then-restart must
    * equal (the cdc_apply_changelog contract, entered from raw lines).
    */
  private def batchReplay(allLines: Seq[String]): Seq[(Long, String)] = {
    val lines = allLines.map { l =>
      val i = l.indexOf('\t')
      (l.substring(0, i).toLong, l.substring(i + 1))
    }.toDF("lsn", "payload")
    val decoded = Wal2Json.decode(lines, "payload", "lsn", "public", "t",
      rowSchema)
    MergeSink.dedupLastWins(decoded, Seq("id"), "_sdc_lsn")
      .filter(col("op") =!= "d")
      .select("id", "v").as[(Long, String)].collect().toSeq.sorted
  }

  test("wal-tail slot: tail, commit feedback, restart resumes from the " +
      "Spark checkpoint; final state equals the batch changelog replay") {
    val dir = Files.createTempDirectory("waltail").toString
    val srcDir = s"$dir/wal"; val tablePath = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))

    val seg1 = Seq("1\t" + """{"action":"B"}""",
      iu("I", 2, 1, "a"), iu("I", 3, 2, "b"),
      "4\t" + """{"action":"C"}""")
    val seg2 = Seq(iu("U", 5, 1, "a2"), del(6, 2))
    land(srcDir, "wal_0001.log", seg1)
    land(srcDir, "wal_0002.log", seg2)

    drain(srcDir, tablePath, ckpt)
    assert(state(tablePath) == Seq((1L, "a2")))
    // commit() advanced the slot's confirmed-flush LSN (send_feedback)
    val fs = hadoopFs(srcDir)
    assert(WalTail.readFeedback(fs, WalTail.defaultSlotFile(srcDir))
      .contains(6L))

    // the log grows; a resumed run (same checkpoint) applies ONLY the
    // tail — final state must equal the batch replay of the WHOLE log
    val seg3 = Seq(iu("I", 7, 3, "c"), iu("U", 8, 3, "c2"), del(9, 1))
    land(srcDir, "wal_0003.log", seg3)
    drain(srcDir, tablePath, ckpt)
    assert(state(tablePath) == batchReplay(seg1 ++ seg2 ++ seg3))
    assert(WalTail.readFeedback(fs, WalTail.defaultSlotFile(srcDir))
      .contains(9L))
  }

  test("wal-tail slot with flush=delta: merge-on-read end state equals " +
      "the batch replay, survives compaction, resumes on the tail (r18)") {
    val dir = Files.createTempDirectory("waltail-delta").toString
    val srcDir = s"$dir/wal"; val tablePath = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val seg1 = Seq(iu("I", 2, 1, "a"), iu("I", 3, 2, "b"))
    val seg2 = Seq(iu("U", 5, 1, "a2"), del(6, 2))
    land(srcDir, "wal_0001.log", seg1)
    land(srcDir, "wal_0002.log", seg2)
    def drainDelta(): Unit = {
      val q = StreamingMerge.startWalSlot(spark, srcDir, "public", "t",
        rowSchema, tablePath, ckpt, Seq("id"), hardDelete = true,
        targetPartitions = 4, maxFilesPerTrigger = Some(1),
        flush = "delta")
      q.awaitTermination(120000); q.stop()
    }
    def deltaState(): Seq[(Long, String)] =
      graft.sink.DeltaMerge.readMerged(spark, tablePath, Seq("id"),
          "_sdc_lsn", hardDelete = true)
        .select("id", "v").as[(Long, String)].collect().toSeq.sorted
    drainDelta()
    assert(deltaState() == batchReplay(seg1 ++ seg2))
    assert(WalTail.readFeedback(hadoopFs(srcDir),
      WalTail.defaultSlotFile(srcDir)).contains(6L))
    // an explicit compaction folds deltas into the base and must not
    // change the observable state
    graft.sink.DeltaMerge.compact(spark, tablePath, Seq("id"),
      "_sdc_lsn", hardDelete = true)
    assert(deltaState() == batchReplay(seg1 ++ seg2),
      "compaction changed the merged view")
    // the log grows; a resumed run applies only the tail as new deltas
    val seg3 = Seq(iu("I", 7, 3, "c"), iu("U", 8, 3, "c2"), del(9, 1))
    land(srcDir, "wal_0003.log", seg3)
    drainDelta()
    assert(deltaState() == batchReplay(seg1 ++ seg2 ++ seg3))
    assert(WalTail.readFeedback(hadoopFs(srcDir),
      WalTail.defaultSlotFile(srcDir)).contains(9L))
    // an unknown flush mode fails loudly at start, not mid-stream
    val e = intercept[IllegalArgumentException] {
      StreamingMerge.startWalSlot(spark, srcDir, "public", "t",
        rowSchema, tablePath, s"$dir/ckpt2", Seq("id"),
        flush = "upsert")
    }
    assert(e.getMessage.contains("merge | delta"))
  }

  test("wal-tail slot: an unkeyed stream fails at start, before any " +
      "batch is read or written") {
    val dir = Files.createTempDirectory("waltail-nokey").toString
    val srcDir = s"$dir/wal"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    land(srcDir, "wal_0001.log", Seq(iu("I", 1, 1, "a"), del(2, 1)))
    Seq("merge", "delta").foreach { flush =>
      val e = intercept[IllegalArgumentException] {
        StreamingMerge.startWalSlot(spark, srcDir, "public", "t",
          rowSchema, s"$dir/table", s"$dir/ckpt_$flush", Seq.empty,
          hardDelete = true, flush = flush)
      }
      assert(e.getMessage.contains("needs primary keys"))
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/table")))
  }

  test("wal-tail slot: a restart WITHOUT its Spark checkpoint resumes " +
      "from the slot file (confirmed_flush_lsn), not from LSN zero") {
    val dir = Files.createTempDirectory("waltail-slot").toString
    val srcDir = s"$dir/wal"; val tablePath = s"$dir/table"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))

    val seg1 = Seq(iu("I", 1, 1, "a"), iu("I", 2, 2, "b"))
    land(srcDir, "wal_0001.log", seg1)
    drain(srcDir, tablePath, s"$dir/ckptA")
    assert(state(tablePath) == Seq((1L, "a"), (2L, "b")))

    // fresh checkpoint: delivery must start AFTER the slot's
    // confirmed-flush LSN — seg1 is still on disk but acknowledged,
    // so only seg2's row may arrive
    land(srcDir, "wal_0002.log", Seq(iu("U", 3, 1, "a2")))
    val seen = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]())
    val q = spark.readStream.format("graft-wal-tail")
      .option("path", srcDir).load()
      .writeStream
      .option("checkpointLocation", s"$dir/ckptB") // NEW checkpoint
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("lsn").as[Long].collect().foreach(seen.add(_)); ()
      }
      .start()
    q.awaitTermination(120000); q.stop()
    assert(seen.asScala == Set(3L),
      s"slot resume must skip acknowledged LSNs 1-2, saw $seen")

    // the slot owner may now discard acknowledged segments — the
    // reference's contract once feedback passes them; a third run
    // (again without its predecessor's checkpoint) neither needs nor
    // misses them
    Files.delete(java.nio.file.Paths.get(s"$srcDir/wal_0001.log"))
    land(srcDir, "wal_0003.log", Seq(iu("I", 4, 3, "c")))
    drain(srcDir, tablePath, s"$dir/ckptC")
    assert(state(tablePath) == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "discarded-but-acknowledged segments must not be required")
  }

  test("wal-tail slot: maxFilesPerTrigger admission bounds each " +
      "micro-batch; rows arrive exactly once across batches") {
    val dir = Files.createTempDirectory("waltail-adm").toString
    val srcDir = s"$dir/wal"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    (1 to 4).foreach { s =>
      land(srcDir, f"wal_$s%04d.log",
        (1 to 5).map(i => iu("I", s.toLong * 100 + i,
          s.toLong * 100 + i, s"v$s-$i")))
    }
    val seen = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]())
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val dup = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("graft-wal-tail")
      .option("path", srcDir).option("maxFilesPerTrigger", 1).load()
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val lsns = batch.select("lsn").as[Long].collect()
        if (lsns.nonEmpty) batches.incrementAndGet()
        lsns.foreach(l => if (!seen.add(l)) dup.incrementAndGet())
        ()
      }
      .start()
    q.awaitTermination(120000); q.stop()
    assert(batches.get() == 4,
      s"one segment per micro-batch expected, got ${batches.get()}")
    assert(dup.get() == 0, s"${dup.get()} duplicate LSNs delivered")
    assert(seen.size == 20, s"expected 20 rows, saw ${seen.size}")
  }

  test("wal-tail options: startLsn floors a cold start; slotFile " +
      "relocates the feedback (r17)") {
    val dir = Files.createTempDirectory("waltail-opt").toString
    val srcDir = s"$dir/wal"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    land(srcDir, "wal_0001.log", Seq(iu("I", 1, 1, "a"),
      iu("I", 2, 2, "b"), iu("I", 3, 3, "c")))
    val slot = s"$dir/elsewhere/flush.lsn"
    val seen = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]())
    val q = spark.readStream.format("graft-wal-tail")
      .option("path", srcDir)
      .option("startLsn", 2).option("slotFile", slot)
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("lsn").as[Long].collect().foreach(seen.add(_)); ()
      }
      .start()
    q.awaitTermination(120000); q.stop()
    assert(seen.asScala == Set(3L),
      s"startLsn=2 must deliver strictly above the floor, saw $seen")
    val fs = hadoopFs(srcDir)
    assert(WalTail.readFeedback(fs, slot).contains(3L),
      "feedback must land at the configured slotFile")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      WalTail.defaultSlotFile(srcDir))),
      "the default slot location must stay untouched")
  }

  test("binlog slot twin: landed row events tail through the same " +
      "slot source, multi-row events merge in (file, pos, row_idx) " +
      "order, restart applies only the tail (r17)") {
    val dir = Files.createTempDirectory("binlogtail").toString
    val srcDir = s"$dir/binlog"; val tablePath = s"$dir/table"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def ev(seq: Long, et: String, pos: Long,
           rows: String): String =
      s"""$seq\t{"event_type":"$et","schema":"db","table":"t",""" +
        s""""timestamp":"2024-01-01T00:00:0${seq % 10}Z",""" +
        s""""log_file":"mysql-bin.000001","log_pos":$pos,""" +
        s""""rows":[$rows]}"""
    def vals(id: Long, v: String) =
      s"""{"values":{"id":$id,"v":"$v"}}"""
    def after(id: Long, v: String) =
      s"""{"after_values":{"id":$id,"v":"$v"}}"""
    // one write event with TWO rows, then an update — row_idx must
    // order within the event
    val seg1 = Seq(
      ev(1, "write_rows", 4, vals(1, "a") + "," + vals(2, "b")),
      ev(2, "update_rows", 300, after(1, "a2")))
    val seg2 = Seq(
      ev(3, "delete_rows", 550, vals(2, "b")),
      ev(4, "write_rows", 700, vals(3, "c")))
    land(srcDir, "bin_0001.log", seg1)

    def drainBinlog(ckpt: String): Unit = {
      val q = StreamingMerge.startBinlogSlot(spark, srcDir, "db", "t",
        rowSchema, tablePath, ckpt, Seq("id"), hardDelete = true,
        targetPartitions = 4)
      q.awaitTermination(120000); q.stop()
    }
    drainBinlog(s"$dir/ckpt")
    assert(state(tablePath) == Seq((1L, "a2"), (2L, "b")))
    val fs = hadoopFs(srcDir)
    assert(WalTail.readFeedback(fs, WalTail.defaultSlotFile(srcDir))
      .contains(2L), "slot must confirm through the drained seq")

    land(srcDir, "bin_0002.log", seg2)
    drainBinlog(s"$dir/ckpt")
    assert(state(tablePath) == Seq((1L, "a2"), (3L, "c")),
      "resumed drain must apply only the tail: delete of 2, insert of 3")
    assert(WalTail.readFeedback(fs, WalTail.defaultSlotFile(srcDir))
      .contains(4L))
  }

  test("changestream slot twin: update-ids refetch from the LIVE " +
      "collection per micro-batch, delete beats a buffered update, " +
      "restart applies only the tail (r17)") {
    val dir = Files.createTempDirectory("cstail").toString
    val srcDir = s"$dir/cs"; val tablePath = s"$dir/table"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def ev(seq: Long, tok: String, op: String, id: Long,
           full: String): String =
      s"""$seq\t{"_id":{"_data":"$tok"},"operationType":"$op",""" +
        s""""clusterTime":"2024-01-01T00:00:0${seq % 10}Z",""" +
        s""""ns":{"db":"d","coll":"c"},"documentKey":{"_id":$id}""" +
        (if (full.nonEmpty) s""","fullDocument":$full}""" else "}")
    val seg1 = Seq(
      ev(1, "8201", "insert", 1, """{"_id":1,"v":"a"}"""),
      ev(2, "8202", "insert", 2, """{"_id":2,"v":"b"}"""),
      ev(3, "8203", "update", 1, ""))
    land(srcDir, "cs_0001.log", seg1)
    // the LIVE collection at first flush: id=1 already updated to a2
    @volatile var coll = Seq((1L, "a2"), (2L, "b"))
    val csSchema = StructType(Seq(
      StructField("_id", LongType), StructField("v", StringType)))
    def drainCs(ckpt: String): Unit = {
      val q = StreamingMerge.startChangeStreamSlot(spark, srcDir, "d",
        "c", csSchema, () => coll.toDF("_id", "v"), tablePath, ckpt,
        Seq("_id"), hardDelete = true, targetPartitions = 4)
      q.awaitTermination(120000); q.stop()
    }
    drainCs(s"$dir/ckpt")
    assert(spark.read.parquet(tablePath).select("_id", "v")
      .as[(Long, String)].collect().toSeq.sorted ==
      Seq((1L, "a2"), (2L, "b")),
      "update id must refetch the live document")

    // tail: an update to 2 then its delete (delete beats the buffered
    // update via last-write-wins on the token), plus a fresh insert
    land(srcDir, "cs_0002.log", Seq(
      ev(4, "8204", "update", 2, ""),
      ev(5, "8205", "delete", 2, ""),
      ev(6, "8206", "insert", 3, """{"_id":3,"v":"c"}""")))
    coll = Seq((1L, "a2"), (3L, "c")) // live view after the tail
    drainCs(s"$dir/ckpt")
    assert(spark.read.parquet(tablePath).select("_id", "v")
      .as[(Long, String)].collect().toSeq.sorted ==
      Seq((1L, "a2"), (3L, "c")),
      "resume applies only the tail; delete wins over buffered update")
    assert(WalTail.readFeedback(hadoopFs(srcDir),
      WalTail.defaultSlotFile(srcDir)).contains(6L))
  }

  test("a segment misnamed below the cursor fails LOUDLY instead of " +
      "silently losing its rows (name order = LSN order contract)") {
    val dir = Files.createTempDirectory("waltail-order").toString
    val srcDir = s"$dir/wal"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    land(srcDir, "wal_0001.log", Seq(iu("I", 10, 1, "a")))
    // a LATER-named segment carrying EARLIER LSNs — its span would sit
    // behind the cursor forever and never be admitted
    land(srcDir, "wal_0002.log", Seq(iu("I", 5, 2, "b")))
    val q = spark.readStream.format("graft-wal-tail")
      .option("path", srcDir).load()
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { q.awaitTermination(120000) }
    q.stop()
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("contradicts LSN order")),
      s"expected the loud ordering error, got: ${msgs(e)}")
  }

  test("readSpan learns a segment's LSN span from head/tail windows " +
      "only: small files, missing trailing newline, window widening") {
    val dir = Files.createTempDirectory("waltail-span").toString
    val fs = hadoopFs(dir)
    def spanOf(name: String, content: String): Option[(Long, Long)] = {
      val p = java.nio.file.Paths.get(s"$dir/$name")
      Files.write(p, content.getBytes("UTF-8"))
      WalTail.readSpan(fs, new org.apache.hadoop.fs.Path(p.toString),
        Files.size(p))
    }
    assert(spanOf("a", "5\tx\n7\ty\n") == Some((5L, 7L)))
    assert(spanOf("b", "5\tx\n7\ty") == Some((5L, 7L)),
      "missing trailing newline must still span")
    assert(spanOf("c", "9\tz") == Some((9L, 9L)), "single line, no newline")
    assert(spanOf("d", "") == None)
    assert(spanOf("e", "\n\n") == None, "blank lines only")
    // > one 64k window: spans come from the head/tail windows without
    // reading the body (the body here would fail parseLsn loudly if
    // touched — malformed filler lines prove the windows-only claim)
    val filler = ("malformed-no-tab-" + ("x" * 60) + "\n") * 3000
    assert(spanOf("f", "11\thead\n" + filler + "12\ttail\n")
      == Some((11L, 12L)))
    // a single line wider than the first window: widening kicks in
    assert(spanOf("g", "21\t" + ("y" * 200000)) == Some((21L, 21L)))
  }

  test("wal-tail slot soak: segments appended WHILE the query runs all " +
      "arrive exactly once (the live consume loop)") {
    val dir = Files.createTempDirectory("waltail-soak").toString
    val srcDir = s"$dir/wal"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    land(srcDir, "wal_0001.log",
      (1 to 50).map(i => iu("I", i.toLong, i.toLong, s"v$i")))

    val seen = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]())
    val dup = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("graft-wal-tail")
      .option("path", srcDir).load()
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("lsn").as[Long].collect()
          .foreach(l => if (!seen.add(l)) dup.incrementAndGet())
        ()
      }
      .start()
    try {
      // the appender: nine more segments land while the query runs
      (2 to 10).foreach { s =>
        Thread.sleep(150)
        land(srcDir, f"wal_$s%04d.log",
          (1 to 50).map(i => iu("I", s.toLong * 1000 + i,
            s.toLong * 1000 + i, s"v$s-$i")))
      }
      val deadline = System.currentTimeMillis + 60000
      while (seen.size < 500 && System.currentTimeMillis < deadline)
        Thread.sleep(100)
    } finally q.stop()
    assert(seen.size == 500, s"expected 500 rows, saw ${seen.size}")
    assert(dup.get() == 0, s"${dup.get()} duplicate LSNs delivered")
    // the slot advanced to (at least) the last drained segment's tail
    val fb = WalTail.readFeedback(hadoopFs(srcDir),
      WalTail.defaultSlotFile(srcDir))
    assert(fb.exists(_ >= 1050L), s"slot never advanced: $fb")
  }
}
