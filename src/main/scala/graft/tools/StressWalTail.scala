package graft.tools

/** Throughput probe for the WalTail replication-slot source
  * ([[graft.sources.WalTail]]): synthesize a wal2json segment
  * directory, drain it through the full slot -> decode -> partitioned
  * merge path ([[graft.streaming.StreamingMerge.startWalSlot]]), and
  * report rows/s plus the slot's confirmed-flush advance — the
  * measured counterpart of WalTailSpec's semantic soak.
  *
  * Usage: runMain graft.tools.StressWalTail [segments] [linesPerSeg]
  *        [workDir] [maxFilesPerTrigger] [flush] [keyspace]
  * Defaults: 50 segments x 20k lines = 1M change events (~180 MB of
  * wal2json text), drained in one AvailableNow run, admission-capped
  * at 8 segments/micro-batch so the loop exercises multi-batch
  * commit/feedback, not one giant batch. `flush` is merge (default,
  * per-batch partitioned rewrite) or delta (merge-on-read O(batch)
  * appends + auto-compaction) — run both for the A/B in BASELINE.md.
  * `keyspace` (default linesPerSeg/2) sets the id cardinality: small
  * keyspace = update-heavy tiny table (compaction fires every batch,
  * the delta path's worst case); large keyspace = a GROWING table
  * where per-batch rewrite cost rises with table size and the
  * merge-on-read advantage is the honest production story.
  */
object StressWalTail {

  def main(args: Array[String]): Unit = {
    val segments = if (args.length > 0) args(0).toInt else 50
    val lines = if (args.length > 1) args(1).toInt else 20000
    val workDir = if (args.length > 2) args(2)
      else s"/tmp/graft-waltail-soak"
    val maxFiles = if (args.length > 3) args(3).toInt else 8
    val flush = if (args.length > 4) args(4) else "merge"
    val keyspace = if (args.length > 5) args(5).toLong
      else (if (args.length > 1) args(1).toLong else 20000L) / 2
    val spark = graft.Sessions.start()

    val logDir = s"$workDir/wal"
    val tablePath = s"$workDir/table"
    val ckpt = s"$workDir/ckpt"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(logDir))

    // synthesize: per segment, `lines` I/U/D events over a keyspace of
    // lines/2 users (updates dominate; ~4% deletes) — LSNs globally
    // ascending, name order = LSN order, stage-and-rename publish
    val t0 = System.nanoTime()
    (0 until segments).foreach { s =>
      val sb = new java.lang.StringBuilder(lines * 160)
      var i = 0
      while (i < lines) {
        val lsn = s.toLong * lines + i + 1
        val uid = (lsn * 2654435761L) % keyspace
        val line =
          if (i % 25 == 24)
            s"""$lsn\t{"action":"D","schema":"public","table":"t","identity":[{"name":"id","type":"bigint","value":$uid}]}"""
          else {
            val a = if (i % 7 == 0) "I" else "U"
            s"""$lsn\t{"action":"$a","schema":"public","table":"t","columns":[{"name":"id","type":"bigint","value":$uid},{"name":"v","type":"text","value":"payload $lsn for $uid"},{"name":"n","type":"bigint","value":${lsn % 1000}}]}"""
          }
        sb.append(line).append('\n')
        i += 1
      }
      val stage = java.nio.file.Paths.get(s"$logDir/.stage_$s")
      java.nio.file.Files.write(stage,
        sb.toString.getBytes("UTF-8"))
      java.nio.file.Files.move(stage,
        java.nio.file.Paths.get(f"$logDir/wal_$s%05d.log"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val synthSec = (System.nanoTime() - t0) / 1e9
    println(f"[stress-waltail] synthesized $segments x $lines lines " +
      f"in $synthSec%.1f s")

    val rowSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING, n BIGINT")
    val t1 = System.nanoTime()
    val q = graft.streaming.StreamingMerge.startWalSlot(spark, logDir,
      "public", "t", rowSchema, tablePath, ckpt, Seq("id"),
      hardDelete = true, targetPartitions = 32,
      maxFilesPerTrigger = Some(maxFiles), flush = flush)
    q.awaitTermination(3600000)
    q.stop()
    val drainSec = (System.nanoTime() - t1) / 1e9
    val total = segments.toLong * lines
    val fs = new org.apache.hadoop.fs.Path(logDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val flushed = graft.sources.WalTail.readFeedback(fs,
      graft.sources.WalTail.defaultSlotFile(logDir))
    val rows =
      if (flush == "delta")
        graft.sink.DeltaMerge.readMerged(spark, tablePath, Seq("id"),
          "_sdc_lsn", hardDelete = true).count()
      else spark.read.parquet(tablePath).count()
    println(f"[stress-waltail] drained $total lines in $drainSec%.1f s " +
      f"= ${total / drainSec}%.0f rows/s through decode+$flush " +
      f"(maxFilesPerTrigger=$maxFiles, ~${segments / maxFiles + 1} " +
      f"micro-batches)")
    println(s"[stress-waltail] confirmed_flush_lsn=$flushed " +
      s"(expected ${total}), merged table rows=$rows")
    if (flush == "delta")
      println(s"[stress-waltail] base compactions=" +
        s"${graft.sink.DeltaMerge.compactionCount.sum()} " +
        s"(64 MB floor active — a small base should show few or none)")
    require(flushed.contains(total),
      s"slot must advance to $total, got $flushed")
    spark.stop()
  }
}
