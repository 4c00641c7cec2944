package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** File-tailing replication-slot source: a growing directory of wal2json
  * log segments consumed AS IF it were a PostgreSQL logical replication
  * slot — the offline proof of the reference's live consume loop
  * (tap-postgres sync_strategies/logical_replication.py:577-737), whose
  * wire socket needs a PG server this engine's sandbox lacks.
  *
  * Slot semantics reproduced, mapped onto Structured Streaming's DSv2
  * contract:
  *  - **offsets are LSNs**, not file lists: a micro-batch covers the
  *    half-open LSN interval `(start, end]`, exactly the slot's
  *    `start_lsn`-exclusive delivery; re-planning the same interval
  *    yields the same rows (segments are immutable once visible).
  *  - **`commit(end)` is `send_feedback`** (the `cur.send_feedback`
  *    calls in `sync_tables`, logical_replication.py:674,715): the
  *    confirmed-flush LSN is
  *    persisted atomically to the slot file, so the log's owner may
  *    discard segments entirely below it — and a consumer restarted
  *    WITHOUT its Spark checkpoint still resumes from the slot file,
  *    the reference's `confirmed_flush_lsn` resume. (With a
  *    checkpoint, Spark's own offset log wins, as it must for
  *    exactly-once.)
  *  - **backpressure** is admission control: at most
  *    `maxFilesPerTrigger` new segments per micro-batch
  *    (`ReadLimit.maxFiles` — the poll loop's bounded fetch), and
  *    `Trigger.AvailableNow` drains to a snapshot then stops.
  *
  * Log contract (the landed form [[graft.streaming.StreamingMerge
  * .startWal2Json]] already established): each segment file holds
  * `<lsn>\t<wal2json line>` rows, LSN-ascending within a segment;
  * segment file names sort in LSN order (WAL segment names encode
  * position); a segment is immutable once visible — writers stage and
  * rename, the [[graft.sink.IndexLayout.appendEpoch]] discipline.
  * Dotted/underscore-prefixed names are ignored (the slot file itself
  * lives under `_slot/`).
  *
  * Scale shape: the driver reads only each new segment's FIRST and
  * LAST line (the LSN span — cached for the stream's lifetime);
  * segment payloads are read by executors, one partition per segment
  * per batch, and the wal2json decode downstream is codegen'd
  * expressions inside the scan stage. Emits `(lsn BIGINT,
  * payload STRING)` — feed [[Wal2Json.decode]].
  */
object WalTail {

  val schema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("payload", StringType)))

  /** Default slot-file location under the log dir (underscore-prefixed
    * so the segment listing skips it).
    */
  def defaultSlotFile(logDir: String): String =
    s"$logDir/_slot/confirmed_flush_lsn"

  /** The persisted confirmed-flush LSN. Inside [[writeFeedback]]'s
    * delete-rename window the staged copy holds the complete new LSN
    * ([[graft.sink.DirCommit.readFile]]); without that fallback a
    * checkpoint-free restart in the window would resume from
    * `startLsn` and replay every retained segment.
    */
  def readFeedback(fs: FileSystem, slotFile: String): Option[Long] =
    graft.sink.DirCommit.readFile(fs, new Path(slotFile))
      .map(_.trim).filter(_.nonEmpty).map(_.toLong)

  /** Persist the confirmed-flush LSN with
    * [[graft.sink.DirCommit.writeFile]]: a kill leaves the previous LSN
    * or the new one, never a torn or silently regressed LSN.
    */
  def writeFeedback(fs: FileSystem, slotFile: String, lsn: Long): Unit =
    graft.sink.DirCommit.writeFile(fs, new Path(slotFile), lsn.toString)

  private[sources] def parseLsn(line: String): Long = {
    val i = line.indexOf('\t')
    require(i > 0, s"wal-tail: malformed segment line (no <lsn>\\t): " +
      line.take(80))
    line.substring(0, i).toLong
  }

  /** The `(firstLsn, lastLsn)` span of a segment, reading HEAD and
    * TAIL byte windows only — never the body: the driver learns each
    * new segment's span once, and a full scan of a GB-scale segment
    * on the driver would be the exact antipattern the executors'
    * partition readers exist to avoid. Falls back to widening windows
    * when a single line exceeds the window (pathological but legal).
    * None for a segment with no complete line.
    */
  private[graft] def readSpan(f: FileSystem, p: Path, len: Long)
      : Option[(Long, Long)] = {
    def window(off: Long, size: Int): Array[Byte] = {
      val buf = new Array[Byte](math.min(size.toLong, len - off).toInt)
      val in = f.open(p)
      try { in.seek(off); in.readFully(buf) } finally in.close()
      buf
    }
    def firstLsn(w: Int): Option[Long] = {
      val s = new String(window(0, w), "UTF-8")
      // lines before the last newline are complete; the trailing
      // piece is complete only when the window covers the whole file
      val lastNl = s.lastIndexOf('\n')
      val complete =
        if (w >= len) s
        else if (lastNl < 0) ""
        else s.substring(0, lastNl + 1)
      complete.split('\n').find(_.nonEmpty).map(parseLsn)
    }
    def lastLsn(w: Int): Option[Long] = {
      val off = math.max(0L, len - w)
      val s = new String(window(off, w), "UTF-8")
      // drop the (possibly partial) head line unless the window
      // starts at 0, then take the last non-empty full line
      val body = if (off == 0) s
        else { val nl = s.indexOf('\n'); if (nl < 0) "" else s.substring(nl + 1) }
      val lines = body.split('\n').filter(_.nonEmpty)
      if (lines.nonEmpty) Some(parseLsn(lines.last))
      else if (off == 0) None
      else None
    }
    var w = 64 << 10
    var res: Option[(Long, Long)] = None
    var coveredWholeFile = false
    while (res.isEmpty && !coveredWholeFile) {
      coveredWholeFile = w >= len
      res = for (a <- firstLsn(w); b <- lastLsn(w)) yield (a, b)
      w <<= 2
    }
    res
  }
}

/** `spark.readStream.format("graft-wal-tail").option("path", dir)`.
  * Options: `path` (required, the log dir), `slotFile` (feedback
  * location, default `<path>/_slot/confirmed_flush_lsn`),
  * `maxFilesPerTrigger` (admission cap, default unlimited),
  * `startLsn` (cold-start floor when neither a checkpoint nor a slot
  * file exists; default Long.MinValue = deliver everything).
  */
class WalTailProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-wal-tail"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WalTail.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new WalTailTable(new CaseInsensitiveStringMap(properties))
}

private[sources] class WalTailTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-wal-tail(${options.get("path")})"
  override def schema(): StructType = WalTail.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = WalTail.schema
        override def description(): String = name()
        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream = new WalTailStream(opts)
      }
    }
}

/** One tracked LSN — the slot cursor. */
private[sources] case class WalTailOffset(lsn: Long) extends Offset {
  override def json(): String = lsn.toString
}

private[sources] class WalTailStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val logDir: String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "wal-tail requires option 'path'")
    p
  }
  private val slotFile: String =
    Option(options.get("slotFile"))
      .getOrElse(WalTail.defaultSlotFile(logDir))
  private val maxFilesPerTrigger: Int =
    Option(options.get("maxFilesPerTrigger")).map(_.toInt)
      .getOrElse(Int.MaxValue)
  private val startLsn: Long =
    Option(options.get("startLsn")).map(_.toLong)
      .getOrElse(Long.MinValue)

  private def fs: FileSystem = new Path(logDir).getFileSystem(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  /** Segment name -> (minLsn, maxLsn), in name (= LSN) order. Driver
    * reads the LSN span of each NEW segment once; immutability makes
    * the cache safe for the stream's lifetime.
    */
  private val segSpans =
    scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]

  /** `Trigger.AvailableNow` cap: segments visible at prepare time. */
  @volatile private var availableNowCap: Option[Long] = None

  /** Test hook: adjacency checks performed so far — the O(new)-per-poll
    * contract is asserted on this counter, not inferred from timing.
    */
  private[sources] var orderChecks: Long = 0L

  /** Highest feedback this stream has persisted — skips the per-poll
    * slot-file read AND write on idle polls (a sub-second trigger
    * would otherwise issue one GET per poll against an object store).
    */
  @volatile private var lastFeedback: Long = Long.MinValue

  private[sources] def listSegments(): Seq[(String, (Long, Long))] = {
    val f = fs
    val dir = new Path(logDir)
    if (!f.exists(dir)) return Seq.empty
    val names = f.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName)
      .sorted
    // drop cache entries for segments the log owner discarded (the
    // feedback contract lets it): keeps the span cache bounded by the
    // log's RETAINED size in a long-lived stream over a rotating log
    val nameSet = names.toSet
    segSpans.filterInPlace((n, _) => nameSet(n))
    val newNames = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { n =>
      if (!segSpans.contains(n)) {
        val p = new Path(dir, n)
        val len = f.getFileStatus(p).getLen
        if (len > 0) {
          WalTail.readSpan(f, p, len).foreach { case (first, last) =>
            require(last >= first,
              s"wal-tail: segment $n is not LSN-ascending " +
                s"(first=$first last=$last)")
            segSpans(n) = (first, last)
            newNames += n
          }
          // empty segments stay uncached: a stage-and-rename writer
          // never publishes one, and skipping keeps a zero-byte file
          // from wedging the listing
        }
      }
    }
    val out = names.flatMap(n => segSpans.get(n).map(n -> _)).toIndexedSeq
    // the name-order = LSN-order contract is load-bearing: a segment
    // misnamed BELOW the cursor would simply never be admitted (its
    // span is behind offsets already processed) — silent row loss.
    // Fail loudly instead. Validation is INCREMENTAL: segments are
    // immutable once visible, so an adjacency checked once holds
    // forever, and front-discards only merge already-transitively-
    // ordered pairs — each poll checks only the adjacencies touching a
    // segment first seen THIS poll (covers appends AND a misnamed
    // segment landing mid-chain), O(new) per poll instead of
    // O(retained) on a 100k-segment log under sub-second triggers.
    if (newNames.nonEmpty) {
      val idx = out.iterator.map(_._1).zipWithIndex.toMap
      def checkPair(a: (String, (Long, Long)),
                    b: (String, (Long, Long))): Unit = {
        orderChecks += 1
        val (na, (_, maxA)) = a
        val (nb, (minB, _)) = b
        require(minB > maxA,
          s"wal-tail: segment name order contradicts LSN order: " +
            s"$na spans through $maxA but later-named $nb starts at " +
            s"$minB — segment names must sort in LSN order or rows " +
            "behind the cursor are silently lost")
      }
      newNames.foreach { n =>
        idx.get(n).foreach { i =>
          if (i > 0) checkPair(out(i - 1), out(i))
          if (i < out.size - 1) checkPair(out(i), out(i + 1))
        }
      }
    }
    out
  }

  override def initialOffset(): Offset = {
    // no Spark checkpoint -> resume from the slot's confirmed-flush
    // LSN, the reference's restart semantics; a truly cold start
    // delivers from the configured floor
    val resumed = WalTail.readFeedback(fs, slotFile).getOrElse(startLsn)
    WalTailOffset(resumed)
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxFilesPerTrigger)

  override def prepareForTriggerAvailableNow(): Unit = {
    // snapshot the log now; segments landing during the drain belong
    // to the next run (the AvailableNow contract)
    val segs = listSegments()
    availableNowCap = Some(
      if (segs.isEmpty) Long.MinValue else segs.map(_._2._2).max)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[WalTailOffset].lsn
    // poll-time send_feedback: `start` is the end of the last
    // COMPLETED micro-batch (Spark only hands it here after that
    // batch's commit-log entry is durable), so the slot may
    // acknowledge it — the reference's consume loop sends feedback on
    // its poll-interval tick the same way (the second `send_feedback`
    // in `sync_tables`, logical_replication.py:699-717). commit()
    // below stays as the batch-completion hook, but it lags one batch
    // and never fires for the LAST batch before an AvailableNow drain
    // stops — without the poll-time advance a drained run would leave
    // the slot behind its own checkpoint. Both paths are monotonic.
    if (from != Long.MinValue && from > lastFeedback) {
      val f = fs
      if (WalTail.readFeedback(f, slotFile).forall(_ < from))
        WalTail.writeFeedback(f, slotFile, from)
      lastFeedback = from
    }
    val cap = limit match {
      case mf: ReadMaxFiles => mf.maxFiles()
      case _ => Int.MaxValue
    }
    // admit whole segments: the first `cap` segments with any line
    // past the cursor (LSN spans are cached; no payload read here)
    val pending = listSegments()
      .filter { case (_, (_, maxL)) => maxL > from }
      .filter { case (_, (_, maxL)) =>
        availableNowCap.forall(maxL <= _) }
    if (pending.isEmpty) WalTailOffset(from)
    else WalTailOffset(pending.take(cap).map(_._2._2).max)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "wal-tail implements SupportsAdmissionControl; Spark calls " +
        "latestOffset(start, limit)")

  override def reportLatestOffset(): Offset = {
    val segs = listSegments()
    WalTailOffset(if (segs.isEmpty) startLsn else segs.map(_._2._2).max)
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val from = start.asInstanceOf[WalTailOffset].lsn
    val to = end.asInstanceOf[WalTailOffset].lsn
    if (to <= from) return Array.empty
    // one partition per overlapping segment; the reader re-filters by
    // LSN, so a segment straddling either boundary stays exact
    listSegments()
      .filter { case (_, (minL, maxL)) => maxL > from && minL <= to }
      .map { case (n, _) =>
        WalSegPartition(s"$logDir/$n", from, to): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WalSegReaderFactory(new SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.active.sessionState
        .newHadoopConf()))

  override def deserializeOffset(json: String): Offset =
    WalTailOffset(json.toLong)

  /** `send_feedback`: publish the confirmed-flush LSN. Monotonic —
    * replayed commits of an older batch never regress the slot.
    */
  override def commit(end: Offset): Unit = {
    val lsn = end.asInstanceOf[WalTailOffset].lsn
    if (lsn > lastFeedback) {
      val f = fs
      if (WalTail.readFeedback(f, slotFile).forall(_ < lsn))
        WalTail.writeFeedback(f, slotFile, lsn)
      lastFeedback = lsn
    }
  }

  override def stop(): Unit = ()
}

private[sources] case class WalSegPartition(file: String, fromLsn: Long,
                                            toLsn: Long)
    extends InputPartition

/** Java-serializable carrier for the session's Hadoop configuration —
  * the executors' segment reads must see the same FS settings
  * (credentials, endpoints) the driver resolved, not a bare default
  * `Configuration`. Self-contained via Hadoop's own Writable
  * round-trip (the Spark-internal SerializableConfiguration is
  * `private[spark]` at the Scala level).
  */
private[sources] class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

private[sources] class WalSegReaderFactory(
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WalSegPartition]
    new PartitionReader[InternalRow] {
      private val path = new Path(p.file)
      private val in = path.getFileSystem(conf.value).open(path)
      private val src = scala.io.Source.fromInputStream(in, "UTF-8")
      private val lines = src.getLines()
      private var row: InternalRow = _

      override def next(): Boolean = {
        while (lines.hasNext) {
          val line = lines.next()
          if (line.nonEmpty) {
            val lsn = WalTail.parseLsn(line)
            if (lsn > p.fromLsn && lsn <= p.toLsn) {
              row = new GenericInternalRow(Array[Any](lsn,
                UTF8String.fromString(
                  line.substring(line.indexOf('\t') + 1))))
              return true
            }
          }
        }
        false
      }

      override def get(): InternalRow = row

      override def close(): Unit = { src.close(); in.close() }
    }
  }
}
