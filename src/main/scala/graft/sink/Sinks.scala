package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Non-merge sink family (SURVEY.md §2.3):
  *  - CSV sink          — target-s3-csv (records -> CSV, no merge)
  *  - JDBC sink         — target-postgres (temp table + upsert handled by
  *                        the database's transactional write; local tests
  *                        have no database, so this is config plumbing)
  *  - file splitting    — fastsync split_gzip (≤N chunks of ~M rows) as
  *                        repartition + maxRecordsPerFile
  */
object Sinks {

  /** CSV append sink with the reference's provenance-friendly layout:
    * one directory per stream, gzip compression like the reference's
    * csv.gz exports.
    */
  def csvAppend(df: DataFrame, dir: String, compress: Boolean = true): Unit = {
    var w = df.write.mode(SaveMode.Append).option("header", "true")
    if (compress) w = w.option("compression", "gzip")
    w.csv(dir)
  }

  /** Split a large frame into bounded files for parallel warehouse load
    * (split_gzip.py:15-52: ≤20 chunks). `targetFiles` bounds parallelism;
    * `maxRecordsPerFile` bounds file size.
    */
  def writeSplit(df: DataFrame, dir: String, targetFiles: Int,
                 maxRecordsPerFile: Long): Unit =
    df.repartition(targetFiles)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(dir)

  /** Small-file compaction — the maintenance pass every long-running
    * landing/merge layout needs at 100 TB: streaming flushes and
    * incremental merges accrete files far below the ~128 MB scan-optimal
    * size, and scan cost degrades with per-file open/footer overhead
    * (plus driver-side listing). Rewrites `dir` into
    * `ceil(rows / targetRecordsPerFile)` files through [[DirCommit]], the
    * commit [[graft.sink.MergeSink.publish]] uses — readers never observe
    * a partial layout. Returns
    * `(filesBefore, filesAfter)`.
    *
    * Scale notes: `repartition(n)` is a full shuffle of the data being
    * compacted — compact per partition/bucket subdirectory (the natural
    * unit the merge layouts already expose) rather than a whole 100 TB
    * table at once. DeltaMerge's amortized `compact` covers the
    * merge-on-read path; this is the standalone pass for append/landing
    * dirs.
    */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
                   targetRecordsPerFile: Long): (Int, Int) = {
    require(targetRecordsPerFile > 0, "targetRecordsPerFile must be > 0")
    val fs = DirCommit.fs(spark, dir)
    def dataFiles(p: String): Int = {
      val entries = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      // flat-layout pass only: partitioned layouts (subdirectories) must be
      // compacted per-partition dir — the unit the merge layouts expose
      require(!entries.exists(e => e.isDirectory &&
          !e.getPath.getName.startsWith("_") &&
          !e.getPath.getName.startsWith(".")),
        s"compactFiles expects a flat file layout; $p has subdirectories — " +
          "compact each partition directory individually")
      entries.count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }
    DirCommit.recover(dir)
    val before = dataFiles(dir)
    val df = spark.read.parquet(dir)
    val rows = df.count()
    val n = math.max(1, math.ceil(rows.toDouble / targetRecordsPerFile).toInt)
    DirCommit.commit(dir)(df.repartition(n).write.mode(SaveMode.Overwrite)
      .parquet(_))
    (before, dataFiles(dir))
  }

  /** JDBC writer (target-postgres analogue). Append/overwrite via Spark's
    * JDBC sink; PK-merge semantics belong to MergeSink before the write
    * (the reference's temp-table + INSERT/UPDATE split maps to staging
    * the merged frame and overwriting).
    */
  /** Publish a globally range-sorted layout: rows range-partition on
    * `sortCol` into `shards` files, each internally sorted — the
    * storage shape that makes a 100 TB corpus PRUNABLE by key range.
    * Disjoint per-file ranges mean a range predicate touches only the
    * overlapping shards (parquet row-group min/max stats are tight when
    * the file is sorted), sorted shards merge-join without a shuffle,
    * and a "top fraction by quality score" selection is a prefix of the
    * shard list instead of a full-corpus sort. Writes a
    * `_range_index.json` manifest (shard file → [min, max]) so readers
    * can prune by LISTING, before any footer is opened. `sortCol` must
    * be integer-typed (ids, fixed-point scores — the engine's key
    * convention); [[readRange]] parses the manifest bounds as longs.
    *
    * Returns the manifest as (file, min, max) rows.
    */
  def writeRangeSorted(df: DataFrame, dir: String, sortCol: String,
                       shards: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(shards > 0, "shards must be > 0")
    // fail on the TYPE up front: the long-cast below turns a
    // non-integral sortCol (e.g. string keys) into all-null bounds,
    // which would otherwise surface as the misleading all-null-data
    // error after the full write
    val sortType = df.schema(sortCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(sortType),
      s"writeRangeSorted: sortCol '$sortCol' must be integral " +
        s"(byte/short/int/long), got ${sortType.simpleString} — range " +
        "manifests store long bounds")
    val spark = df.sparkSession
    df.repartitionByRange(shards, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode(SaveMode.Overwrite).parquet(dir)
    // column-pruned second pass over the published files builds the
    // range index (reads ONE column of what was just written)
    val manifest = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(sortCol)).cast("long").as("lo"),
        max(col(sortCol)).cast("long").as("hi"))
    val rows = manifest.collect()
    // a shard whose sortCol values are ALL null yields null min/max —
    // writing that would poison every subsequent readRange parse, so
    // fail fast naming the shard (the sort-key convention is non-null
    // integers; an all-null shard is a data bug, not a layout)
    rows.find(r => r.isNullAt(1) || r.isNullAt(2)).foreach { r =>
      throw new IllegalStateException(
        s"writeRangeSorted: shard ${r.getString(0)} has null $sortCol " +
          "bounds (all-null sort keys); range layouts need non-null " +
          "integer sort keys")
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, "_range_index.json"), true)
    try {
      // proper JSON writer: file names with quotes/backslashes/unicode
      // must round-trip; numeric bounds are emitted as JSON numbers
      import org.json4s.JArray
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      val json = JsonMethods.compact(JsonMethods.render(JArray(
        rows.sortBy(_.getString(0)).toList.map { r =>
          ("file" -> r.getString(0)) ~ ("lo" -> r.getLong(1)) ~
            ("hi" -> r.getLong(2))
        })))
      out.write(json.getBytes("UTF-8"))
    } finally out.close()
    manifest
  }

  /** Range read against a [[writeRangeSorted]] layout: shard files
    * whose `[lo, hi]` interval (from `_range_index.json`) misses the
    * requested `[lo, hi)` are pruned from the FILE LIST — the scan
    * never opens them, no footer reads, no listing of their row
    * groups. Returns the filtered rows.
    */
  def readRange(spark: org.apache.spark.sql.SparkSession, dir: String,
                sortCol: String, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val keep = rangeManifest(spark, dir)
      .filter { case (_, flo, fhi) => fhi >= lo && flo < hi }
      .map(_._1)
    if (keep.isEmpty)
      spark.read.parquet(dir).filter(lit(false))
    else
      spark.read.parquet(keep: _*)
        .filter(col(sortCol) >= lo && col(sortCol) < hi)
  }

  /** Whether `dir` is a [[writeRangeSorted]] layout (has the manifest
    * sidecar) — probes use this to decide between a manifest-pruned
    * point read and a plain scan of the same rows.
    */
  def hasRangeManifest(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_range_index.json")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The parsed `_range_index.json`: (file, lo, hi) per shard. */
  private[graft] def rangeManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, Long, Long)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(
      new org.apache.hadoop.fs.Path(dir, "_range_index.json"))
    try {
      val json = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      JsonMethods.parse(json) match {
        case JArray(arr) => arr.map { e =>
          val f = (e \ "file") match { case JString(s) => s
            case o => throw new IllegalStateException(s"bad manifest: $o") }
          // numeric since r13; JString accepted for pre-r13 manifests
          def bound(name: String): Long = (e \ name) match {
            case JInt(n) => n.longValue
            case JLong(n) => n
            case JString(s) => s.toLong
            case o => throw new IllegalStateException(s"bad manifest: $o")
          }
          (f, bound("lo"), bound("hi"))
        }
        case other =>
          throw new IllegalStateException(s"bad range index: $other")
      }
    } finally in.close()
  }

  /** The shard files whose `[lo, hi]` interval contains ANY of
    * `points` — the multi-point sibling of [[readRange]]'s pruning,
    * for index-serving reads where a probe brings thousands of point
    * keys rather than one interval. Sorted-manifest + sorted-points
    * merge, O(files + points log points).
    */
  def rangePointFiles(spark: org.apache.spark.sql.SparkSession,
                      dir: String, points: Seq[Long]): Seq[String] = {
    val sorted = points.distinct.sorted.toArray
    rangeManifest(spark, dir).filter { case (_, flo, fhi) =>
      // any point in [flo, fhi]: binary search for the first >= flo
      val i = java.util.Arrays.binarySearch(sorted, flo)
      val at = if (i >= 0) i else -i - 1
      at < sorted.length && sorted(at) <= fhi
    }.map(_._1)
  }

  /** Manifest-pruned multi-point read: rows of just the
    * [[rangePointFiles]] shards. NOTE the kept files contain
    * neighboring keys too — callers filter or join on the exact key
    * (the point of the layout is skipping the files with NO matching
    * key, not row-exactness).
    */
  def readRangePoints(spark: org.apache.spark.sql.SparkSession,
                      dir: String, points: Seq[Long],
                      schema: Option[org.apache.spark.sql.types
                        .StructType] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val rd = schema.fold(spark.read)(s => spark.read.schema(s))
    val keep = rangePointFiles(spark, dir, points)
    if (keep.isEmpty) rd.parquet(dir).filter(lit(false))
    else rd.parquet(keep: _*)
  }

  def jdbcWrite(df: DataFrame, url: String, table: String,
                mode: SaveMode = SaveMode.Append,
                options: Map[String, String] = Map.empty): Unit = {
    graft.sources.GraftDialects.registered
    var w = df.write.format("jdbc").mode(mode)
      .option("url", url).option("dbtable", table)
      .option("batchsize", 10000)
    options.foreach { case (k, v) => w = w.option(k, v) }
    w.save()
  }
}
