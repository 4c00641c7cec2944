package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JValue

/** Shared machinery for the published banded-postings index layouts
  * (minhash `writeBandedSignatureIndex`, embedding
  * `writeBandedEmbeddingIndex`) — one place owning the directory
  * protocol the per-family writers and probes were each hand-rolling:
  *
  *   `<path>/_index_meta.json`        probe parameters + layout state
  *   `<path>/<postings_dir>`          range-sorted shards + manifest
  *                                    (default `postings`; compaction
  *                                    re-points this through the meta)
  *   `<path>/epochs/epoch=<n>`        incremental appends (small, one
  *                                    per maintained stream batch)
  *
  * Readers resolve everything through the meta, so every maintenance
  * step is crash-ordered by a single meta promotion
  * ([[promoteMeta]] / [[recoverMeta]] / [[readMeta]], over
  * [[DirCommit.writeFile]]'s staged small-file replace). A layout
  * written by the batch publishers (no epoch state in the meta) reads
  * identically: the resolution fields default to the batch shape.
  *
  * Reference behavior anchor: the incremental-index maintenance shape
  * mirrors pipelinewise's incremental-key replication loop
  * (`/root/reference/pipelinewise/cli/commands.py` sync flows) —
  * bounded per-batch work against a published artifact, never a
  * full-corpus rewrite.
  */
object IndexLayout {

  val MetaFile = "_index_meta.json"

  /** Compose a meta JSON object from typed fields — kills the
    * hand-rolled string concatenation each writer carried. Values may
    * be Int/Long/Double/Boolean/String.
    */
  def metaJson(fields: Seq[(String, Any)]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    import org.json4s.JObject
    val obj = fields.foldLeft(JObject()) { case (acc, (k, v)) =>
      val jv: org.json4s.JValue = v match {
        case i: Int => org.json4s.JInt(i)
        case l: Long => org.json4s.JLong(l)
        case d: Double => org.json4s.JDouble(d)
        case b: Boolean => org.json4s.JBool(b)
        case s: String => org.json4s.JString(s)
        case other => throw new IllegalArgumentException(
          s"metaJson: unsupported value for '$k': $other")
      }
      acc ~ (k -> jv)
    }
    JsonMethods.compact(JsonMethods.render(obj))
  }

  /** Replace the layout's meta ([[DirCommit.writeFile]]). Readers
    * ([[readMeta]]) see the old meta or the new one; a writer entering
    * after a kill inside the replace runs [[recoverMeta]] first.
    */
  def promoteMeta(fs: FileSystem, path: String, json: String): Unit =
    DirCommit.writeFile(fs, new Path(path, MetaFile), json)

  /** Finish a [[promoteMeta]] killed between its delete and rename. */
  def recoverMeta(fs: FileSystem, path: String): Unit =
    DirCommit.recoverFile(fs, new Path(path, MetaFile))

  /** The layout's meta, from its staged copy while a [[promoteMeta]] is
    * between its delete and rename: the staged meta is the NEWER one,
    * whose Bloom is a superset of the published signatures (the safe
    * direction; false positives only).
    */
  def readMeta(spark: SparkSession, path: String): JValue = {
    val meta = new Path(path, MetaFile)
    val json = DirCommit.readFile(DirCommit.fs(spark, path), meta)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"index layout: no $meta"))
    org.json4s.jackson.JsonMethods.parse(json)
  }

  // ---- meta resolution fields (absent on batch-published layouts:
  // the defaults ARE the batch shape) ------------------------------

  private def optLong(root: JValue, name: String, dflt: Long): Long = {
    import org.json4s._
    (root \ name) match {
      case JNothing => dflt
      case JInt(n) => n.longValue
      case JLong(n) => n
      case o => throw new IllegalStateException(s"bad meta $name: $o")
    }
  }

  private def optString(root: JValue, name: String,
                        dflt: String): String = {
    import org.json4s._
    (root \ name) match {
      case JNothing => dflt
      case JString(s) => s
      case o => throw new IllegalStateException(s"bad meta $name: $o")
    }
  }

  /** One maintained range-sorted table inside an index layout. A
    * layout maintains at least its banded postings ([[Postings]]);
    * the embedding family also maintains the id-sorted vector sidecar
    * its exact-cosine verification fetches from ([[Vectors]]). Field
    * and directory names are explicit so the postings instance keeps
    * the pre-r15 names (plain `epochs`, `compacted_through`) every
    * existing layout already carries.
    */
  final case class MaintainedTable(name: String, sortCol: String,
      dirField: String, throughField: String, epochsSub: String)

  val Postings: MaintainedTable = MaintainedTable("postings", "bh",
    "postings_dir", "compacted_through", "epochs")
  val Vectors: MaintainedTable = MaintainedTable("vectors", "id",
    "vectors_dir", "vectors_compacted_through", "vectors_epochs")
  // the Jaccard family's three tables: sets/prefix are epoch-appended
  // under the FROZEN df order; dfreq is frozen between compactions
  // (its descriptor exists for dir resolution and orphan healing —
  // its epochs subdir never materializes)
  val JaccardSets: MaintainedTable = MaintainedTable("sets", "id",
    "sets_dir", "sets_compacted_through", "sets_epochs")
  val JaccardPrefix: MaintainedTable = MaintainedTable("prefix", "g",
    "prefix_dir", "prefix_compacted_through", "prefix_epochs")
  val JaccardDfreq: MaintainedTable = MaintainedTable("dfreq", "g",
    "dfreq_dir", "dfreq_compacted_through", "dfreq_epochs")
  // per-gram prefix-posting counts `(g, n, hub)` — the viral-gram
  // guard's statistics, maintained INCREMENTALLY (base counts at
  // compaction + per-epoch deltas) so a guarded probe reads
  // vocabulary-sized count rows instead of recounting the posting
  // table (which is linear in the index). Appended LAST in the epoch
  // protocol with replay keyed on it: a missing counts epoch (crash
  // window) UNDERCOUNTS, which only relaxes the guard — exact output,
  // more candidates — never drops pairs the recount spelling keeps.
  val JaccardGramCounts: MaintainedTable = MaintainedTable("gcounts",
    "g", "gcounts_dir", "gcounts_compacted_through", "gcounts_epochs")
  // the hierarchical-SemDeDup corpus assignment `(id, vec, cluster)`,
  // range-sorted on the cluster id so a probe's exact verification
  // reads only the manifest shards holding its batch's clusters — the
  // inverted-file property, served by the range manifest instead of
  // hive partitioning (the maintained-layout spelling of
  // Similarity.writeHierarchyIndex's partitionBy)
  val HierarchyAssigned: MaintainedTable = MaintainedTable("assigned",
    "cluster", "assigned_dir", "assigned_compacted_through",
    "assigned_epochs")

  /** Whether the layout's meta declares this maintained table — the
    * forward-compat probe for sidecars added after a layout was
    * published (a pre-r16 Jaccard layout has no gcounts table; its
    * readers must fall back to recounting).
    */
  def hasTable(root: JValue, table: MaintainedTable): Boolean =
    optString(root, table.dirField, null) != null

  /** The table's current base shard directory (compaction re-points
    * it through the meta).
    */
  def baseDir(root: JValue, table: MaintainedTable = Postings): String =
    optString(root, table.dirField, table.name)

  /** Kept for the pre-r15 call sites. */
  def postingsDir(root: JValue): String = baseDir(root, Postings)

  /** Epochs `<=` this are folded into the table's base shards. */
  def compactedThrough(root: JValue,
                       table: MaintainedTable = Postings): Long =
    optLong(root, table.throughField, -1L)

  /** Highest epoch applied to the layout (-1: batch-published). */
  def lastEpoch(root: JValue): Long = optLong(root, "last_epoch", -1L)

  /** The epoch committed with the layout's meta, if it has one. */
  def lastApplied(spark: SparkSession, path: String): Option[Long] =
    if (!DirCommit.fs(spark, path).exists(new Path(path, MetaFile))) None
    else Some(lastEpoch(readMeta(spark, path)))

  /** The postings view of a layout: the manifest-pruned base shards
    * (or the full base when `points` is None — the over-cap fallback)
    * UNION the uncompacted epoch appends. `maxEpochExclusive` serves
    * the maintainer's pre-batch probe: only epochs strictly below it
    * (and a base compacted strictly below it) are visible. Epoch
    * partitions are recent-batch-sized by construction, so they are
    * read whole — manifest pruning pays on the corpus-sized base.
    */
  def readPostings(spark: SparkSession, path: String, root: JValue,
                   points: Option[IndexedSeq[Long]],
                   maxEpochExclusive: Option[Long] = None,
                   table: MaintainedTable = Postings,
                   schema: Option[org.apache.spark.sql.types.StructType]
                     = None): DataFrame = {
    val base0 = s"$path/${baseDir(root, table)}"
    // an explicit schema (from the layout's meta) skips parquet
    // footer inference — zero Spark jobs to OPEN the layout, which
    // analysis-time consumers (the SQL TVFs) rely on
    def rd = schema.fold(spark.read)(s => spark.read.schema(s))
    val base = points match {
      case Some(ps) => Sinks.readRangePoints(spark, base0, ps, schema)
      case None => rd.parquet(base0)
    }
    val epochsDir = s"$path/${table.epochsSub}"
    val through = compactedThrough(root, table)
    val hi = maxEpochExclusive.getOrElse(Long.MaxValue)
    // enumerate the tail partitions on the FILESYSTEM: an empty (or
    // absent) epochs dir must not break parquet schema inference, and
    // only the needed partitions should be listed into the scan
    val f = DirCommit.fs(spark, path)
    val epochsPath = new Path(epochsDir)
    val tail =
      if (lastEpoch(root) < 0 || !f.exists(epochsPath)) Seq.empty[Long]
      else f.listStatus(epochsPath).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("epoch="))
        .map(_.getPath.getName.stripPrefix("epoch=").toLong)
        .filter(e => e > through && e < hi)
        .sorted
    if (tail.isEmpty) base
    else {
      // the explicit schema must reach the TAIL read too, or a
      // stream-maintained layout with uncompacted epochs re-infers
      // parquet footers here and breaks the zero-jobs-to-OPEN
      // invariant the SQL TVFs rely on. With the schema given there
      // is no partition-column inference to want from basePath (the
      // epoch value is dropped anyway), so the dirs are read plain —
      // maintainer appends inherit the base schema, so the meta
      // schema matches every epoch (pre-pos epochs pair with a
      // pre-pos meta schema; compaction upgrades both together).
      val paths = tail.map(e => s"$epochsDir/epoch=$e")
      val tailDf = schema match {
        case Some(s) => spark.read.schema(s).parquet(paths: _*)
        case None => spark.read.option("basePath", epochsDir)
          .parquet(paths: _*).drop("epoch")
      }
      base.unionByName(tailDf)
    }
  }

  /** Stage-and-rename an epoch's postings in as
    * `<path>/epochs/epoch=<id>`; a replay that finds the partition
    * already present is a no-op (returns false).
    */
  def appendEpoch(postings: DataFrame, path: String, epoch: Long,
                  table: MaintainedTable = Postings): Boolean = {
    val spark = postings.sparkSession
    val f = DirCommit.fs(spark, path)
    val dst = new Path(s"$path/${table.epochsSub}/epoch=$epoch")
    if (f.exists(dst)) return false
    val stage = s"$path/.stage_${table.name}_epoch_$epoch"
    postings.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(stage)
    f.mkdirs(dst.getParent)
    if (!f.rename(new Path(stage), dst))
      throw new java.io.IOException(
        s"index layout: could not publish $stage as $dst")
    true
  }

  /** Fold every epoch `<= upTo` into a fresh range-sorted base at
    * `<path>/postings_v<upTo>`, then promote a meta that points at it
    * (`postings_dir`, `compacted_through`) and drop the consumed
    * dirs. Crash-ordered by the meta promotion: before it, readers
    * still resolve the old base + epochs (the new dir is an orphan a
    * re-run overwrites); after it, the old base and folded epochs are
    * garbage that [[healOrphans]] clears on the next maintainer
    * entry. `metaFields` is the COMPLETE new meta minus the two
    * resolution fields this call owns.
    */
  def compact(spark: SparkSession, path: String, root: JValue,
              sortCol: String, shards: Int, upTo: Long,
              metaFields: Seq[(String, Any)],
              table: MaintainedTable = Postings): Unit = {
    val newDir = s"${table.name}_v$upTo"
    val merged = readPostings(spark, path, root, points = None,
      maxEpochExclusive = Some(upTo + 1), table)
    Sinks.writeRangeSorted(merged, s"$path/$newDir", sortCol, shards)
    promoteMeta(DirCommit.fs(spark, path), path, metaJson(metaFields ++ Seq(
      table.dirField -> newDir, table.throughField -> upTo)))
    healOrphans(spark, path, keepDir = newDir,
      clearEpochsThrough = upTo, table)
  }

  /** Drop superseded base dirs (the table's generated dir shapes
    * other than the one the meta points at — never its epochs subdir)
    * and folded epoch partitions — the cleanup half of [[compact]]'s
    * crash ordering, safe to run at every maintainer entry. Only the
    * EXACT shapes this layout generates (`<name>` at bootstrap,
    * `<name>_v<epoch>` from [[compact]]) are eligible: a bare
    * name-prefix match would also delete unrelated user dirs placed
    * inside the index path (`postings_backup`, `sets_old`, ...).
    * `retain` names additional generations to keep — the grace-window
    * set a rebuilding maintainer records in its meta so probes that
    * resolved the pre-swap meta can still execute their lazy scans
    * (deleted at the maintainer's NEXT compaction boundary instead).
    */
  def healOrphans(spark: SparkSession, path: String, keepDir: String,
                  clearEpochsThrough: Long,
                  table: MaintainedTable = Postings,
                  retain: Set[String] = Set.empty): Unit = {
    val f = DirCommit.fs(spark, path)
    val rootPath = new Path(path)
    val generated = (table.name + "_v\\d+").r
    if (f.exists(rootPath))
      f.listStatus(rootPath).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory &&
            (name == table.name || generated.pattern.matcher(name).matches()) &&
            name != keepDir && name != table.epochsSub &&
            !retain.contains(name))
          f.delete(st.getPath, true)
      }
    val epochs = new Path(s"$path/${table.epochsSub}")
    if (f.exists(epochs))
      f.listStatus(epochs).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith("epoch=") &&
            name.stripPrefix("epoch=").toLong <= clearEpochsThrough)
          f.delete(st.getPath, true)
      }
  }
}
