package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.catalog.SchemaDiff

/** PK-merge upsert sink — the engine's `target` surface.
  *
  * Capabilities reproduced (SURVEY.md §2.3):
  *  - within-batch last-write-wins PK dedup
  *    (target_snowflake/__init__.py:160-176)
  *  - MERGE upsert when PKs exist (file_formats/csv.py:26-46,
  *    db_sync.py:449-527); append-only COPY otherwise
  *  - soft-delete tombstones + hard-delete mode (db_sync.py:632-637)
  *  - schema evolution: add column / version column on type change
  *    (db_sync.py:767-860)
  *  - atomic publish via staged write + swap
  *    (fastsync/commons/target_snowflake.py:448-469)
  *
  * Crash safety: every write goes through the one directory commit,
  * [[DirCommit]] (stage, retire to `<table>.old`, promote, drop), and
  * every flush first runs [[DirCommit.recover]], so a flush after a kill
  * inside a swap finishes or rolls back that swap before it decides
  * whether a target exists. A re-run of the same batch converges to the
  * no-crash table: the merge is last-write-wins on `orderCol`.
  *
  * All merge logic is a declarative plan (window dedup + join + coalesce),
  * and AQE handles skew. The upsert is a full outer join, which Spark
  * cannot broadcast, so both sides shuffle on the PK. Neither `flush`'s
  * flat table nor `flushPartitioned`'s `__p=` directory layout carries
  * bucketing Spark can use, so every merge re-shuffles all the target
  * rows it reads: the whole table on a whole-layout rewrite, the touched
  * buckets on the per-bucket path. That shuffle, not the batch's, is the
  * merge's large one (perfbench `replicate`, traced, 4 cores: 7.65 MB
  * merge shuffle against 0.21 MB for the dedup, per whole-layout
  * operation). Only [[flushBucketed]], over a catalog bucketed table,
  * shuffles the batch alone.
  */
object MergeSink {

  /** Last-write-wins dedup within a batch, ordered by `orderCol` descending
    * (the CDC sequence — offset, LSN, or extracted-at).
    */
  def dedupLastWins(batch: DataFrame, pks: Seq[String], orderCol: String)
      : DataFrame = {
    val w = Window.partitionBy(pks.map(col): _*)
      .orderBy(col(orderCol).desc)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Pure merge: upsert `updates` into `target` on `pks`.
    * Rows in updates win; `_sdc_deleted_at`-tombstoned rows are dropped
    * when `hardDelete` (DELETE ... WHERE _sdc_deleted_at IS NOT NULL),
    * kept (soft) otherwise. Handles updates carrying new columns
    * (schema evolution add-column): target rows get NULL.
    */
  def merge(target: DataFrame, updates: DataFrame, pks: Seq[String],
            hardDelete: Boolean = false,
            deletedAtCol: String = "_sdc_deleted_at"): DataFrame = {
    val allCols: Seq[String] =
      (target.columns ++ updates.columns.filterNot(target.columns.contains))
        .toSeq
    val types: Map[String, org.apache.spark.sql.types.DataType] =
      (target.schema.fields ++ updates.schema.fields)
        .map(f => f.name -> f.dataType).toMap
    val updCols = updates.columns.toSet
    val t = align(target, allCols, types).alias("t")
    val u = align(updates, allCols, types)
      .withColumn("__upd", lit(true)).alias("u")
    // plain equality, not <=>: PKs are non-null by contract (no-PK
    // streams use append()), and null-safe equality compiles to
    // coalesce/isnull join keys that defeat bucketed-join co-location
    val cond = pks.map(k => col(s"t.$k") === col(s"u.$k")).reduce(_ && _)
    val merged = t.join(u, cond, "full_outer").select(
      allCols.map { c =>
        if (pks.contains(c)) coalesce(col(s"u.$c"), col(s"t.$c")).as(c)
        // columns absent from the update batch (e.g. versioned columns)
        // keep the target value — MERGE only touches loaded columns
        else if (!updCols.contains(c)) col(s"t.$c").as(c)
        else when(col("u.__upd").isNotNull, col(s"u.$c"))
          .otherwise(col(s"t.$c")).as(c)
      }: _*)
    dropTombstones(merged, hardDelete, deletedAtCol)
  }

  /** Hard-delete filter, also applied on the bootstrap (no-target) flush
    * path: a changelog replayed from scratch must not keep rows whose
    * last event is a tombstone.
    */
  private[sink] def dropTombstones(df: DataFrame, hardDelete: Boolean,
                             deletedAtCol: String = "_sdc_deleted_at")
      : DataFrame =
    if (hardDelete && df.columns.contains(deletedAtCol))
      df.filter(col(deletedAtCol).isNull)
    else df

  private def align(df: DataFrame, cols: Seq[String],
                    types: Map[String, org.apache.spark.sql.types.DataType])
      : DataFrame =
    df.select(cols.map { c =>
      if (df.columns.contains(c)) col(c)
      else lit(null).cast(types(c)).as(c)
    }: _*)

  /** Append-only path for no-PK streams (COPY-without-merge analogue).
    * Synthetic `RID-<n>` keys must NOT dedup — plain union.
    */
  def append(target: DataFrame, updates: DataFrame): DataFrame =
    target.unionByName(updates, allowMissingColumns = true)

  /** Atomic publish: write to a staged dir, then swap into place through
    * [[DirCommit]]. Readers either see the old table or the new one,
    * never a partial write.
    */
  def publish(df: DataFrame, tablePath: String): Unit =
    DirCommit.commit(tablePath)(df.write.mode(SaveMode.Overwrite).parquet(_))

  /** Full merge-flush of one batch into a parquet table dir: recover an
    * interrupted commit, dedup, evolve schema, merge, publish.
    */
  def flush(spark: SparkSession, batch: DataFrame, tablePath: String,
            pks: Seq[String], orderCol: String,
            hardDelete: Boolean = false,
            versionSuffix: String = "v"): Unit = {
    DirCommit.recover(tablePath)
    val deduped =
      if (pks.nonEmpty) dedupLastWins(batch, pks, orderCol) else batch
    val merged =
      if (!DirCommit.fs(spark, tablePath).exists(new Path(tablePath)))
        dropTombstones(deduped, hardDelete)
      else {
        val target = spark.read.parquet(tablePath)
        val evolved = evolveTarget(target, deduped.schema, versionSuffix)
        if (pks.nonEmpty) merge(evolved, deduped, pks, hardDelete)
        else append(evolved, deduped)
      }
    publish(merged, tablePath)
  }

  // ---- partitioned incremental merge ----------------------------------

  /** Layout partition column for [[flushPartitioned]] tables. */
  val PartCol = "__p"

  /** Stable bucket id for a PK tuple: `pmod(hash60(pks), numParts)`.
    * [[graft.functions.StableHash]] (not Spark's `hash`) so the bucket of
    * a key never changes across Spark versions — the on-disk layout is a
    * contract between runs.
    */
  def pkBucket(pks: Seq[String], numParts: Int): Column =
    pmod(graft.functions.StableHash.hash60(
      concat_ws("\u0000", pks.map(k => col(k).cast("string")): _*)),
      lit(numParts.toLong)).cast("int")

  /** Incremental merge-flush into a PK-hash-partitioned parquet layout
    * (`tablePath/__p=<bucket>/`): only the partitions the deduped batch
    * touches are read, merged, and atomically swapped — every other
    * partition's files are left byte-identical on disk.
    *
    * This is the 100 TB flush path: a 100k-row batch against a 100 TB
    * target touches at most `numParts` buckets' worth of data
    * (min(numParts, |batch|) partitions), so per-flush I/O is proportional
    * to the batch's key spread, NOT the target size — the engine-level
    * `replaceWhere` the reference approximates with per-table
    * `ALTER TABLE ... SWAP WITH` (fastsync/commons/target_snowflake.py:448-469),
    * done per-partition instead of per-table.
    *
    * Schema evolution (new/re-typed columns) changes every partition's
    * schema, so those flushes fall back to a full partitioned rewrite;
    * steady-state upserts take the incremental path.
    */
  def flushPartitioned(spark: SparkSession, batch: DataFrame,
                       tablePath: String, pks: Seq[String], orderCol: String,
                       numParts: Int = 64, hardDelete: Boolean = false,
                       versionSuffix: String = "v"): Unit = {
    require(pks.nonEmpty, "flushPartitioned requires primary keys")
    require(!batch.columns.contains(PartCol),
      s"$PartCol is reserved for the partitioned layout")
    DirCommit.recover(tablePath)
    val deduped = dedupLastWins(batch, pks, orderCol)

    // hash-partition on the bucket id before partitionBy so each bucket
    // lands in exactly one task: otherwise EVERY task writes a file into
    // EVERY touched bucket (tasks × buckets small files — measured 14×
    // slower locally and a small-file explosion at scale). One task per
    // core, not per bucket: the writer sorts each task's rows by `__p`,
    // so a task writes its buckets one after another, one file each, and
    // the fixed per-task cost is paid min(buckets, cores) times
    def writeStage(df: DataFrame, buckets: Int)(stage: String): Unit =
      df.withColumn(PartCol, pkBucket(pks, numParts))
        .repartition(
          math.min(buckets, spark.sparkContext.defaultParallelism),
          col(PartCol))
        .write.partitionBy(PartCol).mode(SaveMode.Overwrite).parquet(stage)
    def commitWhole(df: DataFrame): Unit =
      DirCommit.commit(tablePath)(writeStage(df, numParts))

    if (!DirCommit.fs(spark, tablePath).exists(new Path(tablePath)))
      commitWhole(dropTombstones(deduped, hardDelete))
    else {
      val target = spark.read.parquet(tablePath)
      // migration path: an existing UNpartitioned table (written by
      // publish/flush) is rewritten once into the partitioned layout
      val isPartitioned = target.columns.contains(PartCol)
      val sameSchema = isPartitioned && deduped.schema.fields.forall(f =>
        target.schema.fields.exists(tf =>
          tf.name == f.name && tf.dataType == f.dataType))
      if (!sameSchema) {
        // evolution rewrites every partition (all rows change schema)
        val evolved =
          evolveTarget(target.drop(PartCol), deduped.schema, versionSuffix)
        commitWhole(merge(evolved, deduped, pks, hardDelete))
      } else {
        // two actions consume the deduped batch (touched-bucket pruning,
        // then the merge write) — persist so the scan + dedup window
        // shuffle run once, not twice
        val d = deduped.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // incremental path: bounded by numParts (layout metadata, never
          // data-sized), so the collect is a partition-pruning step
          val touched = d
            .select(pkBucket(pks, numParts).as(PartCol)).distinct()
            .collect().map(_.getInt(0)).sorted
          if (touched.length >= numParts * 3 / 4) {
            // degenerate case (docs/MERGE_SCALING.md): a batch whose keys
            // hash across (nearly) every bucket rewrites everything
            // anyway — one whole-layout write + ONE swap beats numParts
            // per-bucket swaps. High-frequency random-key batches belong
            // on DeltaMerge, not here.
            commitWhole(merge(target.drop(PartCol), d, pks, hardDelete))
          } else if (touched.nonEmpty) {
            val slice = target
              .filter(col(PartCol).isin(touched.toSeq: _*)).drop(PartCol)
            // sized to the touched buckets, not numParts mostly-empty
            // ones; a bucket missing from the stage (hard delete emptied
            // it) ends empty
            DirCommit.commitParts(tablePath, touched.map(b => s"$PartCol=$b"))(
              writeStage(merge(slice, d, pks, hardDelete), touched.length))
          }
        } finally d.unpersist()
      }
    }
  }

  /** Bucketed publish: persist the target as a bucketed table on its PKs
    * so subsequent merges co-locate — the upsert join then shuffles ONLY
    * the incoming batch, never the (much larger) target. This is the
    * 100 TB path: at a 1000-executor scale the target table is orders of
    * magnitude larger than any batch, and re-shuffling it per merge is
    * the dominant cost the bucketing removes.
    */
  def publishBucketed(df: DataFrame, tableName: String, pks: Seq[String],
                      numBuckets: Int): Unit = {
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, pks.head, pks.tail: _*)
      .sortBy(pks.head, pks.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Merge into a bucketed table: read back via the catalog (bucketing
    * metadata intact), merge, republish. The physical plan shows no
    * Exchange on the target side of the join.
    */
  def flushBucketed(spark: SparkSession, batch: DataFrame, tableName: String,
                    pks: Seq[String], orderCol: String,
                    numBuckets: Int, hardDelete: Boolean = false)
      : DataFrame = {
    // DirCommit's recovery rule: a kill between the two renames below
    // leaves only the retired copy, which is the table — restore it
    // before anything reads, bootstraps or drops
    val retired = tableName + "_retired"
    if (!spark.catalog.tableExists(tableName) &&
        spark.catalog.tableExists(retired))
      spark.sql(s"ALTER TABLE $retired RENAME TO $tableName")
    val deduped =
      if (pks.nonEmpty) dedupLastWins(batch, pks, orderCol) else batch
    val merged =
      if (!spark.catalog.tableExists(tableName))
        dropTombstones(deduped, hardDelete)
      else merge(spark.table(tableName), deduped, pks, hardDelete)
    // stage under a temp name, then promote via renames. The catalog has
    // no atomic swap primitive, so the order matters: the old table is
    // retired (rename, data intact) BEFORE the stage is promoted and only
    // dropped after — a crash at any point leaves recoverable data, never
    // the dropped-then-nothing window of DROP-first.
    val stage = tableName + "_stage"
    publishBucketed(merged, stage, pks, numBuckets)
    if (spark.catalog.tableExists(tableName)) {
      spark.sql(s"DROP TABLE IF EXISTS $retired")
      spark.sql(s"ALTER TABLE $tableName RENAME TO $retired")
      spark.sql(s"ALTER TABLE $stage RENAME TO $tableName")
      spark.sql(s"DROP TABLE $retired")
    } else {
      spark.sql(s"ALTER TABLE $stage RENAME TO $tableName")
    }
    spark.table(tableName)
  }

  /** Apply add-column/version-column schema evolution to the target frame
    * so the merge sees a unified schema.
    */
  def evolveTarget(target: DataFrame, incoming: StructType,
                   versionSuffix: String): DataFrame = {
    val evolved = SchemaDiff.evolve(target.schema, incoming, versionSuffix)
    target.select(evolved.fields.map { f =>
      target.schema.fields.find(_.name == f.name) match {
        case Some(tf) if tf.dataType == f.dataType => col(f.name)
        case Some(_) =>
          // type-changed column: old values live on under the versioned
          // name; the re-typed column starts NULL for existing rows
          lit(null).cast(f.dataType).as(f.name)
        case None =>
          val orig = f.name.stripSuffix(s"_$versionSuffix")
          if (f.name != orig && target.columns.contains(orig))
            col(orig).as(f.name) // versioned copy of the old column
          else lit(null).cast(f.dataType).as(f.name) // brand-new column
      }
    }.toSeq: _*)
  }
}
