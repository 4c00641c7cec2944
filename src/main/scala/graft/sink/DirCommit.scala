package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one crash-safe directory commit every table writer uses — the
  * Spark-side `ALTER TABLE ... SWAP WITH`
  * (fastsync/commons/target_snowflake.py:448-469).
  *
  * Protocol for a table directory `dst`:
  *  1. [[recover]] finishes or rolls back an interrupted commit;
  *  2. the writer fills `<dst>.stage` (plus the `_applied_batch` marker
  *     when the commit carries a batch id);
  *  3. retire: `dst` moves to `<dst>.old`;
  *  4. promote: `<dst>.stage` moves to `dst`;
  *  5. drop `<dst>.old`.
  *
  * [[commitParts]] swaps only some subdirectories (`__p=<b>` buckets):
  * every touched part is retired under `<dst>.old/<part>`, every staged
  * part promoted, and deleting `<dst>.stage` is the commit point; the
  * retired parts then go with one recursive delete.
  *
  * Old data is never deleted before its replacement is in place, and
  * every rename's result is checked (Hadoop filesystems signal a failed
  * rename by returning false). The protocol needs atomic directory
  * renames (local, HDFS, ABFS with a hierarchical namespace); given
  * them, a kill at any point leaves one of:
  *  - `dst` and no `.old`: committed, or never started;
  *  - `.old` without `dst`: killed between retire and promote — recover
  *    moves `.old` back;
  *  - `dst`, `.old` and `.stage`: a part commit killed before its commit
  *    point — recover moves each retired part back;
  *  - `dst` and `.old`, no `.stage`: killed before the drop — recover
  *    drops `.old`.
  * On a store whose rename is a copy then a delete (s3a), a kill inside
  * a rename can leave a half-copied directory that [[recover]] cannot
  * tell from these states; such a store needs a commit log instead.
  * Every writer calls [[recover]] before it looks at `dst`: deciding
  * "no table yet, bootstrap" over a retired `.old` would publish one
  * batch alone and then delete the only copy of the table.
  *
  * Readers see the old table or the new one, never a partial write
  * (per part, for [[commitParts]]). A rolled-back part commit may keep
  * parts that had no earlier version; the PK merge is last-write-wins,
  * so replaying the batch converges, and batch-marked writers
  * re-apply from the old marker.
  */
object DirCommit {

  /** Batch id committed with the table, written into the stage. */
  private val Marker = "_applied_batch"

  /** The filesystem that holds `path`, resolved from the path's scheme,
    * not the default filesystem.
    */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stageOf(dst: String) = new Path(dst + ".stage")
  private def oldOf(dst: String) = new Path(dst + ".old")

  /** Rename that fails loudly instead of returning false. */
  private[sink] def move(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"commit: could not move $src to $dst")

  private def drop(fs: FileSystem, p: Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p))
      throw new java.io.IOException(s"commit: could not delete $p")

  /** Finish or roll back an interrupted commit of `dst` (see the class
    * doc). One `exists` call when the last commit completed.
    */
  def recover(dst: String): Unit = {
    val old = oldOf(dst)
    val f = fs(SparkSession.active, dst)
    if (!f.exists(old)) return
    val table = new Path(dst)
    if (!f.exists(table)) move(f, old, table)
    else {
      val stage = stageOf(dst)
      if (f.exists(stage)) {
        f.listStatus(old).foreach { s =>
          val live = new Path(table, s.getPath.getName)
          drop(f, live)
          move(f, s.getPath, live)
        }
        drop(f, stage)
      }
      drop(f, old)
    }
  }

  /** The batch id committed with `dst`, if any. */
  def lastApplied(dst: String): Option[Long] = {
    val p = new Path(dst, Marker)
    val f = fs(SparkSession.active, dst)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        .toLongOption
      finally in.close()
    }
  }

  /** Replace `dst` with what `write` puts into the stage directory it is
    * given; `batchId` rides the same swap as the marker.
    */
  def commit(dst: String, batchId: Option[Long] = None)
            (write: String => Unit): Unit = {
    recover(dst)
    val stage = stageOf(dst)
    write(stage.toString)
    val f = fs(SparkSession.active, dst)
    batchId.foreach { id =>
      val out = f.create(new Path(stage, Marker), true)
      try out.write(id.toString.getBytes("UTF-8")) finally out.close()
    }
    val table = new Path(dst)
    val old = oldOf(dst)
    if (f.exists(table)) move(f, table, old)
    move(f, stage, table)
    f.delete(old, true) // a leftover is dropped by the next recover
  }

  /** Replace only the subdirectories `parts` of `dst` with what `write`
    * stages under the same names; a part the stage lacks ends empty.
    */
  def commitParts(dst: String, parts: Seq[String])
                 (write: String => Unit): Unit = {
    recover(dst)
    val stage = stageOf(dst)
    write(stage.toString)
    val f = fs(SparkSession.active, dst)
    val old = oldOf(dst)
    if (!f.mkdirs(old))
      throw new java.io.IOException(s"commit: could not create $old")
    parts.foreach { p =>
      val live = new Path(dst, p)
      if (f.exists(live)) move(f, live, new Path(old, p))
    }
    parts.foreach { p =>
      val staged = new Path(stage, p)
      if (f.exists(staged)) move(f, staged, new Path(dst, p))
    }
    drop(f, stage) // the commit point
    f.delete(old, true)
  }

  // ---- small files (an index layout's meta, a slot's confirmed-flush
  // LSN): replaced whole, read by a reader that may run inside the
  // replace ---------------------------------------------------------

  /** The staged copy of `p` that [[writeFile]] renames into place. */
  def stagedFile(p: Path): Path = new Path(p.getParent, s".${p.getName}.tmp")

  /** Replace the small file `p` with `text`: write and close the staged
    * copy, delete `p`, rename. Hadoop's rename does not overwrite on
    * every filesystem, hence the delete. A kill before the delete keeps
    * the old file; a kill between the delete and the rename leaves only
    * the complete staged copy, which [[readFile]] reads and
    * [[recoverFile]] promotes.
    */
  def writeFile(fs: FileSystem, p: Path, text: String): Unit = {
    val staged = stagedFile(p)
    val out = fs.create(staged, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    move(fs, staged, p)
  }

  /** The text of `p`, or of its staged copy while `p` is missing (the
    * delete-rename window of [[writeFile]]); None when neither exists.
    */
  def readFile(fs: FileSystem, p: Path): Option[String] = {
    def slurp(q: Path): Option[String] =
      try {
        val in = fs.open(q)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    // `p` again last: the window may close between the first two reads
    slurp(p).orElse(slurp(stagedFile(p))).orElse(slurp(p))
  }

  /** Finish a [[writeFile]] killed between its delete and its rename. */
  def recoverFile(fs: FileSystem, p: Path): Unit = {
    val staged = stagedFile(p)
    if (!fs.exists(p) && fs.exists(staged)) move(fs, staged, p)
  }
}
