package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus,
  Path, RemoteIterator}

/** The local filesystem with per-operation counters for paths under one
  * watched root (the sink's target directory). Installed only in traced
  * runs, through `spark.hadoop.fs.file.impl`; it changes no behaviour.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  private def watched(p: Path): Boolean = {
    val r = root
    r != null && p.toUri.getPath.startsWith(r)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (watched(src)) renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (watched(p)) deletes.incrementAndGet()
    super.delete(p, recursive)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    if (watched(p)) lists.incrementAndGet()
    super.listStatus(p)
  }

  override def listLocatedStatus(p: Path)
      : RemoteIterator[LocatedFileStatus] = {
    if (watched(p)) lists.incrementAndGet()
    super.listLocatedStatus(p)
  }
}

object CountingLocalFileSystem {
  @volatile var root: String = _
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val lists = new AtomicLong

  def snapshot(): (Long, Long, Long) = (renames.get, deletes.get, lists.get)
}
