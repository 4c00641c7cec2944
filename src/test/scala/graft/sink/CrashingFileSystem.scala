package graft.sink

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The local filesystem, mounted on any scheme, that fails the Nth rename
  * or delete under a watched root: it throws, or returns false without
  * acting, the two ways a Hadoop filesystem reports a failed operation.
  * Operations inside Spark's own output-committer trees (`_temporary`,
  * `.spark-staging-*`) are not counted, so N walks the writer's commit
  * steps in a fixed order.
  */
class CrashingFileSystem extends LocalFileSystem(new CrashingFileSystem.Raw) {
  import CrashingFileSystem.fault

  override def rename(src: Path, dst: Path): Boolean =
    !fault(src) && super.rename(src, dst)

  override def delete(p: Path, recursive: Boolean): Boolean =
    !fault(p) && super.delete(p, recursive)
}

object CrashingFileSystem {
  val Scheme = "crash"

  /** Raw local filesystem that answers to the scheme it is mounted on. */
  class Raw extends RawLocalFileSystem {
    private var uri: URI = _
    override def initialize(name: URI, conf: Configuration): Unit = {
      uri = URI.create(name.getScheme + ":///")
      super.initialize(name, conf)
    }
    override def getUri: URI = if (uri == null) super.getUri else uri
  }

  private val ops = new AtomicInteger
  @volatile private var root: String = _
  @volatile private var failAt = 0
  @volatile private var throwing = true
  @volatile private var fired = false

  private def fault(p: Path): Boolean = {
    val path = p.toUri.getPath
    if (failAt == 0 || root == null || !path.startsWith(root) ||
        path.split('/').exists(c =>
          c == "_temporary" || c.startsWith(".spark-staging"))) false
    else if (ops.incrementAndGet() != failAt) false
    else {
      fired = true
      if (throwing) throw new java.io.IOException(s"injected crash at $p")
      true
    }
  }

  /** Mount on `scheme` in the session's Hadoop configuration, uncached
    * so every lookup builds a fresh instance of this class.
    */
  def mount(spark: SparkSession, scheme: String = Scheme): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$scheme.impl", classOf[CrashingFileSystem].getName)
    conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
  }

  def unmount(spark: SparkSession, scheme: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.unset(s"fs.$scheme.impl")
    conf.unset(s"fs.$scheme.impl.disable.cache")
  }

  /** Run `body` with the `n`th rename or delete under `under` failing
    * (thrown, or returned as false). Returns whether that operation
    * happened; an exception the fault caused is swallowed.
    */
  def failingAt(n: Int, throwIt: Boolean, under: String)
               (body: => Unit): Boolean = {
    ops.set(0); fired = false; throwing = throwIt
    root = new Path(under).toUri.getPath; failAt = n
    try body
    catch { case e: Exception if fired => () }
    finally failAt = 0
    fired
  }
}

/** Crash a writer at every rename and delete of its commit in turn, in
  * both failure modes, and check that re-running the same batch gives
  * the table (and batch marker) of a run that never crashed.
  */
trait CrashPoints extends graft.SparkSpecBase {
  CrashingFileSystem.mount(spark)

  /** A fresh directory on the crashing scheme. */
  def crashDir(): String = s"${CrashingFileSystem.Scheme}://" +
    java.nio.file.Files.createTempDirectory("crash").toString

  private def retired(dir: String): Seq[String] = {
    val p = new Path(dir)
    val it = DirCommit.fs(spark, dir).listStatusIterator(p)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".old")) out += s.getPath.toString
      if (s.isDirectory) out ++= retired(s.getPath.toString)
    }
    out.result()
  }

  /** A fresh crash directory holding a copy of `template`. */
  private def copyOf(template: String): String = {
    val dir = crashDir()
    val fs = DirCommit.fs(spark, dir)
    fs.listStatus(new Path(template)).foreach(s => FileUtil.copy(fs,
      s.getPath, fs, new Path(dir, s.getPath.getName), false,
      spark.sparkContext.hadoopConfiguration))
    dir
  }

  /** Returns how many crash points were exercised. `setup` runs once;
    * every crash point starts from a copy of what it wrote.
    */
  def everyCrashPoint(setup: String => Unit, run: String => Unit,
                      read: String => DataFrame,
                      marker: String => Option[Long] = _ => None): Int = {
    val template = crashDir()
    setup(template)
    val ref = copyOf(template)
    run(ref)
    val want = {
      val df = read(ref)
      spark.createDataFrame(df.collectAsList(), df.schema)
    }
    var points = 0
    for (throwIt <- Seq(true, false)) {
      var n = 1
      var fired = true
      while (fired) {
        val dir = copyOf(template)
        fired = CrashingFileSystem.failingAt(n, throwIt, dir)(run(dir))
        run(dir)
        val got = read(dir)
        val at = s"fault at op $n (${if (throwIt) "throw" else "false"})"
        assert(got.exceptAll(want).union(want.exceptAll(got)).isEmpty,
          s"$at: table differs from the no-crash run")
        assert(marker(dir) == marker(ref), s"$at: marker differs")
        assert(retired(dir).isEmpty, s"$at: left ${retired(dir)}")
        if (fired) points += 1
        n += 1
      }
    }
    points
  }
}
