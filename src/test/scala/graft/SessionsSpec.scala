package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session factory's config, and the guard that keeps it the only
  * place a session is built or `SPARK_GRAFT_CPUS` is read.
  */
class SessionsSpec extends SparkSpecBase {

  test("the shared session carries the factory's config") {
    val n = Sessions.cpus
    assert(n > 0)
    assert(spark.sparkContext.master == s"local[$n]")
    assert(spark.sparkContext.defaultParallelism == n)
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == n.toString)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.appName == "graft-test")
  }

  test("no main source but Sessions builds a session or reads the cpus") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def containing(s: String): Seq[Path] = files.filter(f =>
      new String(Files.readAllBytes(f), "UTF-8").contains(s))
    val factory = Seq(root.resolve("graft/Sessions.scala"))
    assert(containing("SparkSession.builder") == factory)
    assert(containing("SPARK_GRAFT_CPUS") == factory)
  }
}
