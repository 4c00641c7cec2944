package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pluggable REST/SaaS tap interface (SURVEY §2.1) — the landing contract
  * for taps like tap-github/tap-zendesk (tap-github/__init__.py:253-290:
  * paginated fetch → singer records, bookmarked by `since`).
  *
  * Division of labor, Spark-first: API pagination is driver-side,
  * sequential, rate-limited IO — NOT a distributed workload — so a tap
  * implementation fetches pages and lands them as JSON-lines files.
  * Spark takes over at the landing directory: `spark.read.json` gives
  * schema inference, and everything downstream (masking, metadata
  * columns, merge) is the same engine path every other source uses. At
  * scale, many taps/streams land in parallel (Planner.run parallelism) and
  * each landing dir is read as one distributed scan.
  */
trait LandingTap {
  /** Stream name (becomes the target table name). */
  def streamName: String

  /** Fetch all records newer than `bookmark` (None = full history) into
    * JSON-lines files under `landingDir`; return the new bookmark to
    * persist after a successful load, None if nothing changed.
    */
  def fetchTo(landingDir: String, bookmark: Option[String]): Option[String]
}

object LandingTap {

  /** Run one tap sync: fetch to the landing dir, read what landed.
    * Returns the frame plus the bookmark to commit after the target
    * flush succeeds (bookmark-after-load ordering, same as the
    * replication planner).
    */
  def sync(spark: SparkSession, tap: LandingTap, landingDir: String,
           bookmark: Option[String]): (DataFrame, Option[String]) = {
    val next = tap.fetchTo(landingDir, bookmark)
    (spark.read.json(landingDir), next)
  }
}
