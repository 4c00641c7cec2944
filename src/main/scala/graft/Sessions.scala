package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory: Bench, Verify, Cli, the tools and the
  * test base all start from [[builder]], and nothing else sets the
  * shared config or reads `SPARK_GRAFT_CPUS`. A caller adds what is its
  * own on the returned builder (an app name, a static conf such as the
  * test warehouse, Cli's `GRAFT_MASTER`) and sets runtime SQL confs
  * with `spark.conf.set` after [[start]].
  */
object Sessions {

  /** Local cores and shuffle partitions: `SPARK_GRAFT_CPUS`, else the
    * JVM's available processors.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(): SparkSession.Builder = {
    val n = cpus
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may carry TIMESTAMP(NANOS): read it as a long and
      // convert (graft.queries.Q.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }

  /** The session `b` describes (an existing one if the JVM has it),
    * logging at WARN.
    */
  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
