package graft.spec

/** Typed pipeline specification — the Spark-native equivalent of the
  * reference's YAML->JSON config compile step
  * (pipelinewise/cli/config.py:32-125, pipelinewise.py:832-927).
  *
  * A `PipelineSpec` is what the reference calls a tap+target pair after
  * `pipelinewise import`: per-stream selection, replication method,
  * replication key, primary keys, and masking transformations.
  */
sealed trait ReplicationMethod
object ReplicationMethod {
  case object FullTable extends ReplicationMethod
  case object Incremental extends ReplicationMethod
  case object LogBased extends ReplicationMethod

  def parse(s: String): ReplicationMethod = s.toUpperCase match {
    case "FULL_TABLE"  => FullTable
    case "INCREMENTAL" => Incremental
    case "LOG_BASED"   => LogBased
    case other => throw new IllegalArgumentException(
      s"unknown replication method: $other")
  }
}

/** One ANDed guard of a conditional transformation
  * (transform-field/transform_field/transform.py:12-103).
  */
final case class TransformCondition(
    column: String,
    equals: Option[String] = None,
    regexMatch: Option[String] = None)

/** One masking rule on one field
  * (transform-field/transform_field/transform.py:147-196).
  */
final case class Transformation(
    fieldId: String,
    transformType: String, // SET-NULL | HASH | HASH-SKIP-FIRST-n | MASK-DATE
                           // | MASK-NUMBER | MASK-HIDDEN
                           // | MASK-STRING-SKIP-ENDS-n
    conditions: Seq[TransformCondition] = Nil,
    fieldPaths: Seq[String] = Nil)

/** A selected stream (≈ Singer stream = <schema>-<table>). */
final case class StreamSpec(
    name: String,
    table: String,
    keyProperties: Seq[String],
    replicationMethod: ReplicationMethod,
    replicationKey: Option[String] = None,
    selectedColumns: Option[Seq[String]] = None,
    transformations: Seq[Transformation] = Nil) {

  /** Transformations must never target PK or replication-key columns
    * (pipelinewise/cli/pipelinewise.py:2190-2233).
    */
  def validate(): Unit = {
    val protectedCols = keyProperties.toSet ++ replicationKey.toSet
    val bad = transformations.map(_.fieldId).filter(protectedCols)
    require(bad.isEmpty,
      s"transformations forbidden on PK/replication-key columns: ${bad.mkString(",")}")
  }
}

final case class PipelineSpec(
    id: String,
    streams: Seq[StreamSpec],
    targetPath: String,
    statePath: String,
    sourceDir: Option[String] = None, // tap "connection": parquet dir
    hardDelete: Boolean = false,
    batchSizeRows: Int = 100000,
    flattenMaxLevel: Int = 0,
    // PK-hash partition count of the target layout: incremental merges
    // rewrite only the partitions a batch touches (MergeSink
    // .flushPartitioned). Size so one partition's data fits an executor
    // comfortably — at 100 TB / 4096 parts that's ~25 GB per partition.
    // It sets the file count, not the write's parallelism: a layout write
    // runs min(buckets written, cores) tasks and still writes one file
    // per bucket.
    targetPartitions: Int = 64)
