package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Q._
import graft.sink.{DeltaMerge, MergeSink}
import graft.sources.{BinlogRows, Sources, Wal2Json}

/** Verified queries covering the reference's replication surface
  * (SURVEY.md §2.1-2.3): full-table scan, incremental scan with bookmark
  * pushdown, bookmark capture, within-batch PK dedup, MERGE upsert,
  * soft/hard deletes, append-only no-PK streams, partial (range) sync,
  * schema evolution, CDC changelog apply, kafka record shape, file-source
  * provenance columns.
  *
  * Each query uses the actual engine operator (Sources/MergeSink) over the
  * driver's TPC-H-ish parquet, shaped so a plain DuckDB SQL oracle can
  * verify it hash-exactly.
  */
object ReplicationQueries {

  /** Simulated "existing target table": orders not divisible by 3. */
  private def targetOrders(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders").filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))

  /** Simulated CDC update batch: orders divisible by 2, price bumped. */
  private def updateOrders(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders").filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"),
        (dec(col("o_totalprice")) + lit(1).cast("decimal(18,2)"))
          .cast("double").as("o_totalprice"))

  /** Slot-segment fixtures already laid this JVM, keyed by sf dir —
    * the fixture (wal2json lines rendered from the events table) is a
    * BENCH ARTIFACT, not engine work, and r18's curve showed it
    * muddying the drain rows' numbers (the ×30.8 at factor 100
    * included re-rendering the fixture every pass). Segments are
    * immutable once visible (the slot contract), and each drain gets
    * its OWN relocated slot file + checkpoint + table, so reuse
    * changes nothing semantically: the cold bench pass (excluded by
    * methodology) pays the render, steady-state passes measure
    * drain + merge only.
    */
  private val slotFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Render the events table at `d` as LSN-ordered wal2json slot
    * segments (ascending LSN ranges → ascending part numbers, rows
    * LSN-ascending within a segment) plus tx-wrapper/foreign-table
    * protocol noise, once per sf dir. Returns (logDir, max row LSN).
    */
  private def slotFixture(s: SparkSession, d: String): (String, Long) =
    slotFixtures.computeIfAbsent(d, _ => {
      import s.implicits._
      val iu = """{"action":"%s","schema":"public","table":"events",""" +
        """"columns":[{"name":"user_id","type":"bigint","value":%s},""" +
        """{"name":"event_id","type":"bigint","value":%s},""" +
        """{"name":"value","type":"double precision","value":%s}]}"""
      val del = """{"action":"D","schema":"public","table":"events",""" +
        """"identity":[{"name":"user_id","type":"bigint","value":%s},""" +
        """{"name":"event_id","type":"bigint","value":%s}]}"""
      val payload =
        when(col("event_type") === "signup",
          format_string(iu, lit("I"), col("user_id"), col("event_id"),
            col("value")))
        .when(col("event_type") === "error",
          format_string(del, col("user_id"), col("event_id")))
        .otherwise(
          format_string(iu, lit("U"), col("user_id"), col("event_id"),
            col("value")))
      val rowLines = events(s, d)
        .select(col("event_id").as("lsn"), payload.as("payload"))
      // protocol noise ahead of the row LSNs: tx wrappers and a
      // non-selected table, exactly what a live slot interleaves
      val noise = Seq(
        (-3L, """{"action":"B"}"""),
        (-2L, """{"action":"I","schema":"public","table":"audit","columns":[{"name":"id","type":"bigint","value":1}]}"""),
        (-1L, """{"action":"C"}""")).toDF("lsn", "payload")
      val logDir = java.nio.file.Files
        .createTempDirectory("graft-slot-fixture").toString + "/wal"
      rowLines.unionByName(noise)
        .select(col("lsn"),
          concat_ws("\t", col("lsn"), col("payload")).as("value"))
        .repartitionByRange(8, col("lsn"))
        .sortWithinPartitions("lsn")
        .select("value")
        .write.text(logDir)
      val maxLsn = rowLines.agg(max(col("lsn"))).head().getLong(0)
      (logDir, maxLsn)
    })

  /** Shared body of the two slot-drain rows (`cdc_slot_drain` /
    * `cdc_slot_drain_delta`): drain the [[slotFixture]] segments
    * through the WalTail source (AvailableNow, multi-batch admission)
    * under the given flush mode — fresh checkpoint, table, and
    * relocated slot file per call, so every invocation replays the
    * full drain — assert the slot file's feedback reached the head
    * LSN, and read the merged table back. A drain that left feedback
    * behind fails the row, it does not quietly pass.
    */
  private def slotDrainResult(s: SparkSession, d: String, flush: String)
      : DataFrame = {
    val (logDir, maxLsn) = slotFixture(s, d)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-slot-drain").toString
    val slotFile = s"$dir/slot"
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val q = graft.streaming.StreamingMerge.startWalSlot(s, logDir,
      "public", "events", rowSchema, s"$dir/table", s"$dir/ckpt",
      Seq("user_id"), hardDelete = true, targetPartitions = 8,
      maxFilesPerTrigger = Some(3), flush = flush,
      slotFile = Some(slotFile))
    q.awaitTermination(300000); q.stop()
    val fs = new org.apache.hadoop.fs.Path(logDir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val fb = graft.sources.WalTail.readFeedback(fs, slotFile)
    require(fb.contains(maxLsn),
      s"slot drain left feedback at $fb, expected max LSN $maxLsn")
    val merged = flush match {
      case "delta" => DeltaMerge.readMerged(s, s"$dir/table",
        Seq("user_id"), "_sdc_lsn", hardDelete = true)
      case _ => s.read.parquet(s"$dir/table")
    }
    val out = merged
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("value"))
      .localCheckpoint(true)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    out
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- sources -------------------------------------------------------

    "full_table_scan" -> QueryDef(
      (s, d) => Sources.fullTable(s, s"$d/orders.parquet",
        Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             |FROM orders""".stripMargin)),

    "incremental_scan" -> QueryDef(
      (s, d) => Sources.incremental(s, s"$d/lineitem.parquet", "l_shipdate",
          Some("1995-06-15"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
             |FROM lineitem WHERE l_shipdate >= '1995-06-15'""".stripMargin)),

    "bookmark_capture" -> QueryDef(
      (s, d) => table(s, d, "lineitem")
        .agg(date_format(max(col("l_shipdate")), "yyyy-MM-dd")
            .as("replication_key_value"),
          count(lit(1)).as("rows_scanned")),
      Some("""SELECT strftime(max(l_shipdate), '%Y-%m-%d')
             |         AS replication_key_value,
             |       count(*) AS rows_scanned FROM lineitem""".stripMargin)),

    "file_source_provenance" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // lineno is PER FILE (the reference's csv-line semantics:
        // sync_engine/fastsync assigns _sdc_source_lineno within each
        // source file) — which is also the scale-correct window: a
        // corpus-global ORDER BY would single-partition 100 TB, while
        // per-file numbering is bounded by file size by construction
        table(s, d, "documents")
          .withColumn("_sdc_source_file",
            regexp_extract(input_file_name(), "([^/]+)$", 1))
          .withColumn("_sdc_source_lineno",
            row_number().over(Window.partitionBy(col("_sdc_source_file"))
              .orderBy(col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("_sdc_source_file"),
            col("_sdc_source_lineno"))
      },
      Some("""SELECT doc_id, 'documents.parquet' AS _sdc_source_file,
             |  row_number() OVER (PARTITION BY 'documents.parquet'
             |    ORDER BY doc_id) AS _sdc_source_lineno
             |FROM documents""".stripMargin)),

    "kafka_record_shape" -> QueryDef(
      (s, d) => Sources.kafkaRecordShape(
        events(s, d).select(
          col("props").cast("binary").as("value"),
          (col("user_id") % 8).as("partition"),
          col("event_id").as("offset"),
          col("ts").as("timestamp")),
        Map("pk_k" -> "$.k"))
        .select(col("message"), col("message_partition"),
          col("message_offset"), col("pk_k")),
      Some("""SELECT props AS message, user_id % 8 AS message_partition,
             |  event_id AS message_offset,
             |  json_extract_string(props, '$.k') AS pk_k
             |FROM events""".stripMargin)),

    // ---- batch buffering / dedup / merge ------------------------------

    "pk_dedup_lastwin" -> QueryDef(
      (s, d) => MergeSink.dedupLastWins(
          events(s, d), Seq("user_id"), "event_id")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type"), col("value")),
      Some("""SELECT user_id, event_id AS last_event_id, event_type, value
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY event_id DESC) AS rn FROM events)
             |WHERE rn = 1""".stripMargin)),

    "merge_upsert" -> QueryDef(
      (s, d) => MergeSink.merge(
        targetOrders(s, d), updateOrders(s, d), Seq("o_orderkey")),
      Some("""WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
             |  u AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2))
             |         + CAST(1 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
             |    FROM orders WHERE o_orderkey % 2 = 0)
             |SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey
             |       ELSE t.o_custkey END AS o_custkey,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
             |       ELSE t.o_orderstatus END AS o_orderstatus,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
             |       ELSE t.o_totalprice END AS o_totalprice
             |FROM t FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey"""
        .stripMargin)),

    // partitioned incremental merge: two flushes into a PK-hash-partitioned
    // parquet layout (initial load, then a small update batch that rewrites
    // only the partitions it touches — PartitionedMergeSpec asserts the
    // byte-identity of untouched partitions). Final table state must equal
    // the pure-merge oracle.
    "merge_partitioned_incremental" -> QueryDef(
      (s, d) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-pmerge").toString
        val tablePath = s"$dir/orders_t"
        MergeSink.flushPartitioned(s,
          targetOrders(s, d).withColumn("_seq", lit(1L)),
          tablePath, Seq("o_orderkey"), "_seq", numParts = 16)
        MergeSink.flushPartitioned(s,
          updateOrders(s, d).withColumn("_seq", lit(2L)),
          tablePath, Seq("o_orderkey"), "_seq", numParts = 16)
        s.read.parquet(tablePath)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"))
      },
      Some("""WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
             |  u AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2))
             |         + CAST(1 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
             |    FROM orders WHERE o_orderkey % 2 = 0)
             |SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey
             |       ELSE t.o_custkey END AS o_custkey,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
             |       ELSE t.o_orderstatus END AS o_orderstatus,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
             |       ELSE t.o_totalprice END AS o_totalprice
             |FROM t FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey"""
        .stripMargin)),

    // merge-on-read: base load + delta flush, then readMerged — the
    // broadcast-anti-join view must equal the materialized merge.
    "merge_delta_on_read" -> QueryDef(
      (s, d) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-dmerge").toString
        val t = s"$dir/orders_t"
        DeltaMerge.flushDelta(s,
          targetOrders(s, d).withColumn("_seq", lit(1L)),
          t, Seq("o_orderkey"), "_seq")
        DeltaMerge.flushDelta(s,
          updateOrders(s, d).withColumn("_seq", lit(2L)),
          t, Seq("o_orderkey"), "_seq")
        DeltaMerge.readMerged(s, t, Seq("o_orderkey"), "_seq")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"))
      },
      Some("""WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
             |  u AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2))
             |         + CAST(1 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
             |    FROM orders WHERE o_orderkey % 2 = 0)
             |SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey
             |       ELSE t.o_custkey END AS o_custkey,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
             |       ELSE t.o_orderstatus END AS o_orderstatus,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
             |       ELSE t.o_totalprice END AS o_totalprice
             |FROM t FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey"""
        .stripMargin)),

    "merge_soft_delete" -> QueryDef(
      (s, d) => {
        val tombstones = table(s, d, "orders")
          .filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            lit("D").as("o_orderstatus"), col("o_totalprice"),
            lit("2024-01-01 00:00:00").as("_sdc_deleted_at_str"))
        val tgt = targetOrders(s, d)
          .withColumn("_sdc_deleted_at_str", lit(null).cast("string"))
        MergeSink.merge(tgt, tombstones, Seq("o_orderkey"),
            hardDelete = false, deletedAtCol = "_sdc_deleted_at_str")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("_sdc_deleted_at_str"))
      },
      Some("""WITH t AS (SELECT o_orderkey, o_orderstatus,
             |    NULL AS _sdc_deleted_at_str
             |    FROM orders WHERE o_orderkey % 3 <> 0),
             |  u AS (SELECT o_orderkey, 'D' AS o_orderstatus,
             |    '2024-01-01 00:00:00' AS _sdc_deleted_at_str
             |    FROM orders WHERE o_orderkey % 5 = 0)
             |SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
             |       ELSE t.o_orderstatus END AS o_orderstatus,
             |  CASE WHEN u.o_orderkey IS NOT NULL THEN u._sdc_deleted_at_str
             |       ELSE t._sdc_deleted_at_str END AS _sdc_deleted_at_str
             |FROM t FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey"""
        .stripMargin)),

    "merge_hard_delete" -> QueryDef(
      (s, d) => {
        val tombstones = table(s, d, "orders")
          .filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            lit("D").as("o_orderstatus"), col("o_totalprice"),
            lit("2024-01-01 00:00:00").as("_sdc_deleted_at_str"))
        val tgt = targetOrders(s, d)
          .withColumn("_sdc_deleted_at_str", lit(null).cast("string"))
        MergeSink.merge(tgt, tombstones, Seq("o_orderkey"),
            hardDelete = true, deletedAtCol = "_sdc_deleted_at_str")
          .select(col("o_orderkey"), col("o_orderstatus"))
      },
      Some("""WITH t AS (SELECT o_orderkey, o_orderstatus
             |    FROM orders WHERE o_orderkey % 3 <> 0)
             |SELECT o_orderkey, o_orderstatus FROM t
             |WHERE o_orderkey % 5 <> 0""".stripMargin)),

    "append_no_pk" -> QueryDef(
      (s, d) => {
        val a = table(s, d, "nation").select(col("n_nationkey"),
          col("n_name"), lit("batch_1").as("_sdc_batch"))
        val b = table(s, d, "nation").select(col("n_nationkey"),
          col("n_name"), lit("batch_2").as("_sdc_batch"))
        // no-PK streams must NOT dedup: both copies survive
        MergeSink.append(a, b)
      },
      Some("""SELECT n_nationkey, n_name, 'batch_1' AS _sdc_batch FROM nation
             |UNION ALL
             |SELECT n_nationkey, n_name, 'batch_2' AS _sdc_batch FROM nation"""
        .stripMargin)),

    "partial_sync_range" -> QueryDef(
      (s, d) => {
        // ranged re-sync: rows inside [start,end] replaced by source truth
        // (orders: o_orderkey is the genuine PK of the synthetic data)
        val o = table(s, d, "orders").select(col("o_orderkey"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
        val target = o.withColumn("o_totalprice",
          col("o_totalprice") + 1000.0)
        val range = o.filter(col("order_date")
          .between("1996-01-01", "1996-12-31"))
        val merged = MergeSink.merge(target, range, Seq("o_orderkey"))
        merged.filter(col("order_date").between("1996-01-01", "1996-12-31"))
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
             |FROM orders
             |WHERE strftime(o_orderdate, '%Y-%m-%d')
             |  BETWEEN '1996-01-01' AND '1996-12-31'""".stripMargin)),

    // row-count / size statistics (pipelinewise/utils.py:24-100
    // get_tables_size; the resync size guard's input)
    "table_row_stats" -> QueryDef(
      (s, d) => table(s, d, "orders").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_customers"),
        dsum(col("o_totalprice")).as("total_value")),
      Some("""SELECT count(*) AS n_rows,
             |  count(DISTINCT o_custkey) AS n_customers,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_value
             |FROM orders""".stripMargin)),

    // ---- schema evolution ---------------------------------------------

    "schema_evolution_add_column" -> QueryDef(
      (s, d) => {
        val oldBatch = table(s, d, "supplier")
          .select(col("s_suppkey"), col("s_name"))
        val newBatch = table(s, d, "supplier")
          .filter(col("s_suppkey") % 2 === 0)
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        // target grows the new column; untouched rows read NULL; columns
        // are never dropped
        MergeSink.merge(oldBatch, newBatch, Seq("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name,
             |  CASE WHEN s_suppkey % 2 = 0 THEN s_acctbal
             |       ELSE NULL END AS s_acctbal
             |FROM supplier""".stripMargin)),

    "schema_evolution_version_column" -> QueryDef(
      (s, d) => {
        val target = table(s, d, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        // incoming batch re-types s_acctbal double -> string
        val incoming = table(s, d, "supplier")
          .filter(col("s_suppkey") % 2 === 0)
          .select(col("s_suppkey"), col("s_name"),
            dec(col("s_acctbal")).cast("string").as("s_acctbal"))
        val evolved = MergeSink.evolveTarget(target, incoming.schema, "v1")
        MergeSink.merge(evolved, incoming, Seq("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name, s_acctbal AS s_acctbal_v1,
             |  CASE WHEN s_suppkey % 2 = 0
             |       THEN CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR)
             |       ELSE NULL END AS s_acctbal
             |FROM supplier""".stripMargin)),

    // ---- CDC / log-based ----------------------------------------------

    "cdc_apply_changelog" -> QueryDef(
      (s, d) => {
        // events as a change log keyed by user_id: signup=insert,
        // click/view/purchase=update, error=delete tombstone;
        // last-write-wins by (ts, event_id), hard-delete tombstones.
        val log = events(s, d).withColumn("op",
          when(col("event_type") === "signup", "c")
            .when(col("event_type") === "error", "d").otherwise("u"))
        val applied = MergeSink.dedupLastWins(log, Seq("user_id"), "event_id")
        applied.filter(col("op") =!= "d")
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("op"), col("value"))
      },
      Some("""WITH log AS (SELECT *, CASE WHEN event_type = 'signup' THEN 'c'
             |    WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
             |  FROM events),
             |  applied AS (SELECT *, row_number() OVER (
             |    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM log)
             |SELECT user_id, event_id AS last_event_id, op, value
             |FROM applied WHERE rn = 1 AND op <> 'd'""".stripMargin)),

    // wal2json v2 protocol decode: render the events table as raw wal2json
    // action lines (I/U/D + B/C/M/T noise + a non-selected table), decode
    // with Wal2Json.decode, replay through the same last-write-wins merge.
    // Final state must equal cdc_apply_changelog's — the decode layer is
    // the only thing under test, so the oracle is the same changelog SQL.
    "cdc_wal2json_decode" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val iu = """{"action":"%s","schema":"public","table":"events",""" +
          """"columns":[{"name":"user_id","type":"bigint","value":%s},""" +
          """{"name":"event_id","type":"bigint","value":%s},""" +
          """{"name":"value","type":"double precision","value":%s}]}"""
        val del = """{"action":"D","schema":"public","table":"events",""" +
          """"identity":[{"name":"user_id","type":"bigint","value":%s},""" +
          """{"name":"event_id","type":"bigint","value":%s}]}"""
        val payload =
          when(col("event_type") === "signup",
            format_string(iu, lit("I"), col("user_id"), col("event_id"),
              col("value")))
          .when(col("event_type") === "error",
            format_string(del, col("user_id"), col("event_id")))
          .otherwise(
            format_string(iu, lit("U"), col("user_id"), col("event_id"),
              col("value")))
        // Materialize the rendered lines before handing them to the
        // decoder (r20). Two reasons, both measured on the executed
        // plan: (1) the decoder's scan-level prefilter + header filter
        // are string predicates on the payload column, and predicate
        // pushdown INLINES a lazily-rendered payload into every
        // conjunct — the pre-r20 plan evaluated the format_string
        // render up to 9x per row; (2) in production the wal2json
        // lines ARRIVE materialized (slot segments / socket buffers —
        // exactly what cdc_slot_drain feeds the same decoder), so a
        // plain string column is the shape the decode layer is
        // contracted for. The render is repartitioned off the
        // single-file scan so it runs cluster-wide, and stays inside
        // the measured region: every pass still pays render + decode +
        // merge, each exactly once.
        // persist, not localCheckpoint (r21): the checkpoint's RDD
        // blocks were invisible to spark.catalog.clearCache() and were
        // never released — 4 fixture-sized checkpoint RDDs accumulated
        // per bench run. A persisted frame gives the decoder the same
        // materialized plain string column (predicates filter the cached
        // batches; the render is NOT re-inlined into pushed-down
        // conjuncts), fills once per pass inside the measured region,
        // and releases with the result below.
        val rowLines = events(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("event_id").as("lsn"), payload.as("payload"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // protocol noise the decoder must skip: tx wrappers, a logical
        // message, a truncate, and a row action for a non-selected table
        val noise = Seq(
          (-5L, """{"action":"B"}"""),
          (-4L, """{"action":"M","prefix":"x","content":"ignored"}"""),
          (-3L, """{"action":"I","schema":"public","table":"audit","columns":[{"name":"id","type":"bigint","value":1}]}"""),
          (-2L, """{"action":"T","schema":"public","table":"events"}"""),
          (-1L, """{"action":"C"}""")).toDF("lsn", "payload")
        val rowSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType)))
        val decoded = Wal2Json.decode(rowLines.unionByName(noise),
          "payload", "lsn", "public", "events", rowSchema)
        val applied = MergeSink.dedupLastWins(decoded, Seq("user_id"),
          "_sdc_lsn")
        // eager-materialize the (user-level, small) result and release
        // the rendered-lines cache with it
        graft.operators.Dedup.releaseAfter(
          applied.filter(col("op") =!= "d")
            .select(col("user_id"), col("event_id").as("last_event_id"),
              col("op"), col("value")), rowLines)
      },
      Some("""WITH log AS (SELECT *, CASE WHEN event_type = 'signup' THEN 'c'
             |    WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
             |  FROM events),
             |  applied AS (SELECT *, row_number() OVER (
             |    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM log)
             |SELECT user_id, event_id AS last_event_id, op, value
             |FROM applied WHERE rn = 1 AND op <> 'd'""".stripMargin)),

    // the END-TO-END slot drain (r18): the same rendered wal2json
    // changelog LANDED as LSN-ordered slot segments, drained through
    // the WalTail replication-slot source (AvailableNow, multi-batch
    // admission) into the partitioned merge, and the MERGED TABLE read
    // back. Where cdc_wal2json_decode proves the decode layer and the
    // WalTail specs prove the slot mechanics, this row puts the whole
    // chain — segment listing, LSN offsets, per-batch decode+merge,
    // send_feedback — under the driver's hard hash gate (reference
    // semantics: logical_replication.py:577-737 consume loop feeding
    // consume_message:380-497). The slot file's final LSN is asserted
    // in-query: a drain that left feedback behind fails the row, it
    // does not quietly pass. `op` is not in the output (the merge
    // envelope drops it after tombstone routing); segments + merged
    // table are cleaned up after the result is materialized.
    "cdc_slot_drain" -> QueryDef(
      (s, d) => slotDrainResult(s, d, flush = "merge"),
      Some("""WITH log AS (SELECT *, CASE WHEN event_type = 'signup' THEN 'c'
             |    WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
             |  FROM events),
             |  applied AS (SELECT *, row_number() OVER (
             |    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM log)
             |SELECT user_id, event_id AS last_event_id, value
             |FROM applied WHERE rn = 1 AND op <> 'd'""".stripMargin)),

    // the same end-to-end slot drain under the MERGE-ON-READ flush
    // (r18): `flush = delta` writes one O(batch) delta file per
    // micro-batch (the sub-minute-trigger spelling StressWalTail's A/B
    // measured staying flat as the table grows) and the readback is
    // DeltaMerge.readMerged — base scanned once, delta winners
    // broadcast into an anti-join. Same oracle as cdc_slot_drain: the
    // two flush modes must land the identical end state, and this row
    // makes that equality a hard hash gate instead of a spec assertion.
    "cdc_slot_drain_delta" -> QueryDef(
      (s, d) => slotDrainResult(s, d, flush = "delta"),
      Some("""WITH log AS (SELECT *, CASE WHEN event_type = 'signup' THEN 'c'
             |    WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
             |  FROM events),
             |  applied AS (SELECT *, row_number() OVER (
             |    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM log)
             |SELECT user_id, event_id AS last_event_id, value
             |FROM applied WHERE rn = 1 AND op <> 'd'""".stripMargin)),

    // composed pipeline #6 — CDC to fresh rollup: raw wal2json lines in,
    // MAINTAINED reporting rollup out, no fact-table re-scan. The events
    // history splits into a base snapshot (current-state table + its
    // sum/count rollup) and a WAL tail (every 4th event, re-numbered
    // after all base LSNs, exactly the replication-slot contract that
    // the WAL strictly follows the snapshot). The tail flows
    // Wal2Json.decode -> StreamingMerge.applyEnvelope (tombstones) ->
    // per-PK effective change -> IncrementalAgg.maintainSumCount, and
    // the oracle recomputes the rollup from scratch over the FINAL row
    // set — proving decoded-CDC maintenance ≡ recompute, entered from
    // raw protocol bytes instead of synthetic deltas.
    // Scale shape: decode is codegen'd in the scan stage; the change
    // batch aggregates to |touched users| rows; the only fact-sized
    // input is the base state the merge already owns.
    "pipeline_cdc_rollup" -> QueryDef(
      (s, d) => {
        import graft.operators.IncrementalAgg
        import graft.streaming.StreamingMerge
        val iu = """{"action":"%s","schema":"public","table":"events",""" +
          """"columns":[{"name":"user_id","type":"bigint","value":%s},""" +
          """{"name":"event_id","type":"bigint","value":%s},""" +
          """{"name":"value","type":"double precision","value":%s}]}"""
        val del = """{"action":"D","schema":"public","table":"events",""" +
          """"identity":[{"name":"user_id","type":"bigint","value":%s},""" +
          """{"name":"event_id","type":"bigint","value":%s}]}"""
        val LsnShift = 1000000000000L
        val ev = events(s, d)
        val op = when(col("event_type") === "signup", "c")
          .when(col("event_type") === "error", "d").otherwise("u")
        // base snapshot: changelog applied -> current state + its rollup
        val baseState = MergeSink.dedupLastWins(
            ev.filter(col("event_id") % 4 =!= 0).withColumn("op", op),
            Seq("user_id"), "event_id")
          .filter(col("op") =!= "d")
          .select(col("user_id"), (col("user_id") % 10).as("cohort"),
            col("value"))
        val r0 = IncrementalAgg.sumCountRollup(baseState, Seq("cohort"),
          col("value"))
        // WAL tail: raw wal2json lines, LSNs strictly after the snapshot
        val payload =
          when(col("event_type") === "signup",
            format_string(iu, lit("I"), col("user_id"), col("event_id"),
              col("value")))
          .when(col("event_type") === "error",
            format_string(del, col("user_id"), col("event_id")))
          .otherwise(
            format_string(iu, lit("U"), col("user_id"), col("event_id"),
              col("value")))
        val lines = ev.filter(col("event_id") % 4 === 0)
          .select((col("event_id") + LsnShift).as("lsn"),
            payload.as("payload"))
        val rowSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType)))
        val decoded = Wal2Json.decode(lines, "payload", "lsn", "public",
          "events", rowSchema)
        // envelope (op=d -> tombstone), then the per-PK effective change
        val batchEff = MergeSink.dedupLastWins(
          StreamingMerge.applyEnvelope(decoded), Seq("user_id"),
          "_sdc_lsn")
        // maintenance deltas: every touched user's old row leaves the
        // rollup; surviving (non-tombstone) winners enter it
        val inserted = batchEff.filter(col("_sdc_deleted_at").isNull)
          .select((col("user_id") % 10).as("cohort"), col("value"))
        val deleted = baseState
          .join(batchEff.select("user_id"), Seq("user_id"), "left_semi")
          .select(col("cohort"), col("value"))
        IncrementalAgg.maintainSumCount(r0, inserted, deleted,
            Seq("cohort"), col("value"))
          .select(col("cohort"), col("n_rows"), col("n_vals"),
            col("sum_val").cast("double").as("sum_val"))
      },
      // from-scratch recompute over the FINAL row set: last-write-wins
      // over the whole (re-numbered) changelog, tombstones dropped
      Some("""WITH log AS (SELECT user_id, value,
             |    CASE WHEN event_type = 'signup' THEN 'c'
             |      WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
             |    CASE WHEN event_id % 4 = 0
             |      THEN event_id + 1000000000000 ELSE event_id END AS lsn
             |  FROM events),
             |applied AS (SELECT *, row_number() OVER (
             |    PARTITION BY user_id ORDER BY lsn DESC) AS rn FROM log),
             |final AS (SELECT user_id, value FROM applied
             |  WHERE rn = 1 AND op <> 'd')
             |SELECT user_id % 10 AS cohort, count(*) AS n_rows,
             |  count(CAST(value AS DECIMAL(18,2))) AS n_vals,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_val
             |FROM final GROUP BY 1""".stripMargin)),

    // MySQL binlog row-event decode: same replay, rendered as landed
    // write_rows/update_rows/delete_rows events (multi-row-capable,
    // (log_file, log_pos, row_idx) total order, tombstone timestamps).
    "cdc_binlog_decode" -> QueryDef(
      (s, d) => {
        val write = """{"event_type":"write_rows","schema":"db","table":"events","timestamp":"2024-06-01T00:00:00Z","log_file":"mysql-bin.000001","log_pos":%s,"rows":[{"values":{"user_id":%s,"event_id":%s,"value":%s}}]}"""
        val update = """{"event_type":"update_rows","schema":"db","table":"events","timestamp":"2024-06-01T00:00:00Z","log_file":"mysql-bin.000001","log_pos":%s,"rows":[{"before_values":{"user_id":%s,"event_id":%s,"value":0},"after_values":{"user_id":%s,"event_id":%s,"value":%s}}]}"""
        val del = """{"event_type":"delete_rows","schema":"db","table":"events","timestamp":"2024-06-01T00:00:00Z","log_file":"mysql-bin.000001","log_pos":%s,"rows":[{"values":{"user_id":%s,"event_id":%s}}]}"""
        val payload =
          when(col("event_type") === "signup",
            format_string(write, col("event_id"), col("user_id"),
              col("event_id"), col("value")))
          .when(col("event_type") === "error",
            format_string(del, col("event_id"), col("user_id"),
              col("event_id")))
          .otherwise(
            format_string(update, col("event_id"), col("user_id"),
              col("event_id"), col("user_id"), col("event_id"),
              col("value")))
        val lines = events(s, d).select(payload.as("payload"))
        val rowSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType)))
        val decoded = BinlogRows.decode(lines, "payload", "db", "events",
          rowSchema)
        val applied = MergeSink.dedupLastWins(decoded, Seq("user_id"),
          "_binlog_seq")
        applied.filter(col("op") =!= "d")
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("op"), col("value"))
      },
      Some("""WITH log AS (SELECT *, CASE WHEN event_type = 'signup' THEN 'c'
             |    WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
             |  FROM events),
             |  applied AS (SELECT *, row_number() OVER (
             |    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM log)
             |SELECT user_id, event_id AS last_event_id, op, value
             |FROM applied WHERE rn = 1 AND op <> 'd'""".stripMargin))
  )
}
