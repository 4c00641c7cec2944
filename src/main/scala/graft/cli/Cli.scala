package graft.cli

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.catalog.Discovery
import graft.planner.Planner
import graft.spec._
import graft.state.Bookmarks

/** Engine CLI — the `pipelinewise <command>` surface
  * (pipelinewise/cli/__init__.py:31-45) re-expressed over Spark jobs:
  *
  *   discover    <sourceDir> <streams...>          — schema/stat catalog
  *   run         <pipeline.json>                   — sync all streams
  *   sync_tables <pipeline.json> <tables...>       — forced resync
  *   partial_sync <pipeline.json> <table> <col> <start> <end>
  *   reset_state <pipeline.json> [streams...]      — clear bookmarks
  *   status      <pipeline.json>                   — bookmark + table state
  *   validate    <pipeline.json>                   — `import` compile check
  *   init        <dir>                             — scaffold sample project
  *   test_tap_connection <pipeline.json>           — can the tap read?
  *   stop_tap    <pipeline.json>                   — graceful stop marker
  *   encrypt_string / decrypt_string <value>       — config vault
  *
  * The pipeline JSON mirrors the reference's per-tap config: streams with
  * table, PKs, replication method/key, transformations.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    // GRAFT_MASTER points the CLI at a cluster; unset, it runs locally
    val b = graft.Sessions.builder().appName("graft-cli")
    sys.env.get("GRAFT_MASTER").foreach(b.master)
    val spark = graft.Sessions.start(b)
    // the graft_* SQL surface is part of the product: any spark.sql a
    // CLI-driven pipeline runs sees the same deterministic primitives
    graft.functions.GraftFunctions.register(spark)
    try run(spark, args.toSeq)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("discover", sourceDir, streams @ _*) =>
      streams.foreach { s =>
        val d = Discovery.parquetStream(spark, s, s"$sourceDir/$s.parquet")
        println(s"$s: rows=${d.rowCount} schema=${d.schema.simpleString}")
      }
    case Seq("run", specPath) =>
      val p = loadSpec(specPath)
      Planner.run(spark, p, t => sourcePathFor(p, t))
      println(s"run complete: ${p.streams.size} stream(s)")
    case Seq("sync_tables", specPath, tables @ _*) =>
      val p = loadSpec(specPath)
      // forced resync = clear bookmarks for those tables, then run
      val names = p.streams.filter(s => tables.contains(s.table)).map(_.name)
      Bookmarks.load(p.statePath).cleared(names).save(p.statePath)
      val sub = p.copy(streams = p.streams.filter(s =>
        tables.contains(s.table)))
      Planner.run(spark, sub, t => sourcePathFor(p, t))
      println(s"resynced: ${tables.mkString(",")}")
    case Seq("partial_sync", specPath, table, column, start, end) =>
      val p = loadSpec(specPath)
      val stream = p.streams.find(_.table == table).getOrElse(
        sys.error(s"unknown table $table"))
      Planner.partialSync(spark, p, stream, sourcePathFor(p, table),
        column, start, end)
      println(s"partial sync done: $table $column in [$start, $end]")
    case Seq("reset_state", specPath, streams @ _*) =>
      val p = loadSpec(specPath)
      val st = Bookmarks.load(p.statePath)
      val cleared =
        if (streams.isEmpty) Bookmarks.empty else st.cleared(streams)
      cleared.save(p.statePath)
      println(s"state reset: ${if (streams.isEmpty) "all" else streams.mkString(",")}")
    case Seq("status", specPath) =>
      val p = loadSpec(specPath)
      val st = Bookmarks.load(p.statePath)
      p.streams.foreach { s =>
        val bm = st.get(s.name).map(_.toString).getOrElse("<no bookmark>")
        val sz = Discovery.tableSizeMb(spark, s"${p.targetPath}/${s.table}")
        println(s"${s.name}: method=${s.replicationMethod} " +
          s"target=${sz}MB bookmark=$bm")
      }
    case Seq("validate", specPath) =>
      // `pipelinewise validate`/`import` compile step: parse + per-stream
      // constraint check; non-zero exit on the first violation
      val p = loadSpec(specPath)
      val errors = p.streams.flatMap { s =>
        try { s.validate(); None }
        catch { case e: Exception => Some(s"${s.name}: ${e.getMessage}") }
      }
      if (errors.isEmpty) println(s"valid: ${p.streams.size} streams")
      else { errors.foreach(System.err.println); sys.error("invalid spec") }
    case Seq("import_project", dir) =>
      // reference `import`: compile the YAML project (tap_*.yml joined
      // with target_*.yml, vault values resolved) and validate every
      // stream; config.yml's alert_handlers are validated against the
      // registry at the same time
      val specs = YamlProject.importProject(dir)
      val handlers = YamlProject.loadAlertHandlers(dir)
      handlers.keys.foreach { t =>
        if (!graft.planner.Alerts.DefaultRegistry.contains(t))
          System.err.println(s"warning: alert handler '$t' has no " +
            "built-in implementation (plug one in via Alerts.registryWith)")
      }
      specs.foreach(p =>
        println(s"${p.id}: ${p.streams.size} streams -> ${p.targetPath}"))
      println(s"imported ${specs.size} pipeline(s), " +
        s"${handlers.size} alert handler(s)")
    case Seq("run_project", dir) =>
      // reference `run_tap` over an imported project: every compiled
      // pipeline runs with config.yml's alert handlers and per-stream
      // status logs under <dir>/.logs (commands.py's .running/.failed/
      // .success lifecycle)
      val sender = new graft.planner.Alerts.AlertSender(
        YamlProject.loadAlertHandlers(dir))
      YamlProject.importProject(dir).foreach { p =>
        val st = Planner.run(spark, p, t => sourcePathFor(p, t),
          onError = graft.planner.Alerts.onError(sender),
          logDir = Some(s"$dir/.logs"))
        println(s"${p.id}: ${st.bookmarks.size} bookmarks")
      }
    case Seq("init", dir) =>
      // scaffold a runnable sample pipeline (reference `init` sample project)
      val sample =
        s"""{
           |  "id": "sample",
           |  "source_dir": "$dir/source",
           |  "target_path": "$dir/target",
           |  "state_path": "$dir/state.json",
           |  "streams": [
           |    {"name": "sample-t", "table": "t",
           |     "key_properties": ["id"],
           |     "replication_method": "INCREMENTAL",
           |     "replication_key": "seq"}
           |  ]
           |}""".stripMargin
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/pipeline.json"), sample)
      println(s"wrote $dir/pipeline.json")
    case Seq("test_tap_connection", specPath) =>
      // reference test_tap_connection: can the tap actually read?
      val p = loadSpec(specPath)
      val failures = p.streams.flatMap { s =>
        val path = sourcePathFor(p, s.table)
        try { spark.read.parquet(path).schema; None }
        catch { case e: Exception =>
          Some(s"${s.name}: cannot read $path (${e.getMessage.linesIterator.next()})")
        }
      }
      if (failures.isEmpty) println(s"ok: ${p.streams.size} streams readable")
      else { failures.foreach(System.err.println)
        sys.error("connection test failed") }
    case Seq("stop_tap", specPath) =>
      // graceful-stop marker: Planner.run checks it before each stream
      val p = loadSpec(specPath)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(Planner.stopMarkerPath(p)), "stop")
      println(s"stop requested for ${p.id}")
    case Seq("encrypt_string", plain) =>
      println(Vault.encrypt(plain,
        sys.env.getOrElse("GRAFT_VAULT_SECRET",
          sys.error("set GRAFT_VAULT_SECRET"))))
    case Seq("decrypt_string", vaulted) =>
      println(Vault.resolve(vaulted))
    case other =>
      usage(); sys.error(s"unknown command: ${other.headOption.getOrElse("")}")
  }

  private def usage(): Unit = System.err.println(
    """usage: graft.cli.Cli <command> ...
      |  discover <sourceDir> <streams...>
      |  run <pipeline.json>
      |  sync_tables <pipeline.json> <tables...>
      |  partial_sync <pipeline.json> <table> <column> <start> <end>
      |  reset_state <pipeline.json> [streams...]
      |  status <pipeline.json>
      |  validate <pipeline.json>
      |  import_project <yaml project dir>   (GRAFT_VAULT_SECRET for vaulted values)
      |  run_project <yaml project dir>      (alerts from config.yml, logs in .logs/)
      |  init <dir>
      |  test_tap_connection <pipeline.json>
      |  stop_tap <pipeline.json>
      |  encrypt_string <plain>     (GRAFT_VAULT_SECRET)
      |  decrypt_string <vaulted>   (GRAFT_VAULT_SECRET)""".stripMargin)

  private def sourcePathFor(p: PipelineSpec, table: String): String =
    s"${sourceDir(p)}/$table.parquet"

  private def sourceDir(p: PipelineSpec): String =
    sys.env.get("GRAFT_SOURCE_DIR").orElse(p.sourceDir).getOrElse(p.id)

  /** Parse the pipeline spec JSON (the engine's `import` compile step,
    * SURVEY.md §3.1; validation happens in StreamSpec.validate).
    */
  def loadSpec(path: String): PipelineSpec = {
    val j = JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)))
    implicit val fmt: Formats = DefaultFormats
    def str(v: JValue, f: String): Option[String] =
      (v \ f) match { case JString(s) => Some(s); case _ => None }
    val streams = (j \ "streams") match {
      case JArray(items) => items.map { s =>
        val transformations = (s \ "transformations") match {
          case JArray(ts) => ts.map { t =>
            val conds = (t \ "when") match {
              case JArray(cs) => cs.map { c =>
                TransformCondition(
                  str(c, "column").getOrElse(sys.error("condition column")),
                  str(c, "equals"), str(c, "regex_match"))
              }
              case _ => Nil
            }
            Transformation(
              str(t, "field_id").getOrElse(sys.error("field_id")),
              str(t, "type").getOrElse(sys.error("type")), conds)
          }
          case _ => Nil
        }
        val pks = (s \ "key_properties") match {
          case JArray(ks) => ks.collect { case JString(k) => k }
          case _ => Nil
        }
        val sel = (s \ "selected_columns") match {
          case JArray(cs) => Some(cs.collect { case JString(c) => c })
          case _ => None
        }
        StreamSpec(
          str(s, "name").getOrElse(sys.error("stream name")),
          str(s, "table").getOrElse(sys.error("stream table")),
          pks,
          ReplicationMethod.parse(
            str(s, "replication_method").getOrElse("FULL_TABLE")),
          str(s, "replication_key"), sel, transformations)
      }
      case _ => Nil
    }
    val spec = PipelineSpec(
      str(j, "id").getOrElse("pipeline"),
      streams,
      str(j, "target_path").getOrElse(sys.error("target_path")),
      str(j, "state_path").getOrElse(sys.error("state_path")),
      sourceDir = str(j, "source_dir"),
      hardDelete = (j \ "hard_delete") == JBool(true))
    spec.streams.foreach(_.validate())
    spec
  }
}
