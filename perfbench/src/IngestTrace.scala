package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest._

/** The ingest layers of one traced dump + update cycle.
  *
  * Each load is the real `NcdIngest.loadZip`, timed as one span. What it hands
  * to Spark is attributed from the [[Counters]] listener: JSON and parquet
  * writes by file format, and DDL commands, each with its table. The work
  * `loadZip` does on the driver between those (ZipSource extraction, the four
  * parsers, building the decode plan) cannot be timed from outside it. So
  * after each load, outside its span, a probe calls the same public functions
  * on the same zip: it extracts every member, parses the schemas and string
  * tables, builds each normal table's unioned decode frame, runs that frame
  * through the noop sink and counts its rows, redacted cells and
  * null-on-error cells.
  *
  * The probe's frame is built the way `NcdIngest.loadNormalTable` builds it.
  * So that the two cannot drift apart unnoticed, each frame's columns are
  * checked against the table the load registered, and a dump's counts against
  * the release manifest; any difference lands in [[problems]].
  */
final class IngestTrace(spark: SparkSession, tracer: Tracer, counters: Counters) {
  private val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  /** Reasons the probe's view differs from the load's or the manifest's. */
  val problems: mutable.Buffer[String] = mutable.Buffer.empty

  private def add(k: String, v: Double): Unit = totals(k) += v

  private def timed[T](span: String, metric: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(span)(body) finally add(metric, (System.nanoTime() - t0) / 1e9)
  }

  /** Load one zip with `ingest.loadZip`, attribute its Spark work, then probe
    * the zip. `expected` is the manifest state a dump must decode to. Returns
    * the load's wall seconds.
    */
  def loadZip(ingest: NcdIngest, zipPath: String, expected: Option[State]): Double = {
    val ddl0 = ingest.ddlLog.size
    val loaded0 = ingest.loaded.size
    val before = counters.snapshot(spark)
    val t0 = System.nanoTime()
    tracer.span("ingest.NcdIngest.loadZip")(ingest.loadZip(zipPath))
    val seconds = (System.nanoTime() - t0) / 1e9
    val d = counters.snapshot(spark) - before
    val executions = counters.executionsSince(before.executions)
    add("spark.codegen.compiles", d.codegenCompiles.toDouble)
    add("spark.codegen.compile_s", d.codegenNanos / 1e9)
    add("ingest.Sink.ddl_statements", (ingest.ddlLog.size - ddl0).toDouble)

    val normal = probe(zipPath, expected)
    val strings = ingest.loaded.drop(loaded0).map(_.toLowerCase).toSet -- normal
    add("ingest.NcdIngest.string_tables", strings.size.toDouble)
    executions.foreach { e =>
      val s = e.execMs / 1e3
      e.kind match {
        case "json" =>
          add("json_write_s", s)
          add("ingest.Sink.json_bytes_out", e.outputBytes.toDouble)
          add("ingest.Sink.json_files", e.outputFiles.toDouble)
        case "parquet" =>
          add("ingest.Sink.parquet_s", s)
          add("ingest.Sink.parquet_bytes_out", e.outputBytes.toDouble)
        case "ddl" => add("ingest.Sink.ddl_s", s)
        case _ =>
      }
      if (strings(e.table) && (e.kind == "json" || e.kind == "ddl"))
        add("ingest.NcdIngest.string_tables_s", s)
    }
    seconds
  }

  /** The cycle's per-layer metrics. The JSON writer's self time is its
    * writes' time minus the decode those writes drive.
    */
  def metrics: Seq[(String, Double)] = {
    val names = Seq("ingest.ZipSource.extract_s", "ingest.ZipSource.bytes_extracted",
      "ingest.parse_s", "ingest.FixedWidth.plan_s", "ingest.FixedWidth.decode_s",
      "ingest.FixedWidth.tasks", "spark.codegen.compiles", "spark.codegen.compile_s",
      "ingest.FixedWidth.rows", "ingest.FixedWidth.null_on_error_cells",
      "ingest.FixedWidth.redacted_cells", "ingest.Sink.json_bytes_out", "ingest.Sink.json_files",
      "ingest.Sink.parquet_s", "ingest.Sink.parquet_bytes_out", "ingest.Sink.ddl_s",
      "ingest.Sink.ddl_statements", "ingest.NcdIngest.string_tables_s",
      "ingest.NcdIngest.string_tables")
    names.map(n => n -> totals(n)) :+
      ("ingest.Sink.json_s" -> (totals("json_write_s") - totals("ingest.FixedWidth.decode_s")))
  }

  /** Probe one zip; returns the (lower-cased) names of its normal tables. */
  private def probe(zipPath: String, expected: Option[State]): Set[String] = {
    val zip = new ZipSource(zipPath)
    val scratch = Files.createTempDirectory("ncd_probe_")
    def read(member: String, charset: String): String =
      timed("ingest.ZipSource.extract", "ingest.ZipSource.extract_s") {
        val s = zip.readMember(member, charset)
        add("ingest.ZipSource.bytes_extracted", zip.memberSize(member).toDouble); s
      }
    def parse[T](body: => T): T = timed("ingest.parse", "ingest.parse_s")(body)
    try {
      val schemas =
        if (zip.hasMember("README.TXT")) {
          val text = read("README.TXT", "ISO-8859-1")
          parse(SchemaParser.parse(text))
        } else Map.empty[String, TableSpec]
      // the release is far below NcdIngest's driver-side size gate, so
      // loadGlobalTables splits global_LIONS.txt on the driver, as here
      if (zip.hasMember("global_LIONS.txt")) {
        val text = read("global_LIONS.txt", "UTF-8")
        parse(GlobalSplitter.split(text).values.foreach(RulerParser.parse))
      }
      zip.memberNames.filter(_.startsWith("table_gs_")).sorted.foreach { m =>
        val text = read(m, "ISO-8859-1")
        parse(LookupParser.parseTable(text))
      }
      val decoded = schemas.keys.toSeq.sorted.flatMap(n => decode(zip, schemas(n), scratch))
      for (s <- expected) {
        val want = Seq(s.caseRows + s.histRows,
          s.caseCounts.redacted.sum + s.histCounts.redacted.sum,
          s.caseCounts.nullOnError.sum + s.histCounts.nullOnError.sum)
        val got = Seq("rows", "redacted_cells", "null_on_error_cells")
          .map(k => decoded.map(_._2(k)).sum)
        if (got != want) problems += s"dump decodes to $got (rows, redacted, null-on-error), manifest says $want"
      }
      decoded.map(_._1.toLowerCase).toSet
    } finally {
      zip.close()
      Main.deleteTree(scratch)
    }
  }

  /** One normal table as `NcdIngest.loadNormalTable` decodes it: every member
    * through `FixedWidth.read`, tagged with its district when the table is
    * split, unioned. Returns the table name and its data-quality counts.
    */
  private def decode(zip: ZipSource, spec: TableSpec, scratch: Path): Option[(String, Map[String, Long])] = {
    val files = zip.dataFilesFor(spec.name)
    if (files.isEmpty) return None
    val isPartitioned = !files.keySet.contains(None)
    val paths = files.toSeq.sortBy(_._1).map { case (district, member) =>
      district -> timed("ingest.ZipSource.extract", "ingest.ZipSource.extract_s") {
        val p = zip.extractMember(member, scratch)
        add("ingest.ZipSource.bytes_extracted", Files.size(p).toDouble); p
      }
    }
    val frame = timed("ingest.FixedWidth.plan", "ingest.FixedWidth.plan_s") {
      val u = paths.map { case (district, path) =>
        val df = FixedWidth.read(spark, path.toString, spec)
        district match {
          case Some(d) if isPartitioned => df.withColumn("filename_district", lit(d))
          case _ => df
        }
      }.reduce(_ unionByName _)
      u.queryExecution.executedPlan
      u
    }
    val before = counters.snapshot(spark)
    timed("ingest.FixedWidth.decode", "ingest.FixedWidth.decode_s") {
      frame.write.format("noop").mode("overwrite").save()
    }
    add("ingest.FixedWidth.tasks", (counters.snapshot(spark) - before).tasks.toDouble)

    def columns(df: DataFrame) = df.schema.map(f => f.name.toLowerCase -> f.dataType.sql)
    val loaded = columns(spark.table(s"ncd.${spec.name}"))
    if (columns(frame) != loaded)
      problems += s"${spec.name}: probe frame ${columns(frame)} is not the loaded table $loaded"
    Some(spec.name -> tracer.span("trace.quality")(quality(frame, spec)))
  }

  /** Rows, redacted cells and null-on-error cells of one decoded frame. */
  private def quality(df: DataFrame, spec: TableSpec): Map[String, Long] = {
    val names = spec.fields.map(_.name)
    val aggs = count(lit(1)) +: names.flatMap { c =>
      Seq(count_if(col(s"redacted_$c")), count_if(col(c).isNull && !col(s"redacted_$c")))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val counts = Map("rows" -> r.getLong(0),
      "redacted_cells" -> names.indices.map(i => r.getLong(1 + 2 * i)).sum,
      "null_on_error_cells" -> names.indices.map(i => r.getLong(2 + 2 * i)).sum)
    add("ingest.FixedWidth.rows", counts("rows").toDouble)
    add("ingest.FixedWidth.redacted_cells", counts("redacted_cells").toDouble)
    add("ingest.FixedWidth.null_on_error_cells", counts("null_on_error_cells").toDouble)
    counts
  }
}
