package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.ingest.NcdIngest
import graft.query.QueryClient

/** The benchmark's entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload ingest_release|query_mix --seed N --seconds S --trace 0|1
  *      --work DIR --expected FILE --data DIR
  * }}}
  *
  * `--expected` is `expected_catalog.tsv` and `--data` the directory of the
  * test tables its catalog entries read.
  *
  * Prints one JSON headline as the last stdout line and writes the full
  * record (samples, spans, per-layer numbers) under `DIR/records/`.
  */
object Main {
  /** Release sizes: GS_CASE rows of the dump and its district members.
    * A cold load costs about 0.5 s per district member on 4 cores, so
    * ingest_release takes 30 of the 94 real districts, enough for the
    * per-member cost to dominate while a run stays within its time budget
    * (and, with the added one, 31 districts give 103 checks, at least
    * MinSamples in one pass); query_mix needs only enough districts to vary
    * its filters.
    */
  val IngestCaseRows = 80000
  val IngestDistricts = 30
  val QueryCaseRows = 24000
  val QueryDistricts = 8
  /** query_mix's release keeps only the string tables its statements read
    * (the global file's first two and the GS_CHARGE codebook): the other
    * ~40 would cost each run's cold load about 5 s and no statement.
    */
  val QueryGlobalTables = 2
  val QueryCodebooks = 1
  /** Set-up repetitions per run; set-up time is their median. */
  val SetupReps = 3
  /** Update loads per dump load. Re-applying a monthly update replaces the
    * same district partitions with the same rows, so every repetition is a
    * full update and the answers stay those of one update.
    */
  val UpdateReps = 2
  /** Fewest latency samples a run reports percentiles from: the p90 then
    * has at least ten samples beyond it.
    */
  val MinSamples = 100
  /** The catalog entries the traced run times, from the 20-query core:
    * two simple-operator controls, one query per ROADMAP query-side
    * direction (single-partition windows, lineage cuts, ANN) and the
    * heaviest data-scaled one. They read the sf0.01 tables under
    * `perfbench/data/`.
    */
  val CatalogEntries: Seq[String] = Seq(
    "q02_agg_pricing_summary", "q04_join_fact_fact", // controls
    "q27_window_frames", // direction 3
    "q280_huber_irls", // direction 4
    "q66_ivf_kmeans", // direction 5
    "q167_pagerank_rankjoin") // heaviest

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, expected: Path, data: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Set("ingest_release", "query_mix")(workload), s"unknown workload $workload")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Args(workload, need("seed").toLong, need("seconds").toInt.max(1), trace == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("expected")).toAbsolutePath,
      Paths.get(need("data")).toAbsolutePath)
  }

  /** A session configured as graft.Bench configures its own, with the
    * benchmark's directories and the host's cores.
    */
  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work.resolve("records"))
    val spark = session(args.work)
    val run = new Run(spark, args)
    try {
      val headline = run.execute()
      println(headline.render)
    } finally spark.stop()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val w = Files.walk(dir)
    val paths = try w.iterator().asScala.toVector finally w.close()
    paths.reverseIterator.foreach(Files.deleteIfExists(_))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (`q` in 0..1) of a non-empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Order-insensitive digest of a result: rows rendered, sorted, hashed. */
  def resultHash(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map(v => if (v == null) "\u0000" else v.toString)
      .mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** name -> (rows, hash) from the expected-results file (tab separated). */
  def readExpected(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, hash) = l.split('\t'); n -> ((rows.toLong, hash))
    }.toMap
}

/** Operations attempted and failed; a failure is an exception or a wrong
  * answer, and each is kept with its reason for the records file.
  */
final class Ops {
  var attempted = 0L
  val failures: mutable.Buffer[String] = mutable.Buffer.empty

  def apply[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500); None
    }
  }

  /** Count an operation that already ran; `error` None means it was right. */
  def record(what: String, error: Option[String]): Unit = {
    attempted += 1
    error.foreach(e => failures += s"$what: $e".take(500))
  }
}

/** Wall times of one dump + update load, and the dump's output/input bytes. */
final case class Load(dumpS: Double, updateS: Double, bytesRatio: Double)

/** A statement sent, its latency, and how to get its result rows for the
  * check (which throws when the statement failed).
  */
final case class Executed(st: Statement, ms: Double, rows: () => Array[Row])

/** Per-statement layer numbers of a traced statement. */
final case class StatementTrace(analysisMs: Double, optimizationMs: Double,
                                planningMs: Double, execMs: Double, scanBytes: Long,
                                filesRead: Long, jobs: Long, tasks: Long)

final class Run(spark: SparkSession, args: Main.Args) {
  import Main._

  private val ops = new Ops
  private val client = new QueryClient(spark, "file://" + args.work.resolve("results"))
  private val counters: Option[Counters] = if (args.trace) Some(Counters.attach(spark)) else None
  private val tracer = new Tracer(s"${args.workload}-${args.seed}-${System.currentTimeMillis()}")
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val record = mutable.LinkedHashMap.empty[String, Json.Value]

  // -- shared steps --------------------------------------------------------

  private def freshWarehouse(name: String): String = {
    spark.sql("DROP DATABASE IF EXISTS ncd CASCADE")
    val dir = args.work.resolve(name)
    deleteTree(dir)
    Files.createDirectories(dir)
    "file://" + dir
  }

  private def outputBytes(warehouse: String): Long = {
    val w = Files.walk(Paths.get(new java.net.URI(warehouse)))
    try w.iterator().asScala.filter { p =>
      val s = p.toString; s.endsWith(".json.gz") || s.endsWith(".parquet")
    }.map(Files.size).sum
    finally w.close()
  }

  /** Load the dump, then the update [[UpdateReps]] times, into a fresh
    * warehouse with `NcdIngest.loadZip`. A traced load goes through an
    * [[IngestTrace]], whose numbers become the ingest layer's metrics.
    */
  private def load(rel: Release, zips: (Path, Path), traced: Boolean): Load = {
    val wh = freshWarehouse("warehouse")
    val ingest = new NcdIngest(spark, wh, parquetMirror = true)
    val trace = if (traced) Some(new IngestTrace(spark, tracer, counters.get)) else None
    def loadZip(p: Path, expected: Option[State]): Double = {
      val t0 = System.nanoTime()
      ops(s"loadZip ${p.getFileName}") {
        trace match {
          case Some(t) => t.loadZip(ingest, p.toString, expected)
          case None => ingest.loadZip(p.toString); (System.nanoTime() - t0) / 1e9
        }
      }.getOrElse((System.nanoTime() - t0) / 1e9)
    }
    val dumpS = loadZip(zips._1, Some(rel.dump))
    val ratio = outputBytes(wh).toDouble / rel.dumpMemberBytes
    val updateS = median((1 to UpdateReps).map(_ => loadZip(zips._2, None)))
    for (t <- trace) {
      t.metrics.foreach { case (k, v) => layer(k) = v }
      ops.record("ingest probe", if (t.problems.isEmpty) None else Some(t.problems.mkString("; ")))
    }
    Load(dumpS, updateS, ratio)
  }

  private val statementTraces = mutable.Buffer.empty[StatementTrace]
  private var verifyS = 0.0

  /** Send one statement: through `QueryClient.executeQuery`, whose CSV the
    * check reads back with `QueryClient.readResults`, or, when `collect`,
    * through `QueryClient.query` with the rows collected in the client. The
    * latency is the wall time of that call (and the collect).
    */
  private def send(st: Statement, collect: Boolean): () => Array[Row] = try {
    if (collect) {
      val df = client.query(st.sql)
      val rows = df.select(df.columns.zip(st.schema).map { case (c, f) =>
        df.col(c).cast(f.dataType).as(f.name) }: _*).collect()
      () => rows
    } else {
      val location = client.executeQuery(st.sql)
      () => client.readResults(location, st.schema).collect()
    }
  } catch { case e: Throwable => () => throw e }

  private def execute(st: Statement, traced: Boolean, collect: Boolean = false): Executed =
    if (!traced) {
      val t0 = System.nanoTime()
      val rows = send(st, collect)
      Executed(st, (System.nanoTime() - t0) / 1e6, rows)
    } else {
      val c = counters.get
      val before = c.snapshot(spark)
      // parse + analysis run eagerly in spark.sql, on a QueryExecution the
      // listener never sees: take them from QueryClient.query's tracker
      val phases = tracer.span("query.QueryClient.query")(client.query(st.sql).queryExecution.tracker.phases)
      val t0 = System.nanoTime()
      val rows = tracer.span(if (collect) "query.QueryClient.collect" else "query.QueryClient.executeQuery")(
        send(st, collect))
      val ms = (System.nanoTime() - t0) / 1e6
      val d = c.snapshot(spark) - before
      val qes = c.executionsSince(before.executions)
      statementTraces += StatementTrace(
        Seq("parsing", "analysis").flatMap(phases.get).map(_.durationMs.toDouble).sum,
        qes.map(_.optimizationMs).sum, qes.map(_.planningMs).sum, qes.map(_.execMs).sum,
        d.inputBytes, qes.map(_.filesRead).sum, d.jobs, d.tasks)
      Executed(st, ms, rows)
    }

  /** Check each statement's result rows. Untimed, so the CSV read-backs run
    * a few at a time.
    */
  private def verify(xs: Seq[Executed]): Unit = {
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val errors = try xs.map { e =>
      pool.submit[Option[String]](() =>
        try e.st.check(e.rows())
        catch { case t: Throwable => Some(s"failed: ${t.getMessage}") })
    }.map(_.get()) finally pool.shutdown()
    xs.zip(errors).foreach { case (e, err) => ops.record(s"${e.st.kind}/${e.st.format}", err) }
    verifyS += (System.nanoTime() - t0) / 1e9
  }

  private def generate(caseRows: Int, districts: Int, globalTables: Int = Release.GlobalTables,
                       codebooks: Int = Release.Codebooks): (Release, (Path, Path), Double) = {
    val t0 = System.nanoTime()
    val rel = Release.generate(args.seed, caseRows, districts, globalTables, codebooks)
    val zips = rel.write(args.work.resolve("release"))
    (rel, zips, (System.nanoTime() - t0) / 1e9)
  }

  private def statementsJson(xs: Seq[Executed]): Json.Value =
    Json.Arr(xs.map(e => Json.Obj("kind" -> e.st.kind, "format" -> e.st.format,
      "ms" -> e.ms)): _*)

  /** Latency percentiles and throughput of the query samples, which are
    * kept in the record with their count.
    */
  private def queryMetrics(xs: Seq[Executed]): Seq[(String, Double, String)] = {
    val ms = xs.map(_.ms)
    record("query_samples") = ms.size
    record("statements") = statementsJson(xs)
    Seq(("query_p50_ms", median(ms), "ms"), ("query_p90_ms", percentile(ms, 0.9), "ms"),
      ("queries_per_s", xs.size / (ms.sum / 1e3), "1/s"))
  }

  private def loadMetrics(rows: Long, loads: Seq[Load]): Seq[(String, Double, String)] = Seq(
    ("dump_rows_per_s", median(loads.map(l => rows / l.dumpS)), "rows/s"),
    ("update_s", median(loads.map(_.updateS)), "s"),
    ("bytes_out_per_byte_in", median(loads.map(_.bytesRatio)), "ratio"))

  private def loadsJson(xs: Seq[Load]): Json.Value = Json.Arr(xs.map(l =>
    Json.Obj("dump_s" -> l.dumpS, "update_s" -> l.updateS, "bytes_ratio" -> l.bytesRatio)): _*)

  // -- workloads -------------------------------------------------------------

  /** ingest_release: set-up generates the release; each timed cycle loads the
    * dump and then the update into a fresh warehouse. There is no warm-up:
    * an ingest is a batch job that starts cold. The last cycle's tables then
    * get the full checks, whose latencies are this workload's query samples.
    */
  private def ingestRelease(): Seq[(String, Double, String)] = {
    val setups = (1 to SetupReps).map(_ => generate(IngestCaseRows, IngestDistricts))
    val (rel, zips, _) = setups.last
    ops.record("generator determinism",
      if (setups.forall(s => s._1.dumpZip.sameElements(rel.dumpZip) &&
        s._1.updateZip.sameElements(rel.updateZip))) None
      else Some("one seed gave different zips"))
    val s = rel.last

    def cycles(until: Long, traced: Boolean): Seq[Load] = {
      val loads = mutable.Buffer.empty[Load]
      do {
        // the previous cycle's tables, before this one replaces them; the
        // last cycle's get the full checks below
        if (loads.nonEmpty) verify(Statements.Formats.map(f =>
          execute(Statements.districtAggregate(s, f), traced = false, collect = true)))
        loads += load(rel, zips, traced)
      } while (System.nanoTime() < until)
      loads.toSeq
    }
    // a traced run traces its loads, so its ingest layers are those of the
    // cold load that the untraced runs time
    val loads = cycles(System.nanoTime() + args.seconds * 1000000000L, traced = args.trace)
    record("cycles") = loadsJson(loads)

    // the checks are collected in the client, as a reader of the new tables
    // would: each (kind, format) once untimed with the codebook row counts,
    // then whole timed passes over every check, at least MinSamples of them;
    // a traced run traces every other pair of them, since the per-district
    // checks come in (json, parquet) pairs and both halves need both formats
    val checks = Statements.ingestChecks(s)
    verify((Statements.codebookRows(s) +: checks.distinctBy(st => (st.kind, st.format)))
      .map(st => execute(st, traced = false, collect = true)))
    val passes = (MinSamples + checks.size - 1) / checks.size
    val sent = Seq.fill(passes)(checks).flatten.zipWithIndex.map { case (st, i) =>
      val traced = args.trace && (i / 2) % 2 == 1
      execute(st, traced, collect = true) -> traced
    }
    verify(sent.map(_._1))
    val stmts = sent.collect { case (e, false) => e }
    if (args.trace) overhead(stmts, sent.collect { case (e, true) => e })
    Seq(("setup_s", median(setups.map(_._3)), "s")) ++
      loadMetrics(rel.dump.sourceRows, loads) ++ queryMetrics(stmts)
  }

  /** query_mix: one release is generated and loaded (its load times are
    * this workload's ingest metrics); set-up is a warm-up pass over every
    * statement template, repeated; the timed part is one closed-loop client
    * sending the seeded statement mix.
    */
  private def queryMix(): Seq[(String, Double, String)] = {
    val (rel, zips, _) = generate(QueryCaseRows, QueryDistricts, QueryGlobalTables, QueryCodebooks)
    val loaded = load(rel, zips, traced = args.trace)
    record("load") = loadsJson(Seq(loaded))
    val s = rel.last
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val warm = Statements.warmup(s).map(st => execute(st, traced = false))
      val took = (System.nanoTime() - t0) / 1e9
      verify(warm)
      took
    }

    // whole rounds only, so every run sends the same blend of statements,
    // and at least MinSamples of them; a traced run traces every other
    // round, so both halves see the same statements at the same point
    val mix = Statements.mix(s, args.seed)
    val round = Statements.RoundSize * (if (args.trace) 2 else 1)
    val until = System.nanoTime() + args.seconds * 1000000000L
    val sent = mutable.Buffer.empty[(Executed, Boolean)]
    do {
      val traced = args.trace && (sent.size / Statements.RoundSize) % 2 == 1
      sent += execute(mix.next(), traced) -> traced
    } while (System.nanoTime() < until || sent.size < MinSamples || sent.size % round != 0)
    verify(sent.map(_._1).toSeq)
    val stmts = sent.collect { case (e, false) => e }.toSeq
    if (args.trace) overhead(stmts, sent.collect { case (e, true) => e }.toSeq)
    Seq(("setup_s", median(setups), "s")) ++
      loadMetrics(rel.dump.sourceRows, Seq(loaded)) ++ queryMetrics(stmts)
  }

  // -- traced-only layers ----------------------------------------------------

  /** Tracing overhead: traced over untraced median statement latency, less one. */
  private def overhead(untraced: Seq[Executed], traced: Seq[Executed]): Unit = {
    record("traced_statements") = statementsJson(traced)
    layer("trace.overhead_frac") = median(traced.map(_.ms)) / median(untraced.map(_.ms)) - 1
  }

  private def queryLayer(): Unit = if (statementTraces.nonEmpty) {
    def med(f: StatementTrace => Double) = median(statementTraces.map(f).toSeq)
    layer("query.catalyst.analysis_ms") = med(_.analysisMs)
    layer("query.catalyst.optimization_ms") = med(_.optimizationMs)
    layer("query.catalyst.planning_ms") = med(_.planningMs)
    layer("query.exec_ms") = med(_.execMs)
    layer("query.scan_bytes") = med(_.scanBytes.toDouble)
    layer("query.files_read") = med(_.filesRead.toDouble)
    layer("query.jobs") = med(_.jobs.toDouble)
    layer("query.tasks") = med(_.tasks.toDouble)
  }

  /** The catalog layer (`SparkEntry.queries` over queries/, operators/ and
    * functions/): each of [[CatalogEntries]] once untimed with its result
    * checked, then once timed through the noop sink. Persisted
    * intermediates are dropped after each entry, as graft.Verify does.
    */
  private def catalogLayer(): Unit = {
    val expected = readExpected(args.expected)
    val c = counters.get
    def entry(name: String) = SparkEntry.queries(name)(spark, args.data.toString)
    CatalogEntries.foreach { name =>
      ops.record(s"catalog $name", try {
        val rows = entry(name).collect()
        val got = (rows.length.toLong, resultHash(rows))
        if (expected.get(name).contains(got)) None else Some(s"got $got, want ${expected.get(name)}")
      } catch { case e: Throwable => Some(e.toString) }
      finally spark.catalog.clearCache())
    }
    val before = c.snapshot(spark)
    val perEntry = CatalogEntries.map { name =>
      val t0 = System.nanoTime()
      ops(s"catalog $name timed") {
        try {
          val df = tracer.span("catalog.plan") {
            val df = entry(name); df.queryExecution.executedPlan; df
          }
          tracer.span("catalog.exec")(df.write.format("noop").mode("overwrite").save())
        } finally spark.catalog.clearCache()
      }
      name -> ((System.nanoTime() - t0) / 1e9: Json.Value)
    }
    record("catalog_s") = Json.Obj(perEntry: _*)
    val d = c.snapshot(spark) - before
    val totals = Tracer.totalsByName(tracer.spans)
    layer("catalog.plan_s") = totals.get("catalog.plan").fold(0.0)(_._1)
    layer("catalog.exec_s") = totals.get("catalog.exec").fold(0.0)(_._1)
    layer("catalog.sql_executions") = d.executions.toDouble
    layer("catalog.jobs") = d.jobs.toDouble
    layer("catalog.stages") = d.stages.toDouble
    layer("catalog.tasks") = d.tasks.toDouble
    layer("catalog.shuffle_read_bytes") = d.shuffleReadBytes.toDouble
    layer("catalog.shuffle_write_bytes") = d.shuffleWriteBytes.toDouble
    layer("catalog.spill_bytes") = d.spillBytes.toDouble
    layer("catalog.codegen.compiles") = d.codegenCompiles.toDouble
  }

  def execute(): Json.Obj = {
    val t0 = System.nanoTime()
    val e2e = try {
      if (args.workload == "ingest_release") ingestRelease() else queryMix()
    } catch { case e: Throwable =>
      ops.record("workload", Some(e.toString)); Nil
    }
    if (args.trace) {
      ops("catalog layer")(catalogLayer())
      queryLayer()
      val totals = Tracer.totalsByName(tracer.spans)
      record("spans") = Json.Obj(totals.toSeq.sortBy(_._1).map { case (n, (tot, self)) =>
        n -> Json.Obj("total_s" -> tot, "self_s" -> self) }: _*)
    }
    val metrics: Seq[(String, Double, String)] =
      if (args.trace) layer.toSeq.map { case (k, v) => (k, v, Units.of(k)) } else e2e
    val failed = ops.failures.size.toLong
    record("workload") = args.workload
    record("seed") = args.seed
    record("trace") = args.trace
    record("wall_s") = (System.nanoTime() - t0) / 1e9
    record("verify_s") = verifyS
    record("attempted") = ops.attempted
    record("failures") = Json.Arr(ops.failures.toSeq.map(Json.Str): _*)
    record("metrics") = Json.Obj(metrics.map { case (k, v, _) => k -> (v: Json.Value) }: _*)
    Files.writeString(args.work.resolve("records")
      .resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json"),
      Json.Obj(record.toSeq: _*).render)
    ops.failures.take(5).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    Json.Obj("correct" -> (failed == 0), "attempted" -> ops.attempted, "failed" -> failed,
      "metrics" -> Json.Obj(metrics.map { case (k, v, u) =>
        k -> Json.Obj("value" -> v, "unit" -> u) }: _*))
  }
}

/** Units of the per-layer metrics, by name. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name.contains("bytes_")) "bytes"
    else if (name.endsWith("_frac")) "ratio"
    else "count"
}
