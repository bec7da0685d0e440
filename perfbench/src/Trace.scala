package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.Command
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.{CreateDataSourceTableCommand, DataWritingCommandExec, RepairTableCommand}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are `System.nanoTime` values. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Long, end: Long) {
  def duration: Long = end - start
}

/** In-memory span recorder. Spans nest by call order on the calling thread;
  * nothing is written until the run ends.
  */
final class Tracer(val runId: String) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val start = System.nanoTime()
    try body
    finally {
      recorded += Span(id, name, parent, runId, start, System.nanoTime())
      open = open.tail
    }
  }

  def spans: Seq[Span] = recorded.sortBy(_.id).toSeq
}

object Tracer {
  /** Self time per span: its duration minus the part of its interval that
    * its children cover (overlapping children are counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.duration - covered)
    }.toMap
  }

  /** Seconds per span name: (total, self). */
  def totalsByName(spans: Seq[Span]): Map[String, (Double, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.map(_.duration).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9))
    }
  }
}

/** What one QueryExecution reported when it finished. `kind` is the file
  * format of a write ("json", "parquet", "csv", ...), "ddl" for another
  * command, or "query"; `table` is the (lower-cased) table a write or DDL
  * command targets, or "".
  */
final case class QeRecord(kind: String, table: String, optimizationMs: Double,
                          planningMs: Double, execMs: Double, filesRead: Long,
                          outputBytes: Long, outputFiles: Long)

/** Counters of the session's work, attached by the benchmark to the session
  * it creates: a SparkListener for jobs, stages, tasks, bytes and spill, and
  * a QueryExecutionListener for Catalyst phase times, files scanned, and
  * each write's format, table and output bytes.
  */
final class Counters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val executions = new ConcurrentLinkedQueue[QeRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    def phase(n: String) = qe.tracker.phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val files = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      .iterator.flatMap(_.metrics.get("numFiles")).map(_.value).sum
    val write = collect(qe.executedPlan) { case w: DataWritingCommandExec => w }.headOption
    def metric(w: DataWritingCommandExec, n: String) = w.metrics.get(n).fold(0L)(_.value)
    val (kind, table, bytes, outFiles) = write match {
      case Some(w) => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          val format = i.fileFormat match {
            case _: JsonFileFormat => "json"
            case _: ParquetFileFormat => "parquet"
            case _: CSVFileFormat => "csv"
            case f => f.toString
          }
          (format, i.outputPath.getName.stripSuffix("__parquet").toLowerCase,
            metric(w, "numOutputBytes"), metric(w, "numFiles"))
        case c => (c.nodeName, "", metric(w, "numOutputBytes"), metric(w, "numFiles"))
      }
      case None => qe.analyzed match {
        case c: CreateDataSourceTableCommand => ("ddl", c.table.identifier.table.toLowerCase, 0L, 0L)
        case r: RepairTableCommand => ("ddl", r.tableName.table.toLowerCase, 0L, 0L)
        case _: Command => ("ddl", "", 0L, 0L)
        case _ => ("query", "", 0L, 0L)
      }
    }
    executions.add(QeRecord(kind, table, phase("optimization"), phase("planning"),
      durationNs / 1e6, files, bytes, outFiles))
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(spark: SparkSession): Counts = {
    Bus.drain(spark.sparkContext)
    Counts(jobs.get, stages.get, tasks.get, inputBytes.get, shuffleReadBytes.get,
      shuffleWriteBytes.get, spillBytes.get, executions.size.toLong,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  }

  /** QueryExecutions recorded after the first `from` of them. */
  def executionsSince(from: Long): Seq[QeRecord] =
    executions.iterator.asScala.drop(from.toInt).toSeq
}

object Counters {
  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** Counter values at one instant; `-` gives the work done in between. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, inputBytes: Long,
                        shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
                        executions: Long, codegenCompiles: Long, codegenNanos: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    inputBytes - o.inputBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    executions - o.executions, codegenCompiles - o.codegenCompiles,
    codegenNanos - o.codegenNanos)
}
