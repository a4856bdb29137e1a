package graft.bench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.lake.DuckLakeFileIndex
import graft.xlsx.{ExcelRemote, XlsxCodec}

/** One timed interval. Times are milliseconds since the run started; the
  * statement span has no parent and its id is the trace id of its children.
  */
final case class Span(trace: Int, id: String, parent: Option[String], name: String,
    startMs: Double, endMs: Double, note: String = "")

/** Records spans and per-statement counters from outside the program:
  * the transport decorator, the Spark listeners and the shadow calls all
  * report here. Listener callbacks arrive on the listener-bus thread, so
  * every mutation is synchronized.
  */
final class Tracer(spark: SparkSession) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val counters = mutable.Map.empty[String, Double]
  /** the current statement; spans recorded before the first one (the
    * handles opening) carry trace -1
    */
  private var stmt = -1
  private var childSeq = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  /** the sheets of the most recent whole-workbook read through a decorator */
  @volatile var lastSheets: Seq[XlsxCodec.Sheet] = Seq.empty

  /** wall clock in epoch milliseconds at nanosecond resolution */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def rel(epochMs: Double): Double = epochMs - anchorMs

  def add(counter: String, v: Double): Unit = synchronized {
    counters(counter) = counters.getOrElse(counter, 0.0) + v
  }

  def child(name: String, startEpochMs: Double, endEpochMs: Double, note: String = ""): Unit =
    synchronized {
      childSeq += 1
      spans += Span(stmt, s"$stmt.$childSeq", Some(s"$stmt.0"), name,
        rel(startEpochMs), rel(endEpochMs), note)
    }

  /** time `body` as a child span of the current statement, adding its
    * seconds to `counter`
    */
  def timed[A](name: String, counter: String)(body: => A): A = {
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      child(name, t0, t1)
      add(counter, (t1 - t0) / 1e3)
    }
  }

  /** start statement `id`: deliver events still queued from earlier work
    * (correctness checks run Spark jobs too) and drop what they counted
    */
  def begin(id: Int): Unit = {
    BenchBus.drain(spark.sparkContext)
    synchronized { counters.clear(); stmt = id; childSeq = 0 }
  }

  /** the statement's counters, once its listener events are delivered */
  def end(): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    synchronized(counters.toMap)
  }

  /** milliseconds of [t0, t1] covered by statement `id`'s child spans
    * whose names start with one of `prefixes` (overlaps counted once)
    */
  def covered(id: Int, t0: Double, t1: Double, prefixes: String*): Double = synchronized {
    val (a, b) = (rel(t0), rel(t1))
    val iv = spans.iterator.filter(s => s.trace == id && s.parent.nonEmpty &&
        prefixes.exists(s.name.startsWith))
      .map(s => (math.max(a, s.startMs), math.min(b, s.endMs))).filter(x => x._2 > x._1)
      .toSeq.sortBy(_._1)
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  def statement(id: Int, startEpochMs: Double, endEpochMs: Double, note: String): Unit =
    synchronized {
      spans += Span(id, s"$id.0", None, "statement", rel(startEpochMs), rel(endEpochMs), note)
    }

  def spansJson: String = synchronized {
    spans.map { s =>
      Json.obj("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "note" -> s.note)
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Timing decorator over any workbook transport, injected through the
  * lake's `remoteOverride` constructor argument.
  */
final class TimingRemote(under: ExcelRemote, tr: Tracer) extends ExcelRemote {
  private def cells(rows: Seq[Seq[String]]): Double = rows.iterator.map(_.size.toDouble).sum

  private def wrote(sheets: Seq[XlsxCodec.Sheet], dirty: Set[String]): Unit = {
    tr.add("xlsx.write_calls", 1)
    tr.add("xlsx.dirty_sheets", dirty.size)
    tr.add("xlsx.bytes_written", sheets.iterator.filter(s => dirty.contains(s._1))
      .flatMap(_._2).flatten.map(_.getBytes("UTF-8").length.toDouble).sum)
  }

  def exists: Boolean = tr.timed("xlsx.exists", "xlsx.other_s")(under.exists)
  def sheetNames: Seq[String] = tr.timed("xlsx.sheet_names", "xlsx.other_s")(under.sheetNames)

  def readAll(): Seq[XlsxCodec.Sheet] = {
    val r = tr.timed("xlsx.read_all", "xlsx.read_all_s")(under.readAll())
    tr.add("xlsx.read_all_calls", 1)
    tr.add("xlsx.cells_read", r.iterator.map(s => cells(s._2)).sum)
    tr.lastSheets = r
    r
  }

  def readSheet(name: String): Option[Seq[Seq[String]]] = {
    val r = tr.timed("xlsx.read_sheet", "xlsx.read_sheet_s")(under.readSheet(name))
    tr.add("xlsx.read_sheet_calls", 1)
    tr.add("xlsx.cells_read", r.map(cells).getOrElse(0.0))
    r
  }

  def writeAll(sheets: Seq[XlsxCodec.Sheet]): Unit = {
    tr.timed("xlsx.write", "xlsx.write_s")(under.writeAll(sheets))
    wrote(sheets, sheets.map(_._1).toSet)
  }

  override def writeChanged(sheets: Seq[XlsxCodec.Sheet], dirty: Set[String]): Unit = {
    tr.timed("xlsx.write", "xlsx.write_s")(under.writeChanged(sheets, dirty))
    wrote(sheets, dirty)
  }
}

/** Spark-side counters from the session's listener hooks: Catalyst phase
  * times and scan-node metrics per query execution, and job/stage/task/
  * byte counts from the scheduler.
  */
final class SparkProbe(tr: Tracer) extends SparkListener with QueryExecutionListener {
  private val execStart = mutable.Map.empty[Long, Long]

  private def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis" -> "spark.analyze", "optimization" -> "spark.optimize",
        "planning" -> "spark.plan").foreach { case (phase, name) =>
      ph.get(phase).foreach { p =>
        tr.add(s"${name}_s", p.durationMs / 1e3)
        tr.child(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    tr.add("spark.actions", 1)
    tr.add("spark.execute_s", durationNs / 1e9)
    phases(qe)
    scans(qe.executedPlan).filter(_.relation.location.isInstanceOf[DuckLakeFileIndex]).foreach { s =>
      def metric(n: String) = s.metrics.get(n).map(_.value.toDouble).getOrElse(0.0)
      tr.add("scan.files_read", metric("numFiles"))
      tr.add("scan.files_live", s.relation.location.inputFiles.length)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    tr.add("spark.actions", 1)
    phases(qe)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = tr.add("spark.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    tr.add("spark.stages", 1)
    tr.add("spark.tasks", info.numTasks)
    Option(info.taskMetrics).foreach { m =>
      tr.add("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      tr.add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      // rows the file scans produced, from the tasks' input metrics
      tr.add("scan.rows_read", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(execStart(s.executionId) = s.time)
    case x: SparkListenerSQLExecutionEnd =>
      synchronized(execStart.remove(x.executionId)).foreach { t0 =>
        tr.child("spark.execute", t0.toDouble, x.time.toDouble)
      }
    case _ =>
  }

  def attach(spark: SparkSession): Unit = {
    spark.listenerManager.register(this)
    spark.sparkContext.addSparkListener(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}
