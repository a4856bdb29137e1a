package graft.bench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.lake.{CatalogState, StatementRouter, XlsxSheet}

/** The lake-path benchmark: one client drives `DuckLakeXLSpark.sql()` in a
  * closed loop (each statement waits for the previous one) on `local[n]`
  * Spark with n = available processors.
  *
  * {{{
  * LakeBench --workload bigcat_mixed|bulk_sf01|graph_session --seed N
  *           --seconds S --trace 0|1 [--work DIR] [--out DIR]
  * }}}
  *
  * The run sets the lake up three times (median reported as
  * `setup_s`), then runs the workload's statements in whole cycles until
  * `--seconds` have passed. With `--trace 0` it prints the end-to-end
  * metrics; with `--trace 1` it runs half the time untraced, then the same
  * number of statements traced, and prints per-layer metrics (medians per
  * statement class) measured only from outside the library: a timing
  * transport decorator, session listeners and timed shadow calls. The
  * last stdout line is the result object; the line before it holds host
  * facts and details.
  */
object LakeBench {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path)

  /** set-ups per run, reported as their median */
  val Setups = 3
  /** data files of the bigcat_mixed lake; its 1-row DELETE and UPDATE cost
    * grows with every live file, so this sets the run length
    */
  val BigcatFiles = 1500

  val Workloads = Seq("bigcat_mixed", "bulk_sf01", "graph_session")

  /** per-statement layer values, reported as medians per statement class */
  val LayerKeys: Seq[(String, String)] = Seq(
    "xlsx.read_all_s" -> "s", "xlsx.read_all_calls" -> "count",
    "xlsx.read_sheet_s" -> "s", "xlsx.read_sheet_calls" -> "count",
    "xlsx.write_s" -> "s", "xlsx.write_calls" -> "count", "xlsx.dirty_sheets" -> "count",
    "xlsx.cells_read" -> "count", "xlsx.bytes_written" -> "bytes",
    "graph.requests" -> "count", "graph.retries" -> "count",
    "graph.request_bytes" -> "bytes", "graph.response_bytes" -> "bytes",
    "state.from_sheets_s" -> "s", "state.to_sheets_s" -> "s", "state.rows" -> "count",
    "route.split_s" -> "s", "route.classify_s" -> "s", "route.rewrite_s" -> "s",
    "spark.actions" -> "count", "spark.analyze_s" -> "s", "spark.optimize_s" -> "s",
    "spark.plan_s" -> "s", "spark.execute_s" -> "s", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.shuffle_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "scan.files_read" -> "count", "scan.files_live" -> "count",
    "scan.rows_read_per_row_returned" -> "ratio",
    "api.self_s" -> "s", "stmt_s" -> "s")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Path.of(kv.getOrElse("work", "lakebench/work")), Path.of(kv.getOrElse("out", "lakebench/out")))
  }

  def main(args: Array[String]): Unit = {
    val o = try parse(args) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val nproc = Runtime.getRuntime.availableProcessors
    val work = o.work.toAbsolutePath.resolve(s"${o.workload}-${o.seed}-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("lakebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var lines = Seq.empty[String]
    val code =
      try { lines = new Runner(spark, o, nproc, work).run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally {
        try spark.stop() catch { case NonFatal(_) => () }
        FileUtil.deleteRecursively(work)
      }
    lines.foreach(println)
    System.out.flush()
    sys.exit(code)
  }
}

final case class Outcome(step: Step, wallS: Double, rows: Int, error: Option[String])

final class Runner(spark: SparkSession, o: LakeBench.Opts, nproc: Int, work: Path) {
  private val wl: Workload = o.workload match {
    case "bigcat_mixed" => new BigcatMixed(spark, o.seed, files = LakeBench.BigcatFiles, threads = nproc)
    case "bulk_sf01" => new BulkSf01(spark, o.seed)
    case "graph_session" => new GraphSession(spark, o.seed, nproc)
  }
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var lastHead = -1L

  private def oneLine(s: String, n: Int) = s.replaceAll("\\s+", " ").take(n)

  /** statement `i`, timed: `sql()` plus, for a read, collecting the rows */
  private def run(i: Int): (Step, Either[Throwable, Array[Row]], Double) = {
    val step = wl.step(i)
    val h = wl.handle(step.foreign)
    val t0 = System.nanoTime()
    val res =
      try {
        val df = h.sql(step.sql)
        Right(if (step.cls == Step.Read) df.collect() else Array.empty[Row])
      } catch { case NonFatal(e) => Left(e) }
    (step, res, (System.nanoTime() - t0) / 1e9)
  }

  /** the untimed part: apply a write to the model, check the result */
  private def verify(step: Step, res: Either[Throwable, Array[Row]], wall: Double): Outcome = {
    attempted += 1
    val err = res match {
      case Left(e) => Some(s"failed: ${oneLine(e.toString, 300)}")
      case Right(rows) =>
        if (step.cls == Step.Write) lastHead = wl.handle(step.foreign).currentState.currentSnapshot
        step.commit()
        try step.check(rows) catch { case NonFatal(e) => Some(s"check error: ${oneLine(e.toString, 300)}") }
    }
    err.foreach(e => failures += s"${step.cls}${if (step.foreign) " (foreign)" else ""} " +
      s"${oneLine(step.sql, 160)}: $e")
    Outcome(step, wall, res.map(_.length).getOrElse(0), err)
  }

  private def execute(i: Int): Outcome = {
    val (step, res, wall) = run(i)
    verify(step, res, wall)
  }

  /** run whole cycles from `from` until `seconds` have passed (or `count`
    * statements, when given); `each` sees every outcome
    */
  private def loop(from: Int, seconds: Double, count: Option[Int])(each: Outcome => Unit): Int = {
    val t0 = System.nanoTime()
    var i = from
    def more = count match {
      case Some(n) => i - from < n
      case None => (System.nanoTime() - t0) / 1e9 < seconds || (i - from) % wl.cycle != 0
    }
    while (more) { each(execute(i)); i += 1 }
    i - from
  }

  private def usedHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  private def finalCheck(): Unit = {
    val fresh = wl.freshHandle()
    val head = fresh.currentState.currentSnapshot
    if (lastHead >= 0 && head != lastHead)
      failures += s"final: a fresh handle sees snapshot $head, expected $lastHead"
    failures ++= wl.finalCheck(fresh).map("final: " + _)
    attempted += 1
  }

  private def hostFacts: Map[String, Any] = Map(
    "nproc" -> nproc, "master" -> s"local[$nproc]",
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "seed" -> o.seed, "workload" -> o.workload, "trace" -> o.trace, "seconds" -> o.seconds)

  def run(): Seq[String] = {
    try {
      wl.prepare(work)
      val setups = (0 until LakeBench.Setups).map { k =>
        val dir = Files.createDirectories(work.resolve(s"setup-$k"))
        val t0 = System.nanoTime()
        wl.setup(dir)
        val s = (System.nanoTime() - t0) / 1e9
        if (k < LakeBench.Setups - 1) { wl.teardown(); FileUtil.deleteRecursively(dir) }
        s
      }
      wl.open(identity)
      if (o.trace) traced(setups) else endToEnd(setups)
    } finally wl.close()
  }

  private def result(metrics: Seq[(String, Double, String)]): String =
    Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))

  private def endToEnd(setups: Seq[Double]): Seq[String] = {
    val outs = mutable.ArrayBuffer.empty[Outcome]
    var workbookMb = Double.NaN
    loop(0, o.seconds, None) { out =>
      outs += out
      if (outs.size == wl.cycle) workbookMb = wl.workbookBytes / 1048576.0
    }
    val heapMb = usedHeapMb()
    finalCheck()
    def walls(cls: String) = outs.filter(_.step.cls == cls).map(_.wallS).toSeq
    val inserts = outs.filter(x => x.step.insertedRows > 0 && x.error.isEmpty)
    val metrics = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("read_p50_s", Stats.median(walls(Step.Read)), "s"),
      ("write_p50_s", Stats.median(walls(Step.Write)), "s"),
      ("stmts_per_s", outs.size / outs.map(_.wallS).sum, "1/s"),
      ("ingest_rows_per_s", inserts.map(_.step.insertedRows).sum / inserts.map(_.wallS).sum, "rows/s"),
      ("heap_mb", heapMb, "MiB"),
      ("workbook_mb", workbookMb, "MiB"))
    val detail = Json.obj(
      "host" -> hostFacts,
      "setup_runs_s" -> setups,
      "samples" -> Map(Step.Read -> walls(Step.Read).size, Step.Write -> walls(Step.Write).size),
      "read_p90_s" -> Stats.percentile(walls(Step.Read), 0.9),
      "write_p90_s" -> Stats.percentile(walls(Step.Write), 0.9),
      "failed_frac" -> failures.size.toDouble / attempted,
      "failures" -> failures.toSeq)
    Seq(detail, result(metrics))
  }

  /** the shadow calls: the layers' public functions on the same catalog
    * and statement text the statement just used, timed as child spans
    */
  private def shadow(step: Step, tr: Tracer): Unit = {
    val sheets = tr.lastSheets.map { case (n, rows) => XlsxSheet(n, rows) }
    tr.add("state.rows", sheets.map(_.rows.size.toDouble).sum)
    tr.timed("state.from_sheets", "state.from_sheets_s")(CatalogState.fromSheets(sheets))
    val st = wl.handle(step.foreign).currentState
    tr.timed("state.to_sheets", "state.to_sheets_s")(st.toSheets)
    val stmts = tr.timed("route.split", "route.split_s")(StatementRouter.split(step.sql))
    stmts.foreach { s =>
      tr.timed("route.classify", "route.classify_s")(Try(StatementRouter.classify(s)))
      tr.timed("route.rewrite", "route.rewrite_s")(Try(StatementRouter.rewriteDialect(s)))
    }
  }

  private val xlsxKeys = Seq("xlsx.read_all_s", "xlsx.read_sheet_s", "xlsx.write_s", "xlsx.other_s")

  private def tracedStep(i: Int, tr: Tracer): (Outcome, Map[String, Double]) = {
    tr.begin(i)
    val g0 = wl.transportCounters
    val t0 = tr.nowMs
    val (step, res, wall) = run(i)
    val t1 = tr.nowMs
    val g1 = wl.transportCounters
    tr.statement(i, t0, t1, s"${step.cls}: ${oneLine(step.sql, 200)}")
    shadow(step, tr)
    val c = tr.end()
    // the remainder: statement wall minus the time covered by transport
    // calls or Spark work (Catalyst phases, executions), overlaps once
    val outside = tr.covered(i, t0, t1, "xlsx.", "spark.") / 1e3
    val out = verify(step, res, wall) // after end(): checks run Spark jobs of their own
    val vals = c ++ g1.map { case (k, v) => k -> (v - g0.getOrElse(k, 0.0)) } ++ Map(
      "api.self_s" -> (wall - outside),
      "stmt_s" -> wall,
      "scan.rows_read_per_row_returned" -> c.getOrElse("scan.rows_read", 0.0) / math.max(1, out.rows))
    (out, vals)
  }

  private def traced(setups: Seq[Double]): Seq[String] = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val n = loop(0, o.seconds / 2.0, None)(out => plain += out.wallS)
    val tracer = new Tracer(spark)
    val probe = new SparkProbe(tracer)
    wl.open(r => new TimingRemote(r, tracer))
    val perStmt = mutable.ArrayBuffer.empty[(Outcome, Map[String, Double])]
    probe.attach(spark)
    try (n until 2 * n).foreach(i => perStmt += tracedStep(i, tracer))
    finally probe.detach(spark)
    finalCheck()
    val overhead = Stats.median(perStmt.map(_._1.wallS).toSeq) - Stats.median(plain.toSeq)
    def of(cls: String) = perStmt.filter(_._1.step.cls == cls).map(_._2).toSeq
    val metrics = Seq(Step.Read, Step.Write).flatMap { cls =>
      val rows = of(cls)
      LakeBench.LayerKeys.map { case (k, u) =>
        (s"$cls.$k", if (rows.isEmpty) 0.0 else Stats.median(rows.map(_.getOrElse(k, 0.0))), u)
      }
    } :+ (("trace_overhead_s", overhead, "s"))
    // share of read wall time spent in the catalog transport plus the
    // driver-side remainder (sync, digest, view registration)
    val reads = of(Step.Read)
    def total(rows: Seq[Map[String, Double]], keys: String*) =
      rows.map(r => keys.map(r.getOrElse(_, 0.0)).sum).sum
    val syncShare = total(reads, (xlsxKeys :+ "api.self_s"): _*) / total(reads, "stmt_s")
    Files.createDirectories(o.out)
    val spansFile = o.out.resolve(s"trace-${o.workload}-seed${o.seed}.json")
    Files.writeString(spansFile, tracer.spansJson)
    val detail = Json.obj(
      "host" -> hostFacts,
      "setup_runs_s" -> setups,
      "statements" -> Map("untraced" -> n, "traced" -> perStmt.size),
      "read_sync_share" -> syncShare,
      "spans_file" -> spansFile.toString,
      "spans" -> tracer.spans.size,
      "failures" -> failures.toSeq)
    Seq(detail, result(metrics))
  }
}
