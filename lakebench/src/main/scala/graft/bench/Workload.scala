package graft.bench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.api.DuckLakeXLSpark
import graft.xlsx.ExcelRemote

/** One statement of a workload's script. A read's latency covers `sql()`
  * plus collecting the returned rows; a write's covers `sql()`. After a
  * successful statement the runner applies `commit` (the write's effect
  * on the expected model) and then `check`, both outside the timed region.
  */
final case class Step(
    cls: String,
    sql: String,
    foreign: Boolean = false,
    insertedRows: Long = 0L,
    commit: () => Unit = () => (),
    check: Array[Row] => Option[String] = _ => None)

object Step {
  val Read = "read"
  val Write = "write"
}

/** A seeded workload: builds its lake, then yields a fixed-order cycle of
  * statements whose parameters come from the seed and the expected model.
  */
trait Workload {
  /** statements per cycle; every cycle runs the same classes in the same order */
  def cycle: Int
  /** make inputs that are not part of the lake (untimed) */
  def prepare(work: Path): Unit = ()
  /** build a fresh lake under `dir` and check it; timed as set-up */
  def setup(dir: Path): Unit
  /** release a set-up that will not be measured */
  def teardown(): Unit
  /** (re)open the measured handles, each over `wrap(transport)` */
  def open(wrap: ExcelRemote => ExcelRemote): Unit
  def handle(foreign: Boolean): DuckLakeXLSpark
  /** a new handle on the same workbook, for the end-of-run check */
  def freshHandle(): DuckLakeXLSpark
  /** statement `i` of the script, given the model as it stands now */
  def step(i: Int): Step
  /** checks on the final state through `fresh`; returns failures */
  def finalCheck(fresh: DuckLakeXLSpark): Seq[String]
  /** transport-side counters (the Graph mock's), cumulative */
  def transportCounters: Map[String, Double] = Map.empty
  def workbookBytes: Long
  def close(): Unit
}

/** Row comparison against expected values; numbers compare as doubles
  * within a relative tolerance, everything else by its string form.
  */
object Expect {
  private def cellEq(a: Any, b: Any, tol: Double): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Number, y: Number) =>
      val (dx, dy) = (x.doubleValue, y.doubleValue)
      dx == dy || math.abs(dx - dy) <= tol * math.max(1.0, math.max(math.abs(dx), math.abs(dy)))
    case (x, y) => x.toString == y.toString
  }

  def render(rows: Seq[Seq[Any]]): String =
    rows.take(4).map(_.map(v => if (v == null) "NULL" else v.toString).mkString("(", ",", ")"))
      .mkString(" ") + (if (rows.size > 4) s" … (${rows.size} rows)" else "")

  def rows(actual: Array[Row]): Seq[Seq[Any]] = actual.toSeq.map(_.toSeq)

  def compare(actual: Array[Row], expected: Seq[Seq[Any]], tol: Double = 0.0): Option[String] = {
    val got = rows(actual)
    val ok = got.size == expected.size && got.zip(expected).forall { case (g, e) =>
      g.size == e.size && g.zip(e).forall { case (x, y) => cellEq(x, y, tol) }
    }
    if (ok) None else Some(s"expected ${render(expected)} got ${render(got)}")
  }
}

object FileUtil {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
