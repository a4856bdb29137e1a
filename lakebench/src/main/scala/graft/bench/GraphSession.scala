package graft.bench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.DuckLakeXLSpark
import graft.xlsx.{ExcelRemote, GraphRemote, StaticTokenProvider, XlsxCodec}

/** The lake over `GraphRemote` pointed at the in-process [[MockGraph]],
  * with a small catalog. The script runs short DuckDB-dialect SELECTs with
  * known answers plus 1-row writes to a table `w` the model tracks. The
  * mock throttles every n-th workbook call (n from the seed) with a 429.
  */
final class GraphSession(spark: SparkSession, seed: Long, threads: Int) extends Workload {
  def cycle = 14

  private val rng = new scala.util.Random(seed * 31 + 13)
  private val throttleEvery = 40 + new scala.util.Random(seed).nextInt(21)
  private var mock: MockGraph = _
  private var dataDir = ""
  private var main: DuckLakeXLSpark = _
  private val model = mutable.TreeMap.empty[Int, String]
  private var nextId = 0

  private val Macro = "CREATE OR REPLACE MACRO addtax(x) AS x + x // 5"

  private def remote(m: MockGraph): GraphRemote =
    new GraphRemote("bench-drive", "lake.xlsx", new StaticTokenProvider("bench"), m.baseUrl,
      backoffMillis = 1L, readConcurrency = threads)

  private def lakeOver(r: ExcelRemote, lakeName: String): DuckLakeXLSpark = {
    val lake = new DuckLakeXLSpark(spark, "lake.xlsx", dataDir, lakeName = lakeName,
      remoteOverride = Some(r))
    lake.sql(Macro)
    lake
  }

  def setup(dir: Path): Unit = {
    mock = new MockGraph(threads, throttleEvery)
    dataDir = dir.resolve("data").toString
    val lake = lakeOver(remote(mock), "bench_load")
    lake.sql(Dialect.Setup)
    model.clear()
    (1 to 20).foreach(i => model(i) = s"w$i")
    nextId = 21
    lake.sql("CREATE TABLE w(id INTEGER, v VARCHAR); INSERT INTO w VALUES " +
      model.map { case (i, v) => s"($i, '$v')" }.mkString(", "))
    val fresh = freshHandle()
    Dialect.Reads.take(1).foreach { case (sql, want) =>
      Expect.compare(fresh.sql(sql).collect(), want, 1e-9).foreach(e =>
        sys.error(s"graph lake self-check: $sql: $e"))
    }
  }

  def teardown(): Unit = mock.stop()

  def open(wrap: ExcelRemote => ExcelRemote): Unit = main = lakeOver(wrap(remote(mock)), "my_ducklake")

  def handle(foreign: Boolean): DuckLakeXLSpark = main

  def freshHandle(): DuckLakeXLSpark = lakeOver(remote(mock), "bench_verify")

  private var readIdx = 0

  private def known(): Step = {
    val (sql, want) = Dialect.Reads(readIdx % Dialect.Reads.size)
    readIdx += 1
    Step(Step.Read, sql, check = rows => Expect.compare(rows, want, 1e-9))
  }

  private def anyId(): Int = model.keys.drop(rng.nextInt(model.size)).head

  // inserts are four of the five writes, so the write median falls
  // inside one kind of statement; the one update or delete alternates
  def step(i: Int): Step = i % cycle match {
    case 1 | 3 | 7 | 9 =>
      val (id, v) = (nextId, BigCatalog.word(rng))
      nextId += 1 + rng.nextInt(3)
      Step(Step.Write, s"INSERT INTO w VALUES ($id, '$v')", insertedRows = 1L,
        commit = () => model(id) = v)
    case 5 if (i / cycle) % 2 == 0 =>
      val (id, v) = (anyId(), BigCatalog.word(rng))
      Step(Step.Write, s"UPDATE w SET v = '$v' WHERE id = $id", commit = () => model(id) = v)
    case 5 =>
      val id = anyId()
      Step(Step.Write, s"DELETE FROM w WHERE id = $id", commit = () => model.remove(id))
    case 13 =>
      val id = anyId()
      Step(Step.Read, s"SELECT id, v FROM w WHERE id = $id",
        check = rows => Expect.compare(rows, model.get(id).toSeq.map(v => Seq(id, v))))
    case _ => known()
  }

  def finalCheck(fresh: DuckLakeXLSpark): Seq[String] = {
    val got = Expect.rows(fresh.sql("SELECT id, v FROM w ORDER BY id").collect())
    val want = model.toSeq.map { case (i, v) => Seq(i, v) }
    if (got == want) Nil else Seq(s"final w contents: expected ${Expect.render(want)} got ${Expect.render(got)}")
  }

  override def transportCounters: Map[String, Double] = mock.counters

  def workbookBytes: Long = {
    val tmp = Files.createTempFile(Path.of(dataDir), "workbook", ".xlsx")
    try { XlsxCodec.write(tmp.toString, mock.snapshot); Files.size(tmp) }
    finally Files.deleteIfExists(tmp)
  }

  def close(): Unit = if (mock != null) mock.stop()
}

/** Dialect statements and their known answers, copied from the library's
  * lake oracle rows so that edits there cannot move this workload. The two
  * oracle tables d5 and d6 are one table here (same rows, one write less
  * per set-up).
  */
object Dialect {
  val Setup: String =
    """CREATE TABLE px(id INTEGER, name VARCHAR, price DOUBLE, ts INTEGER);
      |INSERT INTO px VALUES (1,'a',10.0,5),(1,'b',12.0,8),(2,'c',7.0,3),(2,'d',9.0,9);
      |CREATE TABLE quotes(k INTEGER, qts INTEGER, quote DOUBLE);
      |INSERT INTO quotes VALUES (1,4,100.0),(1,7,110.0),(2,1,50.0),(2,8,60.0);
      |CREATE TABLE latest AS SELECT DISTINCT ON (id) * FROM px ORDER BY id, ts DESC;
      |CREATE TABLE dx(id INTEGER, grp VARCHAR, v INTEGER);
      |INSERT INTO dx VALUES (1,'aa',7),(2,'ab',9),(3,'bb',4),(4,'ab',5);
      |CREATE TABLE ev3(id INTEGER, s VARCHAR, d DATE);
      |INSERT INTO ev3 VALUES (1, 'a|b|c', DATE '1995-03-15'), (2, 'x|y', DATE '1995-04-01');
      |CREATE TABLE d56(id INTEGER, xs VARCHAR, a INTEGER, b VARCHAR);
      |INSERT INTO d56 VALUES (1, '1|2|3', 4, 'x'), (2, '4|5', 9, 'y');
      |CREATE TABLE mt(id INTEGER, v INTEGER);
      |INSERT INTO mt VALUES (1, 10), (2, 20), (3, 30)""".stripMargin

  val Reads: IndexedSeq[(String, Seq[Seq[Any]])] = IndexedSeq(
    """SELECT l.id, l.name, l.price, q.qts, q.quote,
      |       list_contains(list_value(1, 7, 8), l.ts) AS ts_listed
      |FROM (SELECT * REPLACE (round(price * 2, 1) AS price) FROM latest) l
      |ASOF JOIN quotes q ON l.id = q.k AND l.ts >= q.qts
      |ORDER BY l.id""".stripMargin ->
      Seq(Seq(1, "b", 24.0, 7, 110.0, true), Seq(2, "d", 18.0, 8, 60.0, false)),
    """SELECT grp,
      |       sum(v) // 2 AS half,
      |       sum(v)::VARCHAR AS total_str,
      |       array_to_string(list_sort(list(v)), ',') AS vs,
      |       count(*) FILTER (WHERE starts_with(grp, 'a')) AS a_cnt
      |FROM dx
      |WHERE regexp_matches(grp, '^[ab]+$')
      |GROUP BY ALL
      |ORDER BY ALL""".stripMargin ->
      Seq(Seq("aa", 3, "7", "7", 1), Seq("ab", 7, "14", "5,9", 2), Seq("bb", 2, "4", "4", 0)),
    """SELECT id,
      |       string_split(s, '|')[1] AS first_tok,
      |       [id, id * 2][2] AS dbl,
      |       strftime(d, '%Y/%m/%d') AS dstr,
      |       date_diff('day', DATE '1995-01-01', d) AS dd
      |FROM ev3 ORDER BY id""".stripMargin ->
      Seq(Seq(1, "a", 2, "1995/03/15", 73), Seq(2, "x", 4, "1995/04/01", 90)),
    """SELECT id,
      |       array_to_string([CAST(x AS INTEGER) * 2 FOR x IN string_split(xs, '|') IF x <> '2'], ',') AS doubled,
      |       [x * 10 FOR x IN [id, id + 1]][2] AS second,
      |       array_to_string(string_split(xs, '|')[1:2], ';') AS head2
      |FROM d56 ORDER BY id""".stripMargin ->
      Seq(Seq(1, "2,6", 20, "1;2"), Seq(2, "8,10", 30, "4;5")),
    """SELECT id, st.a AS sa, st.nest.twice AS tw, el['k1'][1] AS mk, sp.p AS spp
      |FROM (SELECT id,
      |             {'a': a, 'nest': {'twice': a * 2}} AS st,
      |             MAP {'k1': b, 'k2': 'z'} AS el,
      |             struct_pack(p := a + 1) AS sp
      |      FROM d56)
      |ORDER BY id""".stripMargin ->
      Seq(Seq(1, 4, 8, "x", 5), Seq(2, 9, 18, "y", 10)),
    "SELECT id, addtax(v) AS taxed FROM mt WHERE addtax(v) > 12 ORDER BY id" ->
      Seq(Seq(2, 24), Seq(3, 36)),
    """SELECT id, name, price FROM px
      |QUALIFY row_number() OVER (PARTITION BY id ORDER BY ts DESC) = 1
      |ORDER BY id""".stripMargin ->
      Seq(Seq(1, "b", 12.0), Seq(2, "d", 9.0)),
    "SELECT DISTINCT ON (id) id, name FROM px ORDER BY id, price" ->
      Seq(Seq(1, "a"), Seq(2, "c")))
}
