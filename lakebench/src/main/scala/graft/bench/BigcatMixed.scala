package graft.bench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.DuckLakeXLSpark
import graft.xlsx.{ExcelRemote, LocalXlsxRemote}

/** A local-xlsx lake of `files` real tiny parquet files, driven by point
  * reads, the metadata `count(*)`, a narrow range aggregate, 1-row INSERTs
  * and one 1-row DELETE or UPDATE per cycle (alternating). Every third
  * write goes through a second handle on the same workbook (a foreign
  * writer), so a read that misses another writer's commit fails its check.
  */
final class BigcatMixed(spark: SparkSession, seed: Long, files: Int, threads: Int)
    extends Workload {
  def cycle = 24

  private var xlsx = ""
  private var dataDir = ""
  private var main: DuckLakeXLSpark = _
  private var foreign: DuckLakeXLSpark = _
  private val model = mutable.HashMap.empty[Long, BigRow]
  private val ids = mutable.ArrayBuffer.empty[Long]
  private var maxId = 0L
  private var lastInserted = Option.empty[Long]
  private var writes = 0
  private val rng = new scala.util.Random(seed * 31 + 7)

  def setup(dir: Path): Unit = {
    xlsx = dir.resolve("lake.xlsx").toString
    dataDir = dir.resolve("data").toString
    val generated = BigCatalog.generate(spark, xlsx, dataDir, seed, files, threads)
    model.clear(); ids.clear()
    generated.foreach { r => model(r.id) = r; ids += r.id }
    maxId = ids.max
    val total = generated.size.toLong
    val fresh = freshHandle()
    val meta = fresh.sql(s"SELECT count(*) FROM ${BigCatalog.Table}").collect().head.getLong(0)
    val scan = fresh.sql(s"SELECT count(*) FROM ${BigCatalog.Table} WHERE amt >= 0")
      .collect().head.getLong(0)
    require(meta == total && scan == total,
      s"generated lake self-check: count(*)=$meta, full scan=$scan, generated=$total")
  }

  def teardown(): Unit = ()

  def open(wrap: ExcelRemote => ExcelRemote): Unit = {
    main = new DuckLakeXLSpark(spark, xlsx, dataDir,
      remoteOverride = Some(wrap(new LocalXlsxRemote(xlsx))))
    foreign = new DuckLakeXLSpark(spark, xlsx, dataDir, lakeName = "bench_foreign",
      remoteOverride = Some(wrap(new LocalXlsxRemote(xlsx))))
  }

  def handle(f: Boolean): DuckLakeXLSpark = if (f) foreign else main

  def freshHandle(): DuckLakeXLSpark =
    new DuckLakeXLSpark(spark, xlsx, dataDir, lakeName = "bench_verify")

  private def anyId(): Long = ids(rng.nextInt(ids.size))

  private def pointRead(id: Long): Step =
    Step(Step.Read, s"SELECT id, grp, v, amt FROM t WHERE id = $id",
      check = rows => Expect.compare(rows,
        model.get(id).toSeq.map(r => Seq(r.id, r.grp, r.v, r.amt))))

  private def write(sql: String, inserted: Long)(commit: => Unit): Step = {
    val f = writes % 3 == 2
    writes += 1
    Step(Step.Write, sql, foreign = f, insertedRows = inserted, commit = () => commit)
  }

  // point reads are two thirds of the reads and inserts all but one of
  // the writes, so each class's median falls inside one kind of statement
  def step(i: Int): Step = i % cycle match {
    case 10 => pointRead(lastInserted.filter(model.contains).getOrElse(anyId()))
    case 2 | 14 =>
      Step(Step.Read, "SELECT count(*) FROM t",
        check = rows => Expect.compare(rows, Seq(Seq(model.size.toLong))))
    case 4 =>
      val lo = anyId()
      val hi = lo + 200
      Step(Step.Read,
        s"SELECT grp, count(*) AS n, sum(amt) AS s FROM t WHERE id BETWEEN $lo AND $hi " +
          "GROUP BY grp ORDER BY grp",
        check = rows => Expect.compare(rows, BigCatalog.rangeAgg(model, lo, hi)))
    case k if k % 2 == 1 && k != 5 =>
      val r = BigRow(maxId + 1 + rng.nextInt(5), rng.nextInt(10), BigCatalog.word(rng),
        rng.nextInt(4000) / 4.0)
      write(s"INSERT INTO t VALUES (${r.id}, ${r.grp}, '${r.v}', ${r.amt})", 1L) {
        model(r.id) = r; ids += r.id; maxId = r.id; lastInserted = Some(r.id)
      }
    case 5 if (i / cycle) % 2 == 0 =>
      val id = anyId()
      write(s"DELETE FROM t WHERE id = $id", 0L) {
        model.remove(id); ids -= id
      }
    case 5 =>
      val id = anyId()
      write(s"UPDATE t SET amt = amt + 1.5 WHERE id = $id", 0L) {
        model(id) = model(id).copy(amt = model(id).amt + 1.5)
      }
    case _ => pointRead(anyId())
  }

  def finalCheck(fresh: DuckLakeXLSpark): Seq[String] = {
    val n = fresh.sql("SELECT count(*) FROM t WHERE amt >= 0").collect().head.getLong(0)
    if (n == model.size) Nil else Seq(s"final full-scan count $n, expected ${model.size}")
  }

  def workbookBytes: Long = Files.size(Path.of(xlsx))
  def close(): Unit = ()
}
