package graft.bench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession

import graft.api.DuckLakeXLSpark
import graft.lake.{DataFileRow, FileColumnStatsRow, SnapshotChangeRow}
import graft.xlsx.XlsxCodec

/** One row of the generated table `t(id BIGINT, grp INTEGER, v VARCHAR,
  * amt DOUBLE)`. `amt` is a multiple of 0.25, so sums are exact in any
  * order.
  */
final case class BigRow(id: Long, grp: Int, v: String, amt: Double)

/** A lake of many real tiny parquet files whose catalog is written through
  * the library's own codec: the library creates the table, then the
  * generator adds one snapshot holding `files` data files, each with its
  * true record count, size and per-column stats, and writes the sheets
  * with [[XlsxCodec.write]]. Files hold disjoint, increasing id ranges, so
  * a point predicate on `id` prunes to one file by stats.
  */
object BigCatalog {
  val Table = "t"
  val Ddl = s"CREATE TABLE $Table(id BIGINT, grp INTEGER, v VARCHAR, amt DOUBLE)"

  private val parquetSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 id;
      |  optional int32 grp;
      |  optional binary v (STRING);
      |  optional double amt;
      |}""".stripMargin)

  /** the rows of every file, deterministic per seed */
  def rows(seed: Long, files: Int): Vector[Vector[BigRow]] = {
    val rng = new scala.util.Random(seed)
    var next = 1L
    Vector.fill(files) {
      next += rng.nextInt(4)
      val n = 2 + rng.nextInt(5)
      val rs = Vector.tabulate(n) { j =>
        BigRow(next + j, rng.nextInt(10), word(rng), rng.nextInt(4000) / 4.0)
      }
      next += 16
      rs
    }
  }

  def word(rng: scala.util.Random): String =
    Iterator.fill(6)(('a' + rng.nextInt(26)).toChar).mkString

  private def writeParquet(path: Path, rs: Seq[BigRow], conf: Configuration): Unit = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(conf).withType(parquetSchema).build()
    val f = new SimpleGroupFactory(parquetSchema)
    try rs.foreach { r =>
      w.write(f.newGroup().append("id", r.id).append("grp", r.grp)
        .append("v", r.v).append("amt", r.amt))
    } finally w.close()
  }

  /** build the lake at `xlsx` + `dataDir`; returns the generated rows */
  def generate(spark: SparkSession, xlsx: String, dataDir: String, seed: Long,
      files: Int, threads: Int): Vector[BigRow] = {
    val perFile = rows(seed, files)
    val fileDir = Files.createDirectories(Path.of(dataDir, "gen"))
    val paths = perFile.indices.map(i => fileDir.resolve(f"part-$i%06d.parquet"))
    // one Hadoop configuration for all writers: building one per file
    // re-reads the default resources every time
    val conf = new Configuration()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futs = perFile.indices.grouped(math.max(1, files / (threads * 4))).map { idx =>
        pool.submit(new Runnable { def run(): Unit = idx.foreach(i => writeParquet(paths(i), perFile(i), conf)) })
      }.toVector
      futs.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
    val lake = new DuckLakeXLSpark(spark, xlsx, dataDir, lakeName = "bench_gen")
    lake.sql(Ddl)
    val st = lake.currentState
    val t = st.tableByName(Table).get
    val cols = st.columnsOf(t.tableId).map(c => c.columnName -> c.columnId).toMap
    val snap = st.currentSnapshot + 1
    val fid0 = st.nextFileId
    val dataFiles = perFile.indices.map { i =>
      DataFileRow(fid0 + i, t.tableId, snap, None, paths(i).toString,
        perFile(i).size.toLong, Files.size(paths(i)))
    }
    def stat(i: Int, col: String, vals: Seq[String]) =
      FileColumnStatsRow(fid0 + i, t.tableId, cols(col), Some(vals.head), Some(vals.last), 0L)
    val stats = perFile.indices.flatMap { i =>
      val rs = perFile(i)
      Seq(stat(i, "id", rs.map(_.id).sorted.map(_.toString)),
        stat(i, "grp", rs.map(_.grp).sorted.map(_.toString)),
        stat(i, "v", rs.map(_.v).sorted),
        stat(i, "amt", rs.map(_.amt).sorted.map(_.toString)))
    }
    val total = perFile.map(_.size.toLong).sum
    val last = st.snapshots.maxBy(_.snapshotId)
    val ns = st.copy(
      snapshots = st.snapshots :+ last.copy(snapshotId = snap, nextFileId = fid0 + files),
      snapshotChanges = st.snapshotChanges :+ SnapshotChangeRow(snap, s"inserted_into_table:$Table"),
      dataFiles = st.dataFiles ++ dataFiles,
      fileColumnStats = st.fileColumnStats ++ stats,
      tableStats = st.tableStats.map(r => if (r.tableId == t.tableId) r.copy(recordCount = total) else r))
    XlsxCodec.write(xlsx, ns.toSheets.map(s => (s.name, s.rows)))
    perFile.flatten
  }

  /** expected answer of the range aggregate, from the model */
  def rangeAgg(model: mutable.Map[Long, BigRow], lo: Long, hi: Long): Seq[Seq[Any]] =
    model.valuesIterator.filter(r => r.id >= lo && r.id <= hi).toSeq
      .groupBy(_.grp).toSeq.sortBy(_._1)
      .map { case (g, rs) => Seq(g, rs.size.toLong, rs.map(_.amt).sum) }
}
