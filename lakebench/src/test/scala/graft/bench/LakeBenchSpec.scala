package graft.bench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.xlsx.{GraphRemote, StaticTokenProvider, XlsxCodec}

class LakeBenchSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("p90 is reported only with ten samples beyond it; medians of odd and even counts") {
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    assert(Stats.percentile((1 to 200).map(_.toDouble).reverse, 0.9).contains(180.0))
    assert(Stats.percentile(Seq.empty, 0.9).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the catalog generator is deterministic for a seed") {
    assert(BigCatalog.rows(7, 50) == BigCatalog.rows(7, 50))
    assert(BigCatalog.rows(7, 50) != BigCatalog.rows(8, 50))
    val ids = BigCatalog.rows(7, 50).map(_.map(_.id))
    assert(ids.flatten.distinct.size == ids.flatten.size)
    assert(ids.zip(ids.tail).forall { case (a, b) => a.max < b.min })

    val dirs = Seq.fill(2)(Files.createTempDirectory("lakebench-gen"))
    try {
      val made = dirs.map(d => BigCatalog.generate(spark, d.resolve("lake.xlsx").toString,
        d.resolve("data").toString, seed = 7, files = 20, threads = 2))
      assert(made.head == made(1))
      def files(d: Path) = {
        val sheet = XlsxCodec.read(d.resolve("lake.xlsx").toString).find(_._1 == "data_file").get._2
        val h = sheet.head
        sheet.tail.map(r => Seq("record_count", "file_size_bytes").map(c => r(h.indexOf(c))) :+
          Path.of(r(h.indexOf("path"))).getFileName.toString)
      }
      assert(files(dirs.head) == files(dirs(1)))
      assert(files(dirs.head).map(_.head.toLong).sum == made.head.size)
      val bytes = dirs.map(d => Files.readAllBytes(d.resolve("data/gen/part-000003.parquet")).toSeq)
      assert(bytes.head == bytes(1))
    } finally dirs.foreach(FileUtil.deleteRecursively)
  }

  test("the Graph mock round-trips a workbook through GraphRemote, throttled") {
    val mock = new MockGraph(threads = 2, throttleEvery = 3)
    try {
      val remote = new GraphRemote("d", "lake.xlsx", new StaticTokenProvider("t"), mock.baseUrl,
        backoffMillis = 1L, readConcurrency = 2)
      assert(!remote.exists)
      val sheets = Seq(
        ("metadata", Seq(Seq("key", "value"), Seq("version", "0.1"))),
        ("data_file", Seq(Seq("id", "path"), Seq("1", "/d/p's.parquet"), Seq("2", ""))))
      remote.writeAll(sheets)
      assert(remote.readAll() == sheets)
      assert(mock.snapshot == sheets)
      remote.writeChanged(Seq(sheets.head, ("data_file", Seq(Seq("id", "path")))), Set("data_file"))
      assert(remote.readSheet("data_file").contains(Seq(Seq("id", "path"))))
      val c = mock.counters
      assert(c("graph.requests") > 10 && c("graph.retries") >= 1)
      assert(c("graph.request_bytes") > 0 && c("graph.response_bytes") > 0)
    } finally mock.stop()
  }
}
