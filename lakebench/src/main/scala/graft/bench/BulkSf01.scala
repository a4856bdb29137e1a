package graft.bench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.DuckLakeXLSpark
import graft.xlsx.{ExcelRemote, LocalXlsxRemote}

/** A local-xlsx lake with a small catalog holding TPC-H-shaped `orders`
  * (150k rows) and `lineitem` (600k rows, range-clustered on
  * `l_shipdate`), generated from the seed. The script runs batched
  * INSERT … SELECT from parquet, a Q1-style aggregate, an orders⋈lineitem
  * aggregate, a QUALIFY top-k, a stats-pruned ship-date range, a narrow
  * DELETE and UPDATE (copy-on-write file rewrites) and a CTAS. Answers are
  * checked against plain Spark over the generated parquet, with the
  * script's writes replayed as DataFrame operations — never through the lake.
  */
final class BulkSf01(spark: SparkSession, seed: Long) extends Workload {
  def cycle = 18

  private val nOrders = 150000L
  private val nLineitem = 600000L
  private val batchRows = 20000L
  private val nBatches = 4
  private var src: Path = _
  private var xlsx = ""
  private var dataDir = ""
  private var main: DuckLakeXLSpark = _
  private var baseOrders: DataFrame = _
  private var baseLineitem: DataFrame = _
  private var batches: IndexedSeq[(String, DataFrame, Long)] = IndexedSeq.empty
  /** the expected `lineitem`: generated rows with every committed write replayed */
  private var expected: DataFrame = _
  private var inserts = 0
  private val rng = new scala.util.Random(seed * 31 + 11)

  private def h(cols: Column*)(salt: Int): Column =
    pmod(hash((cols :+ lit(seed * 1000 + salt)): _*), lit(Int.MaxValue))

  private def ordersFrom(lo: Long, hi: Long, day0: String, days: Int): DataFrame =
    spark.range(lo, hi).select(
      col("id").as("o_orderkey"),
      (h(col("id"))(1) % 15000 + 1).cast("bigint").as("o_custkey"),
      date_add(lit(day0).cast("date"), (h(col("id"))(2) % days).cast("int")).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (h(col("id"))(3) % 5 + 1).cast("int")).as("o_orderpriority"),
      ((h(col("id"))(4) % 50000000) / 100.0).as("o_totalprice"))

  /** `n` lineitem rows with ship dates rising over `days` from `day0`:
    * each of the `files` range partitions holds one contiguous ship-date
    * window (stats prune on it) without a shuffle or sort
    */
  private def lineitemRows(n: Long, files: Int, day0: String, days: Int,
      keyLo: Long, keys: Long): DataFrame = {
    val id = col("id")
    spark.range(0, n, 1, files)
      .select(
        (h(id)(5) % keys + keyLo).cast("bigint").as("l_orderkey"),
        (id % 7 + 1).cast("int").as("l_linenumber"),
        (h(id)(6) % 50 + 1).cast("double").as("l_quantity"),
        (h(id)(8) % 100000).as("price"),
        ((h(id)(9) % 11) / 100.0).as("l_discount"),
        ((h(id)(10) % 9) / 100.0).as("l_tax"),
        (h(id)(11) % 2).as("flag"),
        date_add(lit(day0).cast("date"), (id * days / n).cast("int")).as("l_shipdate"))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        round(col("l_quantity") * (col("price") / 100.0 + 900.0), 2).as("l_extendedprice"),
        col("l_discount"), col("l_tax"),
        when(col("l_shipdate") <= lit("1995-06-17").cast("date"),
          element_at(array(lit("R"), lit("A")), (col("flag") + 1).cast("int")))
          .otherwise(lit("N")).as("l_returnflag"),
        when(col("l_shipdate") > lit("1995-06-17").cast("date"), lit("O"))
          .otherwise(lit("F")).as("l_linestatus"),
        col("l_shipdate"))
  }

  override def prepare(work: Path): Unit = {
    src = work.resolve("src")
    ordersFrom(1, nOrders + 1, "1992-01-01", 2405).coalesce(4)
      .write.parquet(src.resolve("orders").toString)
    lineitemRows(nLineitem, 16, "1992-01-02", 2525, 1, nOrders)
      .write.parquet(src.resolve("lineitem").toString)
    batches = (0 until nBatches).map { b =>
      val p = src.resolve(s"batch-$b").toString
      // batches ship in 1999, after the base data, in a window of their own,
      // under order keys no order has
      lineitemRows(batchRows, 1, f"1999-01-${1 + b}%02d", 20, nOrders + 1, nOrders)
        .write.parquet(p)
      (p, spark.read.parquet(p), batchRows)
    }
    baseOrders = spark.read.parquet(src.resolve("orders").toString)
    baseLineitem = spark.read.parquet(src.resolve("lineitem").toString)
  }

  def setup(dir: Path): Unit = {
    xlsx = dir.resolve("lake.xlsx").toString
    dataDir = dir.resolve("data").toString
    val lake = new DuckLakeXLSpark(spark, xlsx, dataDir, lakeName = "bench_load")
    lake.sql(
      s"""CREATE TABLE orders AS SELECT * FROM read_parquet('${src.resolve("orders")}/*.parquet');
         |CREATE TABLE lineitem AS SELECT * FROM read_parquet('${src.resolve("lineitem")}/*.parquet')""".stripMargin)
    expected = baseLineitem
    val fresh = freshHandle()
    val nl = nLineitem
    val counts = Seq(
      "SELECT count(*) FROM orders" -> nOrders,
      "SELECT count(*) FROM lineitem" -> nl,
      "SELECT count(*) FROM lineitem WHERE l_quantity > 0" -> nl)
    counts.foreach { case (q, want) =>
      val got = fresh.sql(q).collect().head.getLong(0)
      require(got == want, s"loaded lake self-check: $q = $got, expected $want")
    }
  }

  def teardown(): Unit = ()

  def open(wrap: ExcelRemote => ExcelRemote): Unit =
    main = new DuckLakeXLSpark(spark, xlsx, dataDir, remoteOverride = Some(wrap(new LocalXlsxRemote(xlsx))))

  def handle(foreign: Boolean): DuckLakeXLSpark = main

  def freshHandle(): DuckLakeXLSpark =
    new DuckLakeXLSpark(spark, xlsx, dataDir, lakeName = "bench_verify")

  /** the same query text over plain-Spark views of the expected tables */
  private def oracle(sql: String): Seq[Seq[Any]] = {
    expected.createOrReplaceTempView("bench_exp_lineitem")
    baseOrders.createOrReplaceTempView("bench_exp_orders")
    Expect.rows(spark.sql(sql.replace("lineitem", "bench_exp_lineitem")
      .replace("orders", "bench_exp_orders")).collect())
  }

  private def read(sql: String, oracleSql: String = null): Step =
    Step(Step.Read, sql, check = rows =>
      Expect.compare(rows, oracle(Option(oracleSql).getOrElse(sql)), tol = 1e-9))

  private def day(lo: String, span: Int): String =
    java.time.LocalDate.parse(lo).plusDays(rng.nextInt(span)).toString

  // reads and writes alternate; ship-date range reads are two thirds of
  // the reads and batched inserts two thirds of the writes, so each class's
  // median falls inside one kind of statement instead of between two
  def step(i: Int): Step = i % cycle match {
    case 0 | 2 | 6 | 8 | 12 | 14 =>
      val (p, df, n) = batches(inserts % nBatches)
      inserts += 1
      Step(Step.Write, s"INSERT INTO lineitem SELECT * FROM read_parquet('$p/*.parquet')",
        insertedRows = n, commit = () => expected = expected.unionByName(df))
    case 3 =>
      read("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             |  sum(l_extendedprice) AS sum_base,
             |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
             |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
             |  avg(l_discount) AS avg_disc, count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= DATE '1999-12-01'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    case 4 =>
      val cond = s"l_shipdate = DATE '${day("1992-03-01", 2300)}' AND l_quantity <= 25"
      Step(Step.Write, s"DELETE FROM lineitem WHERE $cond",
        commit = () => expected = expected.filter(not(expr(cond))))
    case 7 =>
      val d0 = day("1993-01-01", 1500)
      read(s"""SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS revenue
              |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              |WHERE o_orderdate >= DATE '$d0' AND o_orderdate < DATE '$d0' + INTERVAL 90 DAY
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    case 13 =>
      val d0 = day("1992-06-01", 2000)
      val where = s"l_shipdate BETWEEN DATE '$d0' AND DATE '$d0' + INTERVAL 30 DAY"
      val cols = "l_returnflag, l_orderkey, l_linenumber, l_extendedprice"
      val order = "l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber"
      read(s"SELECT $cols FROM lineitem WHERE $where " +
          s"QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY $order) <= 3 ORDER BY $order",
        s"SELECT $cols FROM (SELECT $cols, row_number() OVER (PARTITION BY l_returnflag " +
          s"ORDER BY $order) AS rn FROM lineitem WHERE $where) WHERE rn <= 3 ORDER BY $order")
    case 10 =>
      val cond = s"l_shipdate = DATE '${day("1992-03-01", 2300)}' AND l_quantity > 25"
      Step(Step.Write, s"UPDATE lineitem SET l_discount = 0.0 WHERE $cond",
        commit = () => expected = expected.withColumn("l_discount",
          when(expr(cond), lit(0.0)).otherwise(col("l_discount"))))
    case 1 | 5 | 9 | 11 | 15 | 17 =>
      val d0 = day("1992-03-01", 2300)
      read(s"""SELECT count(*) AS n, sum(l_quantity) AS qty, sum(l_extendedprice) AS base
              |FROM lineitem WHERE l_shipdate BETWEEN DATE '$d0' AND DATE '$d0' + INTERVAL 6 DAY""".stripMargin)
    case 16 =>
      val body = "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
      Step(Step.Write, s"CREATE OR REPLACE TABLE flag_summary AS $body", check = _ => {
        val st = main.currentState
        val paths = st.tableByName("flag_summary").toSeq.flatMap(t => st.filesOf(t.tableId)).map(_.path)
        val got = if (paths.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else spark.read.parquet(paths: _*).orderBy("l_returnflag", "l_linestatus").collect()
        Expect.compare(got, oracle(body + " ORDER BY l_returnflag, l_linestatus"), tol = 1e-9)
      })
  }

  def finalCheck(fresh: DuckLakeXLSpark): Seq[String] = {
    val n = fresh.sql("SELECT count(*) FROM lineitem").collect().head.getLong(0)
    val want = expected.count()
    if (n == want) Nil else Seq(s"final lineitem count $n, expected $want")
  }

  def workbookBytes: Long = Files.size(Path.of(xlsx))
  def close(): Unit = ()
}
