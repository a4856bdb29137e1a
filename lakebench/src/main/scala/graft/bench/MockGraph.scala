package graft.bench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stand-in for the Microsoft Graph workbook API on a loopback
  * port: item resolve, workbook upload, createSession/closeSession,
  * worksheets list/add/delete, usedRange GET/clear and range PATCH over
  * one in-memory workbook. Every `throttleEvery`-th workbook call answers
  * 429 with `Retry-After: 0` (0 turns throttling off). Counts requests,
  * served 429s and body bytes in both directions.
  */
final class MockGraph(threads: Int, throttleEvery: Int) {
  private val item = "lake.xlsx"
  private val mapper = new ObjectMapper()
  private val sheets = mutable.LinkedHashMap.empty[String, Seq[Seq[String]]]
  @volatile private var workbookExists = false
  private var sessions = 0
  private var workbookCalls = 0L

  val requests = new AtomicLong
  val retries = new AtomicLong
  val requestBytes = new AtomicLong
  val responseBytes = new AtomicLong

  // without TCP_NODELAY every small response waits out the client's
  // delayed ACK (~40 ms per request), a stall of the mock, not of Graph
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val executor: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(executor)
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1.0"

  def counters: Map[String, Double] = Map(
    "graph.requests" -> requests.get.toDouble,
    "graph.retries" -> retries.get.toDouble,
    "graph.request_bytes" -> requestBytes.get.toDouble,
    "graph.response_bytes" -> responseBytes.get.toDouble)

  /** the workbook as it is stored now */
  def snapshot: Seq[(String, Seq[Seq[String]])] = synchronized(sheets.toSeq)

  def stop(): Unit = {
    server.stop(0)
    executor.shutdown()
    executor.awaitTermination(30, TimeUnit.SECONDS)
  }

  private def respond(ex: HttpExchange, code: Int, body: String = ""): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    responseBytes.addAndGet(bytes.length)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def sheetOf(p: String): String =
    p.substring(p.indexOf("worksheets('") + 12, p.indexOf("')")).replace("''", "'")

  private def handle(ex: HttpExchange): Unit = {
    val path = java.net.URLDecoder.decode(ex.getRequestURI.getRawPath, StandardCharsets.UTF_8)
    val method = ex.getRequestMethod
    val body = ex.getRequestBody.readAllBytes()
    requests.incrementAndGet()
    requestBytes.addAndGet(body.length)
    val throttle = path.contains("/workbook/") && throttleEvery > 0 && synchronized {
      workbookCalls += 1
      workbookCalls % throttleEvery == 0
    }
    if (throttle) {
      retries.incrementAndGet()
      ex.getResponseHeaders.set("Retry-After", "0")
      respond(ex, 429, """{"error":"throttled"}""")
      return
    }
    def text = new String(body, StandardCharsets.UTF_8)
    try (method, path) match {
      case ("GET", p) if p.endsWith(s":/$item") =>
        if (workbookExists) respond(ex, 200, """{"id":"item1"}""")
        else respond(ex, 404, """{"error":"itemNotFound"}""")
      case ("PUT", p) if p.endsWith(s":/$item:/content") =>
        synchronized {
          workbookExists = true
          if (sheets.isEmpty) sheets("Sheet1") = Seq.empty
        }
        respond(ex, 201, """{"id":"item1"}""")
      case ("POST", p) if p.endsWith("/workbook/createSession") =>
        val id = synchronized { sessions += 1; sessions }
        respond(ex, 201, s"""{"id":"sess$id"}""")
      case ("POST", p) if p.endsWith("/workbook/closeSession") =>
        respond(ex, 204)
      case ("GET", p) if p.endsWith("/workbook/worksheets") =>
        val names = synchronized(sheets.keys.toSeq)
          .map(n => s"""{"name":${mapper.writeValueAsString(n)}}""").mkString(",")
        respond(ex, 200, s"""{"value":[$names]}""")
      case ("POST", p) if p.endsWith("/workbook/worksheets/add") =>
        val n = mapper.readTree(text).get("name").asText()
        synchronized(sheets.getOrElseUpdate(n, Seq.empty))
        respond(ex, 201, s"""{"name":${mapper.writeValueAsString(n)}}""")
      case ("POST", p) if p.contains("/worksheets('") && p.endsWith("/usedRange/clear") =>
        synchronized(sheets(sheetOf(p)) = Seq.empty)
        respond(ex, 204)
      case ("GET", p) if p.contains("/worksheets('") && p.endsWith("/usedRange") =>
        val rows = synchronized(sheets.getOrElse(sheetOf(p), Seq.empty))
        val cells = mapper.writeValueAsString(rows.map(_.asJava).asJava)
        respond(ex, 200, s"""{"address":"A1","text":$cells}""")
      case ("DELETE", p) if p.contains("/worksheets('") =>
        synchronized(sheets.remove(sheetOf(p)))
        respond(ex, 204)
      case ("PATCH", p) if p.contains("/range(address=") =>
        val vals = mapper.readTree(text).get("values")
        val rows = vals.elements().asScala.map(r => r.elements().asScala.map(_.asText()).toSeq).toSeq
        synchronized(sheets(sheetOf(p)) = rows)
        respond(ex, 200, "{}")
      case _ =>
        respond(ex, 500, s"""{"error":"unhandled $method $path"}""")
    } catch {
      case e: Exception => respond(ex, 500, s"""{"error":${mapper.writeValueAsString(e.toString)}}""")
    }
  }
}
