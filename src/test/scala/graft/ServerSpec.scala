package graft

import graft.server.{Protocol, QueryServer}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** In-process HTTP integration tests mirroring the reference suite
  * (uquery-rs src/main.rs:107-527): golden JSON/CSV bytes, Arrow IPC
  * decode, gzip magic bytes, 400/406/408 problem+json, raw-SQL and
  * JSON bodies, health.
  */
class ServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private val TestQuery =
    "SELECT * FROM (VALUES (1,'Rust','Safe, concurrent, performant systems language')) Language(Id,Name,Description)"

  private var srv: QueryServer = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    spark.udf.register("sleep_ms", (ms: Int) => { Thread.sleep(ms.toLong); ms })
    T.views(spark, sf, T.all: _*)
    srv = new QueryServer(spark, 0, poolSize = 4, queryTimeoutMillis = 3000)
    srv.start()
    base = s"http://localhost:${srv.boundPort}"
  }

  override def afterAll(): Unit = if (srv != null) srv.stop()

  private def post(body: String, accept: String = "application/json",
      contentType: String = "text/plain",
      encoding: Option[String] = None): HttpResponse[Array[Byte]] = {
    val b = HttpRequest.newBuilder(URI.create(s"$base/"))
      .header("Accept", accept).header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body))
    encoding.foreach(e => b.header("Accept-Encoding", e))
    client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  test("health returns 200") {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"$base/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
  }

  test("golden JSON array bytes (raw SQL body)") {
    val r = post(TestQuery)
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() == "application/json")
    assert(new String(r.body(), "UTF-8") ==
      "[{\"Id\":1,\"Name\":\"Rust\",\"Description\":\"Safe, concurrent, performant systems language\"}]")
  }

  test("golden JSON via JSON request body") {
    val r = post(s"""{"query": ${Protocol.jsonString(TestQuery)}}""",
      contentType = "application/json")
    assert(r.statusCode() == 200)
    assert(new String(r.body(), "UTF-8").startsWith("[{\"Id\":1,"))
  }

  test("golden CSV bytes with RFC-4180 quoting") {
    val r = post(TestQuery, accept = "text/csv")
    assert(r.statusCode() == 200)
    assert(new String(r.body(), "UTF-8") ==
      "Id,Name,Description\n1,Rust,\"Safe, concurrent, performant systems language\"\n")
  }

  test("CSV renders nested values as DuckDB's text conversion (round-15 bytes fuzz)") {
    val r = post("SELECT array(1, 2) AS arr, named_struct('k', 7) AS st", accept = "text/csv")
    assert(r.statusCode() == 200)
    // DuckDB's VARCHAR forms — `[1, 2]` / `{'k': 7}` (oracle-measured
    // via COPY CSV 2026-08-17), RFC-4180 quoted where the text holds a
    // comma; never compact JSON, never Scala toString
    assert(new String(r.body(), "UTF-8") == "arr,st\n\"[1, 2]\",{'k': 7}\n")
  }
  test("CSV nested NULL elements spell NULL like the oracle") {
    val r = post("SELECT [1, NULL, 3] AS a, ['x,y', 'b'] AS b", accept = "text/csv")
    assert(r.statusCode() == 200)
    assert(new String(r.body(), "UTF-8") == "a,b\n\"[1, NULL, 3]\",\"[x,y, b]\"\n")
  }

  test("JSON Lines format") {
    val r = post("SELECT explode(array(1, 2, 3)) AS v", accept = "application/jsonl")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() == "application/jsonlines")
    assert(new String(r.body(), "UTF-8") == "{\"v\":1}\n{\"v\":2}\n{\"v\":3}\n")
  }

  test("Arrow IPC stream decodes with values intact") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val r = post(TestQuery, accept = "application/vnd.apache.arrow.stream")
    assert(r.statusCode() == 200)
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(r.body()), alloc)
    try {
      assert(reader.loadNextBatch())
      val root = reader.getVectorSchemaRoot
      assert(root.getRowCount == 1)
      assert(root.getVector("Id").getObject(0) == 1)
      assert(root.getVector("Name").getObject(0).toString == "Rust")
      assert(root.getVector("Description").getObject(0).toString ==
        "Safe, concurrent, performant systems language")
    } finally { reader.close(); alloc.close() }
  }

  test("Arrow IPC round-trips timestamps, doubles, and nested fallback") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val r = post(
      """SELECT TIMESTAMP '2024-01-02 03:04:05.123456' AS ts,
                CAST(1.5 AS DOUBLE) AS d, array(1, 2) AS arr""",
      accept = "application/vnd.apache.arrow.stream")
    assert(r.statusCode() == 200)
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(r.body()), alloc)
    try {
      assert(reader.loadNextBatch())
      val root = reader.getVectorSchemaRoot
      // TZ-aware micro vectors surface the raw epoch-micros long
      assert(root.getVector("ts").getObject(0) ==
        java.time.Instant.parse("2024-01-02T03:04:05.123456Z").toEpochMilli * 1000L + 456L)
      assert(root.getVector("d").getObject(0) == 1.5d)
      assert(root.getVector("arr").getObject(0).toString == "[1,2]") // JSON fallback
    } finally { reader.close(); alloc.close() }
  }

  test("Arrow IPC preserves DECIMAL as Decimal128, not utf8") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val r = post("SELECT CAST(12345.6789 AS DECIMAL(18,4)) AS dec",
      accept = "application/vnd.apache.arrow.stream")
    assert(r.statusCode() == 200)
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(r.body()), alloc)
    try {
      assert(reader.loadNextBatch())
      val root = reader.getVectorSchemaRoot
      val field = root.getSchema.findField("dec")
      val t = field.getType.asInstanceOf[org.apache.arrow.vector.types.pojo.ArrowType.Decimal]
      assert(t.getPrecision == 18 && t.getScale == 4)
      assert(root.getVector("dec").getObject(0) == new java.math.BigDecimal("12345.6789"))
    } finally { reader.close(); alloc.close() }
  }

  test("TIMESTAMP_NTZ renders as DuckDB's naive TIMESTAMP in all four formats") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    import org.apache.arrow.vector.types.pojo.ArrowType
    // parquet timestamps written without UTC adjustment read as NTZ
    assert(spark.table("orders").schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val cases = Seq(
      ("SELECT o_orderdate AS ts FROM orders WHERE o_orderkey = 0",
        "1997-01-15 00:00:00", java.time.LocalDateTime.of(1997, 1, 15, 0, 0)),
      ("SELECT CAST('2024-01-02 03:04:05.12' AS TIMESTAMP_NTZ) AS ts",
        "2024-01-02 03:04:05.12", java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 120000000)))
    cases.foreach { case (sql, text, ldt) =>
      def body(accept: String): String = {
        val r = post(sql, accept = accept)
        assert(r.statusCode() == 200, s"$accept: ${new String(r.body(), "UTF-8")}")
        new String(r.body(), "UTF-8")
      }
      assert(body("text/csv") == s"ts\n$text\n")
      assert(body("application/json") == s"""[{"ts":"$text"}]""")
      assert(body("application/jsonl") == s"""{"ts":"$text"}\n""")
      val r = post(sql, accept = "application/vnd.apache.arrow.stream")
      val alloc = new RootAllocator(Long.MaxValue)
      val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(r.body()), alloc)
      try {
        assert(reader.loadNextBatch())
        val root = reader.getVectorSchemaRoot
        val t = root.getSchema.findField("ts").getType.asInstanceOf[ArrowType.Timestamp]
        assert(t.getUnit == org.apache.arrow.vector.types.TimeUnit.MICROSECOND && t.getTimezone == null)
        assert(root.getVector("ts").getObject(0) == ldt) // naive vectors surface LocalDateTime
      } finally { reader.close(); alloc.close() }
    }
  }

  test("every job of a request, before and after the first row, runs under that request's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    // one job under a marker group: once the listener has seen it, it
    // has seen every job started before it (the bus delivers in order)
    def mark(name: String): Unit = {
      spark.sparkContext.setJobGroup(name, name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(name) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(name), s"listener never saw marker $name")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      mark("mark-0")
      assert(post("SELECT * FROM range(0, 200000, 1, 4)", accept = "text/csv").statusCode() == 200)
      mark("mark-1")
      assert(post("SELECT 1").statusCode() == 200)
      mark("mark-2")
      val seen = groups.asScala.toVector
      def between(a: String, b: String) = seen.slice(seen.indexOf(a) + 1, seen.indexOf(b))
      val first = between("mark-0", "mark-1")
      val second = between("mark-1", "mark-2")
      // one job per partition: the first runs on the request's future,
      // the rest while the handler thread streams
      assert(first.size >= 4, s"expected a job per partition: $first")
      assert(first.distinct.size == 1 && first.head.startsWith("graft-query-"), first)
      assert(second.nonEmpty && second.distinct.size == 1, second)
      assert(second.head.startsWith("graft-query-") && second.head != first.head, second)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("content negotiation: first match wins, */* is JSON, unknown is 406") {
    assert(post(TestQuery, accept = "application/xml,application/vnd.apache.arrow.stream")
      .headers().firstValue("Content-Type").get() == "application/vnd.apache.arrow.stream")
    assert(post(TestQuery, accept = "*/*")
      .headers().firstValue("Content-Type").get() == "application/json")
    val bad = post(TestQuery, accept = "text/html,application/xml")
    assert(bad.statusCode() == 406)
    assert(bad.headers().firstValue("Content-Type").get() == "application/problem+json")
  }

  test("SQL error yields 400 problem+json") {
    val r = post("SELECT * FROM missing_table_xyz")
    assert(r.statusCode() == 400)
    val body = new String(r.body(), "UTF-8")
    assert(body.contains("\"status\":400") && body.contains("\"title\":\"SQL Error\""))
  }

  test("slow first row yields 408 problem+json") {
    val r = post("SELECT sleep_ms(20000) AS x")
    assert(r.statusCode() == 408)
    assert(new String(r.body(), "UTF-8").contains("\"title\":\"Query Timeout\""))
  }

  test("gzip encoding when requested") {
    val r = post(TestQuery, encoding = Some("gzip"))
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Encoding").get() == "gzip")
    assert((r.body()(0) & 0xff) == 0x1f && (r.body()(1) & 0xff) == 0x8b)
  }

  test("oversized body yields 400") {
    val big = "SELECT 1 -- " + ("x" * (Protocol.MaxBodyBytes + 10))
    assert(post(big).statusCode() == 400)
  }

  test("CORS preflight when enabled (ref: main.rs:261-287)") {
    val cors = new graft.server.QueryServer(spark, 0, corsEnabled = true)
    cors.start()
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${cors.boundPort}/"))
          .method("OPTIONS", HttpRequest.BodyPublishers.noBody())
          .header("Origin", "http://example.com")
          .header("Access-Control-Request-Method", "POST").build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Access-Control-Allow-Origin").get() == "*")
    } finally cors.stop()
  }

  test("queries the sf tables end-to-end") {
    val r = post("SELECT count(*) AS n FROM lineitem")
    assert(new String(r.body(), "UTF-8").matches("""\[\{"n":\d+\}\]"""))
  }
}
