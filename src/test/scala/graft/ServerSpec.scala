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
  // for results whose first row may take longer than `srv`'s 3 s timeout
  private var patient: QueryServer = _
  private var patientBase: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    spark.udf.register("sleep_ms", (ms: Int) => { Thread.sleep(ms.toLong); ms })
    spark.udf.register("gated", (x: Long) => {
      // a gate never opened opens itself after 60 s, so the test fails, not hangs
      if (!ServerSpec.gate.await(60, java.util.concurrent.TimeUnit.SECONDS)) ServerSpec.gate.countDown()
      x
    })
    T.views(spark, sf, T.all: _*)
    srv = new QueryServer(spark, 0, poolSize = 4, queryTimeoutMillis = 3000)
    srv.start()
    base = s"http://localhost:${srv.boundPort}"
    patient = new QueryServer(spark, 0, poolSize = 1)
    patient.start()
    patientBase = s"http://localhost:${patient.boundPort}"
  }

  override def afterAll(): Unit = {
    if (srv != null) srv.stop()
    if (patient != null) patient.stop()
  }

  private def post(body: String, accept: String = "application/json",
      contentType: String = "text/plain",
      encoding: Option[String] = None, to: String = base): HttpResponse[Array[Byte]] = {
    val b = HttpRequest.newBuilder(URI.create(s"$to/"))
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

  private val markers = new java.util.concurrent.atomic.AtomicInteger()

  /** What the scheduler reported: a job started under `group`, or a task
    * of `stage` over `partition` ended, killed or with a result of
    * `resultBytes`.
    */
  private sealed trait Ev
  private final case class JobStart(group: String, stages: Seq[Int]) extends Ev
  private final case class TaskEnd(stage: Int, partition: Int, resultBytes: Long, killed: Boolean)
      extends Ev

  /** Every job start and task end reported while `body` ran, in order. A
    * marker job under its own group runs before and after: once the
    * listener has seen a marker, it has seen every job started before it
    * (the bus delivers in order).
    */
  private def eventsDuring(body: => Unit): Vector[Ev] = {
    import org.apache.spark.TaskKilled
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import scala.jdk.CollectionConverters._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[Ev]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.add(JobStart(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"), e.stageIds))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        events.add(TaskEnd(e.stageId, e.taskInfo.partitionId,
          Option(e.taskMetrics).fold(0L)(_.resultSize), e.reason.isInstanceOf[TaskKilled]))
    }
    def marks(name: String): Ev => Boolean = { case JobStart(g, _) => g == name; case _ => false }
    def seen(name: String) = events.asScala.exists(marks(name))
    def mark(): String = {
      val name = s"mark-${markers.incrementAndGet()}"
      spark.sparkContext.setJobGroup(name, name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen(name) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen(name), s"listener never saw marker $name")
      name
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = mark()
      body
      val b = mark()
      val all = events.asScala.toVector
      all.slice(all.indexWhere(marks(a)) + 1, all.indexWhere(marks(b)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The job group of every job that started while `body` ran, in start order. */
  private def jobsDuring(body: => Unit): Vector[String] =
    eventsDuring(body).collect { case JobStart(g, _) => g }

  test("every job of a request, before and after the first row, runs under that request's job group") {
    val first = jobsDuring(assert(
      post("SELECT * FROM range(0, 200000, 1, 16)", accept = "text/csv").statusCode() == 200))
    val second = jobsDuring(assert(post("SELECT 1").statusCode() == 200))
    // a job per window of one wave over 16 partitions on 4 cores; the
    // first runs on the request's future, the rest while the handler
    // thread streams
    assert(first.size == 4, s"expected a job per window of 4 partitions: $first")
    assert(first.distinct.size == 1 && first.head.startsWith("graft-query-"), first)
    assert(second.nonEmpty && second.distinct.size == 1, second)
    assert(second.head.startsWith("graft-query-") && second.head != first.head, second)
  }

  test("rows come back in partition order, with fewer jobs than partitions") {
    var body = ""
    val jobs = jobsDuring {
      val r = post("SELECT * FROM range(0, 200000, 1, 16)", accept = "text/csv")
      assert(r.statusCode() == 200)
      body = new String(r.body(), "UTF-8")
    }
    val ids = body.split('\n').toVector
    assert(ids.head == "id" && ids.size == 200001)
    assert(ids.tail.iterator.zipWithIndex.forall { case (v, i) => v == i.toString },
      "rows out of order")
    assert(jobs.nonEmpty && jobs.size < 16, jobs)
  }

  test("a one-row-group file cut into several splits serves all its rows in one job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_one_group")
    val path = dir.resolve("t").toString
    spark.range(0, 20000, 1, 1).selectExpr("id", "sha2(CAST(id AS STRING), 256) AS h")
      .write.parquet(path)
    val child = spark.newSession()
    val file = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet")).head
    // three byte-range splits; the row group's midpoint lies in one of them
    child.conf.set("spark.sql.files.maxPartitionBytes", (file.length / 3 + 1).toString)
    val df = child.read.parquet(path)
    assert(df.rdd.getNumPartitions >= 3)
    df.createOrReplaceTempView("one_group")
    val srv1 = new QueryServer(child, 0)
    srv1.start()
    try {
      var lines = 0
      val jobs = jobsDuring {
        val r = post("SELECT id FROM one_group", accept = "text/csv", to = s"http://localhost:${srv1.boundPort}")
        assert(r.statusCode() == 200)
        lines = new String(r.body(), "UTF-8").count(_ == '\n')
      }
      assert(lines == 20001)
      assert(jobs.size == 1, jobs)
    } finally {
      srv1.stop()
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
  }

  test("a window holds one wave of partitions, each at most the task budget") {
    // partitions of random text (incompressible to LZ4), each just under
    // the budget: a ~1 KiB row is 1,028 bytes of UnsafeRow and prefix
    val budget = graft.server.WindowedPull.TaskBudget
    val wave = spark.sparkContext.defaultParallelism
    val perPart = budget * 9 / 10 / 1028
    val parts = 2 * wave
    var lines = 0L
    val events = eventsDuring {
      val r = post(s"SELECT id, randstr(1000) AS s FROM range(0, ${perPart * parts}, 1, $parts)",
        accept = "text/csv", to = patientBase)
      assert(r.statusCode() == 200)
      lines = r.body().count(_ == '\n')
    }
    assert(lines == perPart * parts + 1)
    val jobs = events.collect { case j: JobStart => j }
    assert(jobs.size == 2, s"expected a job per wave of $wave partitions: $jobs")
    for (j <- jobs) {
      val tasks = events.collect { case t: TaskEnd if j.stages.contains(t.stage) => t }
      assert(tasks.size == wave, tasks)
      // the chunks, plus the task's serialized metrics
      assert(tasks.forall(t => t.resultBytes > budget * 3 / 4 && t.resultBytes <= budget + (256 << 10)),
        s"a task's result is not just under the $budget-byte budget: ${tasks.map(_.resultBytes)}")
    }
  }

  test("an overflowing task cancels its window; the rest still streams in order") {
    // one window over three partitions of 20,000 ids: p0 is ~20 MB of
    // random text and passes the budget, p1 is small and arrives at once,
    // p2 keeps 1,000 rows, which wait at a gate that opens when the
    // query's second job (p0 pulled whole) starts, then take 1 ms each
    val sql = "SELECT id, CASE WHEN id < 20000 THEN randstr(1000) WHEN id < 40000 THEN 'x' " +
      "ELSE CAST(gated(id) + sleep_ms(1) AS STRING) END AS s " +
      "FROM range(0, 60000, 1, 3) WHERE id < 41000"
    val opener = new org.apache.spark.scheduler.SparkListener {
      private var starts = 0
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id", "").startsWith("graft-query-"))) {
          starts += 1
          if (starts == 2) ServerSpec.gate.countDown()
        }
    }
    spark.sparkContext.addSparkListener(opener)
    var body = ""
    val events = try eventsDuring {
      val r = post(sql, accept = "text/csv", to = patientBase)
      assert(r.statusCode() == 200)
      body = new String(r.body(), "UTF-8")
    } finally spark.sparkContext.removeSparkListener(opener)
    val ids = body.split('\n').iterator.drop(1).map(l => l.substring(0, l.indexOf(','))).toVector
    assert(ids == (0 until 41000).map(_.toString), "rows missing or out of order")
    val jobs = events.collect { case j: JobStart => j }
    // the window, then p0 and p2 whole; p1's rows had arrived and are kept
    assert(jobs.size == 3, s"expected the window and a job for each of p0 and p2: $jobs")
    val window = events.collect { case t: TaskEnd if jobs.head.stages.contains(t.stage) => t }
    val p0 = window.find(_.partition == 0).get
    assert(!p0.killed && p0.resultBytes < (1 << 20), s"p0 did not stop at the budget: $p0")
    // p2 was killed once it read on, and stopped before its re-pull
    val p2 = window.find(_.partition == 2).get
    assert(p2.killed, s"the window's p2 task was not cancelled: $p2")
    assert(events.indexOf(p2) < events.indexOf(jobs(2)), events)
  }

  test("a client that disconnects mid-stream stops its request's jobs") {
    val one = new QueryServer(spark, 0, poolSize = 1)
    one.start()
    try {
      val sql = "SELECT * FROM range(0, 100000000, 1, 64)"
      val streamed = jobsDuring {
        val sock = new java.net.Socket("localhost", one.boundPort)
        try {
          sock.getOutputStream.write((s"POST / HTTP/1.1\r\nHost: localhost\r\nAccept: text/csv\r\n" +
            s"Content-Type: text/plain\r\nContent-Length: ${sql.length}\r\n\r\n$sql").getBytes("UTF-8"))
          sock.getOutputStream.flush()
          val in = sock.getInputStream
          val buf = new Array[Byte](8192)
          var got = 0
          while (got < (64 << 10)) {
            val n = in.read(buf)
            assert(n > 0, "stream ended early")
            got += n
          }
        } finally {
          sock.setSoLinger(true, 0) // reset, not a graceful close
          sock.close()
        }
        // the one admission slot frees only once that handler is done
        assert(post("SELECT 1", to = s"http://localhost:${one.boundPort}").statusCode() == 200)
      }
      val group = streamed.head
      assert(group.startsWith("graft-query-"))
      // a full read would take 16 windows of 4 of the 64 partitions
      assert(streamed.count(_ == group) < 16, streamed)
      val later = jobsDuring(Thread.sleep(500))
      assert(!later.contains(group), s"a job of the closed request started afterwards: $later")
    } finally one.stop()
  }

  test("every 200 carries Server-Timing with the phases before the first row") {
    val r = post(TestQuery)
    assert(r.statusCode() == 200)
    val timing = r.headers().firstValue("Server-Timing").get()
    val phases = timing.split(", ").toSeq.map(_.split(";dur="))
    assert(phases.map(_.head) == Seq("admit", "rewrite", "plan", "first_row"), timing)
    assert(phases.forall(p => p(1).toDouble >= 0), timing)
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

object ServerSpec {
  /** Holds the `gated` UDF's rows until a test opens it. */
  val gate = new java.util.concurrent.CountDownLatch(1)
}
