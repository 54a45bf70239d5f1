package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.io.OutputStream
import java.net.InetSocketAddress
import java.util.concurrent.{Executors, Semaphore, TimeUnit, TimeoutException}
import java.util.zip.GZIPOutputStream
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{CommandResultExec, SQLExecution}
import Protocol._

/** The reference's serving plane on Spark: `POST /` SQL → negotiated
  * streaming response; `GET /health` (uquery-rs src/web/routers.rs).
  *
  * Faithful behaviors:
  *   - content negotiation matrix incl. any-wildcard→JSON, none→406
  *   - JSON `{"query"}` or raw-SQL body, 256 KiB cap (request.rs:41)
  *   - problem+json errors: 400 SQL error, 406, 408 timeout, 500
  *   - pool-bounded admission (default 4; core/duckdb.rs:9-45's
  *     connection pool becomes a fair semaphore around job submission)
  *   - time-to-FIRST-ROW timeout only — once streaming starts the
  *     response runs to completion (routers.rs:32-58,151-164)
  *   - gzip when Accept-Encoding requests it
  *   - bounded memory: Spark's internal rows stream from the executed
  *     plan straight into the compiled encoders, pulled by one job per
  *     window of partitions whose tasks each buffer at most
  *     `WindowedPull.TaskBudget` compressed bytes (the 1 MiB duplex
  *     pipe's role is played by that per-window bound)
  *   - every job of a request, before and after the first row, runs
  *     under that request's job group, and a client that disconnects
  *     mid-stream cancels it
  *   - a `Server-Timing` header on every 200: admission wait, dialect
  *     rewrite, planning and the wait for the first row
  */
final class QueryServer(
    spark: SparkSession,
    port: Int,
    poolSize: Int = 4,
    queryTimeoutMillis: Long = 30000L,
    allowedDirs: Seq[String] = Nil,
    corsEnabled: Boolean = false) {

  /** Filesystem sandbox (uquery-rs `SET allowed_directories` +
    * `enable_external_access=false`, src/cli/options.rs:193-199):
    * every file-backed relation in the ANALYZED plan must live under
    * an allowed prefix — plan-level enforcement, immune to SQL string
    * obfuscation. Empty list = unrestricted (matches the reference
    * when no sandbox flags are set).
    */
  private def violatingPaths(df: DataFrame): Seq[String] = {
    if (allowedDirs.isEmpty) return Nil
    val roots = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
    }.flatten
    roots.filterNot(pathAllowed)
  }

  // component-aware containment (like DuckDB's allowed_directories):
  // /root/testdata admits /root/testdata and /root/testdata/x.parquet,
  // but NOT the sibling /root/testdata-evil
  private def under(p: String, d: String): Boolean = {
    val dir = d.stripSuffix("/")
    p == dir || p.startsWith(dir + "/")
  }

  // canonicalize the configured roots once: an allowed dir that is
  // itself a symlink must match the resolved paths of its contents
  private val allowedRoots: Seq[String] = allowedDirs.map { d =>
    val abs = java.nio.file.Paths.get(d).toAbsolutePath.normalize()
    (try abs.toRealPath() catch { case NonFatal(_) => abs }).toString
  }

  private def pathAllowed(p: String): Boolean = {
    if (allowedDirs.isEmpty) return true
    // normalize BEFORE the containment test: '..' segments would
    // otherwise escape the prefix ('/allowed/../etc' starts with
    // '/allowed/') — and the dialect shim reads schemas pre-plan.
    // Resolve symlinks too (toRealPath): a link inside an allowed dir
    // pointing outside it must fail the containment test the same way a
    // canonicalized check would. Non-existent paths (globs, yet-to-exist
    // sinks) fall back to the lexical normalization; unparseable paths
    // fail closed.
    val norm =
      try {
        val abs = java.nio.file.Paths.get(p).toAbsolutePath.normalize()
        (try abs.toRealPath() catch { case _: java.io.IOException => abs }).toString
      } catch { case NonFatal(_) => return false } // unparseable → fail closed
    allowedRoots.exists(d => under(norm, d))
  }

  /** DuckDB's `COPY (query|table) TO 'path' [(options)]` — the file
    * export verb (reference clients reach it through libduckdb; a
    * READ_ONLY database attach does not stop filesystem COPY there,
    * and allowed_directories admits writes inside the sandbox the
    * same way it admits reads). FORMAT parquet/csv/json (default by
    * extension, else csv — DuckDB's default), HEADER, DELIMITER, and
    * PER_THREAD_OUTPUT. Without PER_THREAD_OUTPUT the DuckDB-faithful
    * SINGLE FILE is produced (coalesced write + move — inherently
    * serial, exactly like DuckDB's own default); with it, Spark writes
    * the per-task DIRECTORY in parallel — DuckDB's own spelling for
    * the scale path, and the right one at 100 TB. Returns DuckDB's
    * 1-row BIGINT `Count` result.
    */
  private val CopyRe =
    """(?is)^\s*COPY\s+(\(.+\)|[A-Za-z_][A-Za-z0-9_.]*)\s+TO\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r

  private def handleCopy(src: String, outPath: String, optStr: String)
      : Either[Problem, DataFrame] = {
    if (allowedDirs.nonEmpty && !pathAllowed(outPath))
      return Left(Problem(400, "SQL Error",
        s"file access outside allowed directories: $outPath"))
    var fmt: Option[String] = None
    // DuckDB writes a CSV header UNLESS told otherwise (pinned against
    // DuckDB 1.x: `COPY t TO 'f.csv'` starts with the column line) —
    // defaulting false here was a silent divergence (round 9, CopySpec)
    var header = true
    var delim = ","
    var perThread = false
    var partitionBy: Seq[String] = Nil
    // split options on top-level commas only: PARTITION_BY (a, b)
    // carries commas inside its parens
    val opts = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var depth = 0; val sb = new StringBuilder
      for (c <- optStr) c match {
        case '(' => depth += 1; sb.append(c)
        case ')' => depth -= 1; sb.append(c)
        case ',' if depth == 0 => out += sb.toString; sb.clear()
        case _ => sb.append(c)
      }
      if (sb.nonEmpty) out += sb.toString
      out.toSeq.map(_.trim).filter(_.nonEmpty)
    }
    for (o <- opts) {
      val parts = o.split("\\s+", 2)
      val v = if (parts.length > 1) parts(1).trim.stripPrefix("'").stripSuffix("'") else ""
      parts(0).toUpperCase match {
        case "FORMAT" => fmt = Some(v.toLowerCase)
        case "HEADER" => header = v.isEmpty || v.equalsIgnoreCase("true") || v == "1"
        case "DELIMITER" | "DELIM" | "SEP" => delim = v
        case "PER_THREAD_OUTPUT" => perThread = v.isEmpty || v.equalsIgnoreCase("true")
        // DuckDB's hive-partitioned directory write — identical
        // path/col=value/ layout on both engines, and the writer shape
        // that scales: every partition streams out in parallel
        case "PARTITION_BY" =>
          partitionBy = v.stripPrefix("(").stripSuffix(")")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          if (partitionBy.isEmpty) return Left(Problem(400, "SQL Error",
            "PARTITION_BY requires at least one column"))
        case "COMPRESSION" => () // codec choice never changes values
        case other => return Left(Problem(400, "SQL Error",
          s"COPY option not supported: $other")) // loud, never silent
      }
    }
    val format = fmt.getOrElse {
      val p = outPath.toLowerCase
      if (p.endsWith(".parquet")) "parquet"
      else if (p.endsWith(".json") || p.endsWith(".ndjson") || p.endsWith(".jsonl")) "json"
      else "csv"
    }
    if (!Set("parquet", "csv", "json").contains(format))
      return Left(Problem(400, "SQL Error", s"COPY format not supported: $format"))
    val trimmed = src.trim
    val inner =
      if (trimmed.startsWith("(")) trimmed.drop(1).dropRight(1)
      else s"SELECT * FROM $trimmed"
    val df =
      try Dialect.sqlServed(spark, Dialect.rewrite(spark, inner, pathAllowed))
      catch {
        case Dialect.RejectedPath(p) =>
          return Left(Problem(400, "SQL Error",
            s"file access outside allowed directories: $p"))
        case NonFatal(e) =>
          return Left(Problem(400, "SQL Error", String.valueOf(e.getMessage)))
      }
    val outside =
      try violatingPaths(df)
      catch { case NonFatal(e) => Seq(s"<unverifiable plan: ${e.getMessage}>") }
    if (outside.nonEmpty)
      return Left(Problem(400, "SQL Error",
        s"file access outside allowed directories: ${outside.mkString(", ")}"))
    val cached = df.persist()
    try {
      val n = cached.count()
      def write(d: DataFrame, path: String): Unit = {
        val w0 = d.write.mode("overwrite")
        val w = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
        format match {
          case "parquet" => w.parquet(path)
          // DuckDB's JSON writer emits explicit nulls ({"d":null});
          // Spark drops null fields by default — a reader diffing the
          // two exports would see missing keys (round 9, CopySpec)
          case "json" => w.option("ignoreNullFields", "false").json(path)
          case _ => w.option("header", header).option("sep", delim).csv(path)
        }
      }
      // PARTITION_BY always writes the directory tree (DuckDB's
      // partitioned COPY is inherently a directory layout)
      if (perThread || partitionBy.nonEmpty) write(cached, outPath)
      else {
        // DuckDB's default single-file contract: coalesced write into a
        // scratch dir, then move the lone part file to the target
        val tmp = java.nio.file.Files.createTempDirectory("graft_copy")
        try {
          val stage = tmp.resolve("out").toString
          write(cached.coalesce(1), stage)
          val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
            .filter(p => p.getFileName.toString.startsWith("part-"))
            .findFirst().orElseThrow(() => new IllegalStateException("COPY produced no part file"))
          val target = java.nio.file.Paths.get(outPath)
          if (target.getParent != null) java.nio.file.Files.createDirectories(target.getParent)
          java.nio.file.Files.move(part, target,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } finally {
          try {
            java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          } catch { case NonFatal(_) => () }
        }
      }
      Right(spark.createDataFrame(
        java.util.Collections.singletonList(org.apache.spark.sql.Row(n)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("Count",
            org.apache.spark.sql.types.LongType, nullable = false)))))
    } catch {
      case NonFatal(e) =>
        Left(Problem(400, "SQL Error", s"COPY failed: ${String.valueOf(e.getMessage)}"))
    } finally {
      cached.unpersist(blocking = false); ()
    }
  }

  // the dialect shim emits graft functions (graft_intdiv, epoch_ms,
  // cosine_sim, …) — every serving session must have them registered,
  // not just the standalone main's (registration is idempotent)
  graft.GraftExtensions.injectInto(spark)

  private val pool = new Semaphore(poolSize, true)
  private val exec = Executors.newCachedThreadPool()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(exec)

  server.createContext("/health", (x: HttpExchange) => {
    x.sendResponseHeaders(200, -1); x.close()
  })

  server.createContext("/", (x: HttpExchange) => handle(x))

  def start(): Unit = {
    // the built-in pipeline-operator macro library (exact_dedup,
    // minhash_signatures, …) registers through the same runtime
    // CREATE MACRO path a client uses; OR REPLACE lets clients shadow
    PipelineMacros.install(spark)
    server.start()
  }
  def stop(): Unit = { server.stop(0); exec.shutdownNow() }
  def boundPort: Int = server.getAddress.getPort

  private def header(x: HttpExchange, name: String): Option[String] =
    Option(x.getRequestHeaders.getFirst(name))

  private def sendProblem(x: HttpExchange, p: Problem): Unit = {
    val bytes = p.toJson.getBytes("UTF-8")
    x.getResponseHeaders.set("Content-Type", ContentTypeProblem)
    x.sendResponseHeaders(p.status, bytes.length.toLong)
    x.getResponseBody.write(bytes)
    x.close()
  }

  /** Spark's internal rows of `df`, pulled in windows of partitions
    * (`WindowedPull`); the first window's job starts before this
    * returns. A command's rows are already on the driver.
    */
  private def internalRows(df: DataFrame): Iterator[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("serve")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan match {
        case c: CommandResultExec => c.executeToIterator()
        case plan => WindowedPull(spark.sparkContext, plan.execute(), plan.output.length)
      }
    }
  }

  /** Durations of the phases before the first row, in order, for the
    * `Server-Timing` header. Written by the request's future and read
    * after it completes.
    */
  private final class Phases {
    private var last = System.nanoTime()
    private val durs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def end(phase: String): Unit = {
      val now = System.nanoTime()
      durs(phase) = now - last
      last = now
    }
    def header: String =
      durs.map { case (p, ns) => f"$p;dur=${ns / 1e6}%.1f" }.mkString(", ")
  }

  private def readBody(x: HttpExchange): Either[Problem, Array[Byte]] = {
    val in = x.getRequestBody
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](8192)
    var n = in.read(chunk)
    while (n >= 0) {
      buf.write(chunk, 0, n)
      if (buf.size > MaxBodyBytes)
        return Left(Problem(400, "Failed to read request body",
          s"body exceeds $MaxBodyBytes bytes"))
      n = in.read(chunk)
    }
    Right(buf.toByteArray)
  }

  private def handle(x: HttpExchange): Unit =
    try {
      // permissive CORS layer (ref: CorsLayer::permissive(),
      // routers.rs:79-84; preflight test src/main.rs:261-287)
      if (corsEnabled) {
        val h = x.getResponseHeaders
        h.set("Access-Control-Allow-Origin", "*")
        h.set("Access-Control-Allow-Methods", "*")
        h.set("Access-Control-Allow-Headers", "*")
        if (x.getRequestMethod == "OPTIONS") {
          x.sendResponseHeaders(200, -1); x.close()
          return
        }
      }
      if (x.getRequestMethod != "POST") {
        sendProblem(x, Problem(405, "Method Not Allowed", "use POST /"))
        return
      }
      Protocol.negotiate(header(x, "Accept")) match {
        case None =>
          sendProblem(x, Problem(406, "Unsupported response format",
            s"format [${header(x, "Accept").getOrElse("").toLowerCase}] is not supported"))
        case Some(format) =>
          readBody(x).flatMap(b => decodeSql(header(x, "Content-Type"), b)) match {
            case Left(p) => sendProblem(x, p)
            case Right(sql) => runQuery(x, sql, format)
          }
      }
    } catch {
      case NonFatal(e) =>
        try sendProblem(x, Problem(500, "Internal Error", String.valueOf(e.getMessage)))
        catch { case NonFatal(_) => x.close() }
    }

  /** Admission → dialect shim → plan → wait (bounded) for the first
    * row → stream. The jobs up to the first row run on the request's
    * future, the later ones on the handler thread while it streams; both
    * threads come from one pool, so each sets the request's job group
    * for its part and clears it after.
    */
  private def runQuery(x: HttpExchange, rawSql: String, format: Format): Unit = {
    val phases = new Phases
    pool.acquire()
    phases.end("admit")
    try {
      // EVERYTHING that can run Spark jobs happens inside this future,
      // under the job group and the first-row timeout: the dialect
      // rewrite itself executes queries (PIVOT value enumeration,
      // SUMMARIZE profiling), so a `PIVOT huge_table` must consume its
      // pool slot AND be 408-cancellable exactly like a slow SELECT —
      // not run unbounded on the handler thread (VERDICT r3 #3).
      val jobGroup = s"graft-query-${java.util.UUID.randomUUID()}"
      def joinGroup(): Unit =
        spark.sparkContext.setJobGroup(jobGroup, rawSql.take(100), interruptOnCancel = true)
      val fut = exec.submit(new java.util.concurrent.Callable[Either[Problem, (DataFrame, Iterator[InternalRow])]] {
        def call(): Either[Problem, (DataFrame, Iterator[InternalRow])] = {
          joinGroup()
          try plan().map { df =>
            val rows = internalRows(df)
            rows.hasNext // the first row, under the timeout
            phases.end("first_row")
            (df, rows)
          } finally spark.sparkContext.clearJobGroup()
        }

        private def plan(): Either[Problem, DataFrame] = {
          // DuckDB-dialect sugar → Spark SQL (reference clients switch
          // without editing their queries); file sources are
          // sandbox-checked BEFORE the rewrite reads any schema
          // COPY ... TO is handled BEFORE the generic rewrite: Spark has
          // no COPY statement, and the write path needs its own sandbox
          // check (handleCopy returns the DuckDB-shaped Count result)
          rawSql match {
            case CopyRe(src, outPath, opts) =>
              phases.end("rewrite")
              val copied = handleCopy(src, outPath, Option(opts).getOrElse(""))
              phases.end("plan")
              return copied
            case _ => ()
          }
          val sql =
            try Dialect.rewrite(spark, rawSql, pathAllowed,
              readOnly = allowedDirs.nonEmpty)
            catch {
              case Dialect.RejectedPath(p) =>
                return Left(Problem(400, "SQL Error",
                  s"file access outside allowed directories: $p"))
              case NonFatal(e) =>
                return Left(Problem(400, "SQL Error", String.valueOf(e.getMessage)))
            }
          phases.end("rewrite")
          // sandbox pre-check BEFORE spark.sql: commands (CTAS, INSERT,
          // SET, ...) execute eagerly inside spark.sql, so under a sandbox
          // only pure queries are admitted — matching the reference's
          // read-only posture (ATTACH READ_ONLY + lock_configuration).
          if (allowedDirs.nonEmpty) {
            val parsed =
              try spark.sessionState.sqlParser.parsePlan(sql)
              catch {
                case NonFatal(e) =>
                  return Left(Problem(400, "SQL Error", String.valueOf(e.getMessage)))
              }
            val isCommand = parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] ||
              parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement] ||
              parsed.nodeName.contains("Command")
            if (isCommand)
              return Left(Problem(400, "SQL Error",
                "only read-only queries are allowed when a filesystem sandbox is configured"))
          }

          val df: DataFrame =
            try {
              val df0 = Dialect.sqlServed(spark, sql)
              // unaliased count(*) surfaces as count_star() in DuckDB — the
              // reference's smoke tests assert that exact column name
              val names = df0.columns.map(c => if (c == "count(1)") "count_star()" else c)
              if (names.sameElements(df0.columns)) df0 else df0.toDF(names.toIndexedSeq: _*)
            } catch {
              case NonFatal(e) =>
                return Left(Problem(400, "SQL Error", String.valueOf(e.getMessage)))
            }

          // fail CLOSED: an error while inspecting the plan rejects the query
          val outside =
            try violatingPaths(df)
            catch { case NonFatal(e) => Seq(s"<unverifiable plan: ${e.getMessage}>") }
          if (outside.nonEmpty)
            return Left(Problem(400, "SQL Error",
              s"file access outside allowed directories: ${outside.mkString(", ")}"))
          df.queryExecution.executedPlan
          phases.end("plan")
          Right(df)
        }
      })
      val (df, rows) =
        try {
          val res =
            if (queryTimeoutMillis > 0) fut.get(queryTimeoutMillis, TimeUnit.MILLISECONDS)
            else fut.get()
          res match {
            case Left(p) => sendProblem(x, p); return
            case Right(v) => v
          }
        } catch {
          case _: TimeoutException =>
            fut.cancel(true)
            // release the executors, not just the client: kill the
            // abandoned query's stages before freeing the pool slot
            try spark.sparkContext.cancelJobGroup(jobGroup)
            catch { case NonFatal(_) => () }
            sendProblem(x, Problem(408, "Query Timeout",
              s"no result within ${queryTimeoutMillis}ms"))
            return
          case e: java.util.concurrent.ExecutionException =>
            sendProblem(x, Problem(400, "SQL Error",
              String.valueOf(Option(e.getCause).getOrElse(e).getMessage)))
            return
        }

      val gzip = header(x, "Accept-Encoding").exists(_.toLowerCase.contains("gzip"))
      x.getResponseHeaders.set("Content-Type", format.contentType)
      if (gzip) x.getResponseHeaders.set("Content-Encoding", "gzip")
      x.getResponseHeaders.set("Server-Timing", phases.header)
      x.sendResponseHeaders(200, 0L) // chunked
      val raw = x.getResponseBody
      val out: OutputStream = if (gzip) new GZIPOutputStream(raw) else raw
      val schema = df.schema
      joinGroup()
      try {
        format match {
          case Json => RowEncoders.writeJsonArray(schema, rows, out)
          case JsonLines => RowEncoders.writeJsonLines(schema, rows, out)
          case Csv => RowEncoders.writeCsv(schema, rows, out)
          case Arrow => ArrowIpcEncoder.writeInternal(schema, rows, out)
        }
      } catch {
        case NonFatal(e) =>
          // the client is gone (or encoding failed): stop the window job
          // in flight rather than let it run to its end unread
          try spark.sparkContext.cancelJobGroup(jobGroup)
          catch { case NonFatal(_) => () }
          throw e
      } finally {
        spark.sparkContext.clearJobGroup()
        out.flush()
        out match { case g: GZIPOutputStream => g.finish(); case _ => () }
        x.close()
      }
    } finally pool.release()
  }
}

/** Standalone launcher: `runMain graft.server.ServerMain [port] [sfDir]`
  * registers the test tables as views and serves SQL over HTTP —
  * the full reference workflow (`curl -d 'SELECT ...' localhost:8080`).
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.tune(
      SparkSession.builder()
        // the planner rule; injectInto below registers the functions
        .withExtensions(graft.ParamLiterals.inject)
        .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
        .appName("graft-server")
        .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    // native kernels + DuckDB function-name aliases for SQL clients
    graft.GraftExtensions.injectInto(spark)
    graft.T.views(spark, sfDir, graft.T.all: _*)
    // attached-database analog (ref: ATTACH db_file READ_ONLY + USE):
    // a directory of parquet tables + init.sql views/macros
    sys.env.get("GRAFT_ATTACH_DIR").foreach { d =>
      val names = graft.sources.CatalogDir.attach(spark, d)
      println(s"attached catalog dir $d: ${names.mkString(", ")}")
    }
    val server = new QueryServer(spark, port,
      corsEnabled = sys.env.get("GRAFT_CORS").contains("1"))
    // graceful shutdown on SIGINT/SIGTERM (ref: main.rs:81-105)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      server.stop(); spark.stop()
    }))
    server.start()
    println(s"graft server listening on :$port over $sfDir")
    Thread.currentThread.join()
  }
}
