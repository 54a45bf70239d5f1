package graftbench

import java.io.OutputStream
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.server.{ArrowIpcEncoder, Dialect, PipelineMacros, RowEncoders}

/** The in-process half of the served path's traced run: the public calls
  * `QueryServer` makes before the first row (dialect rewrite, `sqlServed`,
  * planning), each timed on its own, and then the response encoder timed
  * over rows collected beforehand, so pulling rows is not counted as
  * encoding. Requests run one at a time. Jobs, tasks and the first-row
  * time are not measured here but in the server itself ([[ServerTally]]).
  *
  * Usage: `ServeTrace <dataDir> <outDir> <requestsFile> <warmupRounds>
  * <cpus>`; the requests file holds one round as `<format>\t<sql>` lines,
  * format one of csv, jsonl, json, arrow.
  */
object ServeTrace {
  val Formats = Seq("csv", "jsonl", "json", "arrow")

  private final class Counting extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, reqFile, warmupArg, cpusArg) = args
    val round: Seq[(String, String)] = Files.readAllLines(Paths.get(reqFile)).asScala.toSeq
      .filter(_.nonEmpty).map { l => val Array(f, q) = l.split("\t", 2); (f, q) }
    require(round.forall(r => Formats.contains(r._1)), "unknown response format")

    // what ServerMain and QueryServer.start set up before serving
    val spark = graft.GraftSession.tune(Common.session("graft-server", cpusArg.toInt))
    graft.GraftExtensions.injectInto(spark)
    graft.T.views(spark, dataDir, graft.T.all: _*)
    PipelineMacros.install(spark)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, Common.seconds(t0))
    }

    def request(format: String, raw: String): Trace.Request = {
      val (sql, tRewrite) = timed(Dialect.rewrite(spark, raw))
      val (df, tAnalyze) = timed(Dialect.sqlServed(spark, sql))
      val (_, tOpt) = timed(df.queryExecution.optimizedPlan)
      val (_, tPlan) = timed(df.queryExecution.executedPlan)
      val rows = df.collect()
      val out = new Counting
      val names = df.schema.fieldNames
      val (_, tEncode) = timed(format match {
        case "csv" => RowEncoders.writeCsv(names, rows.iterator, out)
        case "jsonl" => RowEncoders.writeJsonLines(names, rows.iterator, out)
        case "json" => RowEncoders.writeJsonArray(names, rows.iterator, out)
        case "arrow" => ArrowIpcEncoder.write(df.schema, rows.iterator, out)
      })
      Trace.Request(format, rows.length, out.n, tRewrite, tAnalyze, tOpt, tPlan, tEncode)
    }

    (1 to warmupArg.toInt).foreach(_ => round.foreach { case (f, q) => request(f, q) })
    var failed = 0L
    val reqs = round.map { case (f, q) =>
      try Some(request(f, q))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] request failed: ${String.valueOf(e.getMessage).take(300)}")
          failed += 1
          None
      }
    }
    Common.writeJson(s"$outDir/serve_trace.json", Seq(
      "rows" -> reqs.map(_.map(_.rows.toString).getOrElse("null")).mkString("[", ",", "]"),
      "trace" -> Trace.serve(reqs.flatten, Formats),
      "failed" -> failed.toString))
    spark.stop()
  }
}
