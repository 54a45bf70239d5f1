package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.{SparkEntry, T}
import graft.queries.DedupQueries

/** The batch workload: `SparkEntry.queries` called in-process over a fixed,
  * sorted query list, in whole passes.
  *
  * Usage: `Batch <dataDir> <outDir> <listFile> <seconds> <trace 0|1>
  * <launchEpochMs> <cpus>`. The list file holds `<set> <query>` lines.
  *
  * Set-up (timed from `launchEpochMs`, the moment the caller started this
  * JVM) ends when the session is tuned and every table has been scanned
  * once. The first pass is untimed warm-up; its results are written under
  * `<outDir>/results` for the checker to compare with DuckDB running each
  * query's `SparkEntry.oracleSql` (written to `oracle_sql.json`), and every
  * later pass must reproduce them exactly (order-independent digest).
  * Untraced runs then time whole passes until `seconds` have gone by;
  * a traced run makes one pass split into the layers a query crosses.
  * `DedupQueries.release` runs after every query, inside its time.
  */
object Batch {
  final case class Timing(build: Double, optimize: Double, plan: Double,
      exec: Double, release: Double) {
    def total: Double = build + optimize + plan + exec + release
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, listFile, secondsArg, traceArg, launchArg, cpusArg) = args
    val list: Seq[(String, String)] =
      Files.readAllLines(Paths.get(listFile)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
        .map { l => val Array(s, q) = l.split("\\s+"); (s, q) }
    val traced = traceArg == "1"

    val spark = Common.session("perfbench-batch", cpusArg.toInt)
    graft.GraftSession.tune(spark)
    T.all.foreach(t => T(spark, dataDir, t).queryExecution.toRdd.count())
    val setupS = (System.currentTimeMillis() - launchArg.toLong) / 1000.0

    val fns = SparkEntry.queries
    val missing = list.map(_._2).filterNot(fns.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(", ")}")
    val sc = spark.sparkContext
    var tally: Option[Tally] = None

    def span[A](set: String, layer: String)(f: => A): (A, Double) = {
      tally.foreach(_ => Tally.tag(sc, s"$set/$layer"))
      val t0 = System.nanoTime()
      val a = f
      (a, Common.seconds(t0))
    }

    /** One query, split into the layers it crosses. Untraced runs make
      * the same calls, so both modes do identical work.
      */
    def runQuery(set: String, name: String): (Array[Row], Seq[String], Timing) = {
      val (df, tb) = span(set, "build")(fns(name)(spark, dataDir))
      val (_, to) = span(set, "optimize")(df.queryExecution.optimizedPlan)
      val (_, tp) = span(set, "plan")(df.queryExecution.executedPlan)
      val (rows, te) = span(set, "exec")(df.collect())
      val (_, tr) = span(set, "release")(DedupQueries.release(spark))
      (rows, df.columns.toSeq, Timing(tb, to, tp, te, tr))
    }

    var attempted = 0L
    var failed = 0L
    val failedNames = scala.collection.mutable.LinkedHashSet.empty[String]
    val mismatched = scala.collection.mutable.LinkedHashSet.empty[String]
    val reference = scala.collection.mutable.Map.empty[String, Long]

    /** A whole pass; returns each query's timing (None when it failed). */
    def pass(warmup: Boolean): Seq[(String, String, Option[Timing])] = list.map { case (set, name) =>
      val r =
        try Some(runQuery(set, name))
        catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: ${String.valueOf(e.getMessage).take(300)}")
            DedupQueries.release(spark)
            None
        }
      if (!warmup) {
        attempted += 1
        if (r.isEmpty) { failed += 1; failedNames += name }
      }
      r.foreach { case (rows, cols, _) =>
        val d = Common.digest(rows)
        if (warmup) {
          reference(name) = d
          Common.writeRows(s"$outDir/results/$name.jsonl", cols, rows)
        } else if (!reference.get(name).contains(d)) mismatched += name
      }
      (set, name, r.map(_._3))
    }

    pass(warmup = true)
    val oracle = SparkEntry.oracleSql
    Common.writeJson(s"$outDir/oracle_sql.json",
      list.flatMap { case (_, n) => oracle.get(n).map(n -> Common.quote(_)) })
    val sets = list.map(_._1).distinct
    System.gc() // every run starts its timed work from the same heap state
    val out = Seq.newBuilder[(String, String)]
    out += "setup_s" -> Common.num(setupS)

    if (!traced) {
      val budget = secondsArg.toDouble
      val t0 = System.nanoTime()
      val passes = Seq.newBuilder[Seq[(String, String, Option[Timing])]]
      do passes += pass(warmup = false) while (Common.seconds(t0) < budget)
      val ps = passes.result()
      out += "timed_s" -> Common.num(Common.seconds(t0))
      out += "query_ms" -> ps.flatten.collect { case (_, _, Some(t)) => Common.num(t.total * 1000) }
        .mkString("[", ",", "]")
      out += "pass_s" -> ps.map(p => Common.num(p.flatMap(_._3).map(_.total).sum)).mkString("[", ",", "]")
      sets.foreach { s =>
        out += s"${s}_pass_s" -> ps.map(p =>
          Common.num(p.filter(_._1 == s).flatMap(_._3).map(_.total).sum)).mkString("[", ",", "]")
      }
    } else {
      tally = Some(Tally.install(sc))
      val t0 = System.nanoTime()
      val p = pass(warmup = false)
      val passWall = Common.seconds(t0)
      Tally.drain(sc)
      out += "query_ms" -> p.collect { case (_, _, Some(t)) => Common.num(t.total * 1000) }
        .mkString("[", ",", "]")
      out += "trace" -> Trace.batch(tally.get, sets, p, passWall)
    }
    out += "peak_rss_mb" -> Common.num(Common.peakRssMb())
    out += "attempted" -> attempted.toString
    out += "failed" -> failed.toString
    out += "failed_queries" -> failedNames.toSeq.map(Common.quote).mkString("[", ",", "]")
    out += "mismatched" -> mismatched.toSeq.map(Common.quote).mkString("[", ",", "]")
    Common.writeJson(s"$outDir/batch.json", out.result())
    spark.stop()
  }
}
