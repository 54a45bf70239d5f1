package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.LogEvent
import org.apache.spark.sql.Row
import org.scalatest.concurrent.{Signaler, TimeLimits}
import org.scalatest.exceptions.TestFailedDueToTimeoutException
import org.scalatest.time.SpanSugar._

/** The suite's one full-inventory sweep: every declared query runs once
  * at sf0.001 with a log4j WARN appender attached, under a per-query
  * time limit. The sweep runs on first use and is shared by the suites
  * that read it (one test JVM): EntrySpec asserts that every query ran
  * and reads the flagship and seeded-sample rows; WarnAuditSpec audits
  * the WARNs the sweep logged.
  */
object InventorySweep extends TimeLimits {
  import TestSpark._

  /** Over 10× the slowest query of the sweep at sf0.001 (under 3 s on
    * 4 cores). */
  val QueryLimit = 60.seconds

  val MustBeNonEmpty = Seq("q1_pricing_summary", "c_join_inner_5way",
    "n_dedup_exact", "n_cosine_topk_bruteforce", "n_text_stats",
    "j_sessionization", "c_join_asof", "m_binary_metadata")
  val SeededSample = "i_sample_seeded"

  /** What one sweep saw.
    * @param failures   `query: first line of its error`, in query order
    * @param kept       collected rows of MustBeNonEmpty and SeededSample
    * @param hits       `query[kind]` per audited WARN (kind empty for an
    *                   unpartitioned window)
    * @param binHits    (query, MiB) per task binary over 2 MiB
    * @param bloomCounts might_contain count in each query's executed plan
    */
  final case class Result(
      failures: Seq[String],
      kept: Map[String, Seq[Row]],
      hits: Seq[String],
      binHits: Seq[(String, Double)],
      bloomCounts: Map[String, Int])

  /** On timeout, cancel the query's jobs and interrupt the sweep. */
  private implicit val signaler: Signaler = Signaler { t =>
    spark.sparkContext.cancelAllJobs()
    t.interrupt()
  }

  lazy val result: Result = run()

  private def run(): Result = {
    // force session creation FIRST: Spark's Logging.initializeLogging
    // replaces a default log4j2 configuration with its own on first
    // use, which would silently drop an appender attached earlier
    spark.range(1).collect()
    val hits = ArrayBuffer[String]()
    // (query, MiB) for every large-task-binary warn — bounded against
    // the per-query runtime-bloom-filter budget by WarnAuditSpec
    val binHits = ArrayBuffer[(String, Double)]()
    val bloomCounts = scala.collection.mutable.Map[String, Int]()
    val failures = ArrayBuffer[String]()
    val kept = scala.collection.mutable.Map[String, Seq[Row]]()
    @volatile var current = "<init>"
    val appender: AbstractAppender =
      new AbstractAppender("graft-warn-audit", null, null, true,
          Array.empty[org.apache.logging.log4j.core.config.Property]) {
        override def append(e: LogEvent): Unit =
          if (e.getLevel.isMoreSpecificThan(Level.WARN)) {
            val msg = e.getMessage.getFormattedMessage
            if (msg.contains("No Partition Defined"))
              hits.synchronized { hits += current }
            else if (msg.contains("replaced a previously registered function"))
              hits.synchronized { hits += s"$current[fn-replace]" }
            else if (e.getLoggerName.endsWith(".HintErrorLogger"))
              // round-12 verdict #1: HintErrorLogger silently drops
              // hints it cannot apply (unsupported, or not on a join
              // relation) — the intended plan is NOT what runs. Any
              // drop is a regression.
              hits.synchronized { hits += s"$current[hint-drop]" }
            else if (msg.contains("falling back to interpreter mode") ||
                     msg.contains("Expr codegen error"))
              // round-14 verdict #1: a custom Expression whose doGenCode
              // emits Java that Janino cannot compile silently drops the
              // WHOLE projection to interpreted execution (values stay
              // correct, the plan degrades). Third silent-degradation
              // class after hint drops and task binaries — any fallback
              // is a regression, naming the query that triggered it.
              hits.synchronized { hits += s"$current[codegen-fallback]" }
            else if (msg.contains("Broadcasting large task binary")) {
              // round-13 verdict #2 / round-14 attribution: the 2–3 MiB
              // task binaries in the bench tail are Spark's RUNTIME
              // BLOOM FILTERS (InjectRuntimeFilter): each injected
              // filter embeds its 8388608-bit ≈ 1 MiB bitmap in the
              // stage that applies it (measured: 2 filters → 2.1 MiB,
              // 3 → 3.1 MiB on the ANN-tier joins) — the filter is
              // data-independent (conf-bounded) and prunes the probe
              // scan, the right trade at scale. The audit therefore
              // bounds each query's binaries at 2 MiB of NON-bloom
              // payload plus 1.1 MiB per might_contain in its
              // optimized plan; anything beyond that is new closure/
              // codegen bloat and fails, naming the query.
              val mib = """([0-9.]+)\s*(KiB|MiB)""".r.findFirstMatchIn(msg).map {
                m =>
                  val v = m.group(1).toDouble
                  if (m.group(2) == "KiB") v / 1024.0 else v
              }.getOrElse(0.0)
              if (mib > 2.0)
                binHits.synchronized { binHits += (current -> mib) }
            }
          }
      }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      // explicit double-injection probe: both calls must be silent
      // (first is drop-before-register, second is a per-session no-op)
      current = "injectInto-twice"
      GraftExtensions.injectInto(spark)
      GraftExtensions.injectInto(spark)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        current = name
        try {
          failAfter(QueryLimit) {
            try {
              val df = fn(spark, sf)
              // bloom allowance must be counted on the plan AS EXECUTED in
              // this sweep — a re-derived plan sees materialized caches and
              // loses the injected filters
              bloomCounts(name) = "might_contain".r
                .findAllIn(df.queryExecution.optimizedPlan.toString).size
              val rows = df.collect().toSeq
              if (name == SeededSample || MustBeNonEmpty.contains(name)) kept(name) = rows
            } catch {
              case NonFatal(e) =>
                failures += s"$name: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"
            }
          }
        } catch {
          case _: TestFailedDueToTimeoutException =>
            // the signaler's interrupt must not leak into the next query
            Thread.interrupted()
            failures += s"$name: timed out after $QueryLimit"
        }
      }
    } finally {
      cfg.getRootLogger.removeAppender("graft-warn-audit")
      ctx.updateLoggers()
      appender.stop()
    }
    Result(failures.toSeq, kept.toMap, hits.synchronized { hits.toSeq },
      binHits.synchronized { binHits.toSeq }, bloomCounts.toMap)
  }
}
