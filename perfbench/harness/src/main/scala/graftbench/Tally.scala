package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.scheduler._

/** Spark-side counters for the traced runs, keyed by [[tagOf]] a job: by
  * default the harness's own tag (`tpch/build`, …), a local property of the
  * thread that submits the jobs, so jobs, stages and tasks are attributed
  * to the span that caused them even though listener events arrive later
  * on Spark's listener bus.
  */
class Tally extends SparkListener {
  final class Counts {
    val jobs, stages, tasks = new LongAdder
    val runMs, gcMs, shuffleWriteBytes, spillBytes, jobMs = new LongAdder
    val firstStartMs = new AtomicLong(Long.MaxValue)
  }

  private val byTag = new ConcurrentHashMap[String, Counts]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  def counts(tag: String): Counts = byTag.computeIfAbsent(tag, _ => new Counts)

  def tags: Seq[String] = byTag.keySet.asScala.toSeq

  protected def property(e: SparkListenerJobStart, key: String): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(key)))

  protected def tagOf(e: SparkListenerJobStart): String =
    property(e, Tally.Key).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e)
    val c = counts(tag)
    c.jobs.increment()
    c.firstStartMs.accumulateAndGet(e.time, math.min)
    jobStart.put(e.jobId, (tag, e.time))
    e.stageIds.foreach(s => stageTag.putIfAbsent(s, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (tag, t0) => counts(tag).jobMs.add(e.time - t0) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counts(stageTag.getOrDefault(e.stageInfo.stageId, "untagged")).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageTag.getOrDefault(e.stageId, "untagged"))
    c.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.add(m.executorRunTime)
      c.gcMs.add(m.jvmGCTime)
      c.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.add(m.diskBytesSpilled)
    }
  }
}

object Tally {
  val Key = "graftbench.tag"

  def install(sc: SparkContext): Tally = {
    val t = new Tally
    sc.addSparkListener(t)
    t
  }

  /** Tag every job the calling thread submits until the next call. */
  def tag(sc: SparkContext, tag: String): Unit = sc.setLocalProperty(Key, tag)

  /** Wait until the listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BenchAccess.drain(sc)
}

/** The counts of every job a running `graft.server.ServerMain` ran, with
  * its start time and the job group and description it carried, written
  * as JSON when the application ends (`ServerMain` stops its session on
  * SIGTERM). Spark instantiates it in the server's own JVM from
  * `-Dspark.extraListeners=graftbench.ServerTally -Dspark.graftbench.tallyOut=<file>`,
  * so the served path is counted without a line added to the program.
  */
final class ServerTally(conf: SparkConf) extends Tally {
  private val out = conf.get("spark.graftbench.tallyOut")
  private val labels = new ConcurrentHashMap[String, (String, String)]()

  override protected def tagOf(e: SparkListenerJobStart): String = {
    labels.put(e.jobId.toString, (property(e, "spark.jobGroup.id").getOrElse(""),
      property(e, "spark.job.description").getOrElse("")))
    e.jobId.toString
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    Common.writeJson(out, Seq("jobs" -> tags.filter(labels.containsKey).map { j =>
      val c = counts(j)
      val (group, description) = labels.get(j)
      Seq("job" -> j, "group" -> Common.quote(group), "description" -> Common.quote(description),
        "start_ms" -> c.firstStartMs.get.toString, "job_ms" -> c.jobMs.sum.toString,
        "stages" -> c.stages.sum.toString, "tasks" -> c.tasks.sum.toString,
        "task_run_ms" -> c.runMs.sum.toString, "gc_ms" -> c.gcMs.sum.toString,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.sum.toString,
        "spill_bytes" -> c.spillBytes.sum.toString)
        .map { case (k, v) => s"${Common.quote(k)}:$v" }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")))
}
