package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of query-scoped intermediate state: frames a query
  * persists because several consumers read them, and memos of frames
  * and driver-side values (trained weights, merge rules) its consumers
  * share. All of it is held per session until that session's
  * [[release]], which the inventory loops (Bench, Verify, the test
  * sweep, the benchmark harness) call after every query. A release
  * touches no other session's entries. Memo builds may nest (cluster
  * labels → pair intersections → capped shingles): each entry is its
  * own lazy holder, so no build runs inside the map's own update.
  * Entries of sessions whose SparkContext has stopped are evicted on
  * every access.
  */
object Retained {

  private final class Memo(build: () => Any) { lazy val value: Any = build() }

  private final class Entries {
    val frames = new ConcurrentLinkedQueue[DataFrame]()
    val memos = new ConcurrentHashMap[Any, Memo]()
  }

  private val sessions = new ConcurrentHashMap[SparkSession, Entries]()

  private def entries(s: SparkSession): Entries = {
    sessions.keySet.removeIf(_.sparkContext.isStopped)
    sessions.computeIfAbsent(s, _ => new Entries)
  }

  /** Persists `df` at MEMORY_AND_DISK and registers it for its own
    * session's release. Idempotent on the plan: a frame whose plan is
    * already cached is returned as is and stays its owner's to free. A
    * localCheckpoint frame already holds its blocks; it is only
    * registered.
    */
  def apply(df: DataFrame): DataFrame = {
    val owned = checkpointed(df).isDefined ||
      (df.storageLevel == StorageLevel.NONE && { df.persist(StorageLevel.MEMORY_AND_DISK); true })
    if (owned) entries(df.sparkSession).frames.add(df)
    df
  }

  /** The value built for (`s`, `key`) since `s`'s last release. A build
    * that throws leaves nothing behind; the next call builds again.
    */
  def memo[A](s: SparkSession, key: Any)(build: => A): A = {
    val memos = entries(s).memos
    val m = memos.computeIfAbsent(key, _ => new Memo(() => build))
    try m.value.asInstanceOf[A]
    catch { case NonFatal(e) => memos.remove(key, m); throw e }
  }

  /** Frees every frame `s` registered and drops `s`'s memos. */
  def release(s: SparkSession): Unit = {
    val e = sessions.remove(s)
    if (e != null) e.frames.forEach(free(_))
  }

  /** Frees a frame's blocks now, not at the ContextCleaner's next GC.
    * `Dataset.unpersist` does not reach a localCheckpoint frame's
    * blocks, so those are freed through the RDD under its plan.
    */
  def free(df: DataFrame): Unit =
    try checkpointed(df) match {
      case Some(rdd) => rdd.unpersist(blocking = false)
      case None => df.unpersist(blocking = false)
    } catch { case NonFatal(_) => }

  /** The persisted RDD behind a localCheckpoint frame, if `df` is one. */
  def checkpointed(df: DataFrame): Option[RDD[_]] = df.queryExecution.logical match {
    case lr: LogicalRDD if lr.rdd.getStorageLevel != StorageLevel.NONE => Some(lr.rdd)
    case _ => None
  }
}
