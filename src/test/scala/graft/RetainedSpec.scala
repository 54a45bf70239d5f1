package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle of query-scoped state held by [[Retained]]: a release
  * touches only its own session, and it frees checkpointed frames too.
  */
class RetainedSpec extends AnyFunSuite {

  private def fresh() = GraftSession.tune(TestSpark.spark.newSession())

  test("release frees only its own session's frames and memos") {
    val (s1, s2) = (fresh(), fresh())
    // each session, on its own thread, retains a frame of its own plan
    // and memoizes a value
    def work(s: SparkSession, k: Int) = Future {
      val df = Retained(s.range(0, 1000, 1, 2).selectExpr(s"id * $k AS x"))
      df.count()
      (df, Retained.memo(s, "value")(new Object))
    }
    val w1 = work(s1, 3)
    val w2 = work(s2, 5)
    val (df1, v1) = Await.result(w1, 2.minutes)
    val (df2, v2) = Await.result(w2, 2.minutes)
    Retained.release(s2)
    assert(df1.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(Retained.memo(s1, "value")(new Object) eq v1)
    assert(df2.storageLevel == StorageLevel.NONE)
    assert(!(Retained.memo(s2, "value")(new Object) eq v2))
    Retained.release(s1)
    assert(df1.storageLevel == StorageLevel.NONE)
  }

  test("nested memo builds run once; a failed build is retried") {
    val s = fresh()
    var builds = 0
    // more keys than the map's initial capacity, so inner builds resize
    // the map while outer builds are in flight
    val outer = (0 until 64).map { i =>
      Retained.memo(s, ("outer", i)) {
        Retained.memo(s, ("inner", i)) { builds += 1; i } + 1
      }
    }
    assert(outer == (1 to 64))
    assert((0 until 64).map(i => Retained.memo(s, ("inner", i))(-1)) == (0 until 64))
    assert(builds == 64)
    intercept[IllegalStateException](
      Retained.memo(s, "flaky")(throw new IllegalStateException("first build fails")))
    assert(Retained.memo(s, "flaky")(7) == 7)
    Retained.release(s)
  }

  test("n_dedup_keep_best leaves no persisted RDD after release, checkpoints included") {
    val s = fresh()
    val sc = s.sparkContext
    // RDD ids are sequential per context: any id above this one was
    // created by the query below
    val before = sc.emptyRDD[Int].id
    val rows = SparkEntry.queries("n_dedup_keep_best")(s, TestSpark.sf).collect()
    // clusters exist; at this size connected components labels them on
    // the driver (ConnectedComponentsSpec frees the distributed path's
    // checkpoints)
    assert(rows.nonEmpty)
    Retained.release(s)
    val left = sc.getPersistentRDDs.filter(_._1 > before)
    assert(left.isEmpty, s"still persisted after release: ${left.values.mkString(", ")}")
  }
}
