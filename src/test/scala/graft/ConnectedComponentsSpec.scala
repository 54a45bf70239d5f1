package graft

import scala.util.Random

import graft.operators.ConnectedComponents
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side union-find and the distributed min-label fixpoint
  * of [[ConnectedComponents]] give one answer: the same labels as a
  * plain reference, under the same schema.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Distributed = 0L

  /** Min-label relaxation to a fixpoint over an edge list. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    var lab = edges.flatMap { case (u, v) => Seq(u -> u, v -> v) }.toMap
    var changed = true
    while (changed) {
      changed = false
      for ((u, v) <- edges) {
        val m = math.min(lab(u), lab(v))
        if (lab(u) != m || lab(v) != m) { lab = lab.updated(u, m).updated(v, m); changed = true }
      }
    }
    lab
  }

  /** Random edges plus a star, duplicates, reversed copies and
    * self-loops, over ids spread by `offset` and `stride`.
    */
  private def graph(rnd: Random, offset: Long, stride: Long): Seq[(Long, Long)] = {
    val n = 20 + rnd.nextInt(60)
    def id() = offset + rnd.nextInt(n) * stride
    val random = Seq.fill(n / 2 + rnd.nextInt(n))(id() -> id())
    val hub = id()
    val star = Seq.fill(2 + rnd.nextInt(8))(hub -> id())
    val some = rnd.shuffle(random ++ star).take(5)
    val loops = Seq.fill(3)(id()).map(x => x -> x)
    rnd.shuffle(random ++ star ++ some ++ some.map(_.swap) ++ loops)
  }

  private def frame(edges: Seq[(Long, Long)], ints: Boolean): DataFrame =
    if (ints) edges.map { case (u, v) => (u.toInt, v.toInt) }.toDF("u", "v")
    else edges.toDF("u", "v")

  private def run(edges: DataFrame, budget: Long) = {
    val out = ConnectedComponents.labels(edges, budget)
    val rows = out.collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
    assert(rows.map(_._1).distinct.length == rows.length, "an id is labelled twice")
    (out.schema.map(f => f.name -> f.dataType), rows.toMap)
  }

  test("local and distributed paths agree with a reference on random graphs") {
    val rnd = new Random(20261019L)
    for (seed <- 1 to 6) {
      val ints = seed % 2 == 0
      val edges = if (ints) graph(rnd, -500L, 7L) else graph(rnd, -(1L << 40), 1L << 33)
      val df = frame(edges, ints)
      val (localSchema, local) = run(df, ConnectedComponents.LocalBudget)
      val (distSchema, dist) = run(df, Distributed)
      val want = reference(edges)
      assert(local == want, s"graph $seed: local path")
      assert(dist == want, s"graph $seed: distributed path")
      assert(localSchema == distSchema, s"graph $seed: schema")
      assert(localSchema.map(_._2) == Seq.fill(2)(df.schema.head.dataType))
    }
    for (ints <- Seq(true, false)) {
      val empty = frame(Nil, ints)
      val (localSchema, local) = run(empty, ConnectedComponents.LocalBudget)
      val (distSchema, dist) = run(empty, Distributed)
      assert(local.isEmpty && dist.isEmpty && localSchema == distSchema)
      assert(localSchema == Seq("id", "label").map(_ -> empty.schema.head.dataType))
    }
    Retained.release(spark)
  }

  test("a chain longer than the superstep cap: labelled locally, loud distributed") {
    val chain = (0L until 60L).map(i => (i + 1) -> i)
    val (_, local) = run(chain.toDF("u", "v"), ConnectedComponents.LocalBudget)
    assert(local == (0L to 60L).map(_ -> 0L).toMap)
    val e = intercept[IllegalStateException](run(chain.toDF("u", "v"), Distributed))
    assert(e.getMessage.contains("did not converge") && e.getMessage.contains("60 edges"))
    Retained.release(spark)
  }

  test("the distributed path leaves no persisted RDD after release, checkpoints included") {
    val s = GraftSession.tune(spark.newSession())
    val before = s.sparkContext.emptyRDD[Int].id
    val labs = ConnectedComponents.labels(s.createDataFrame(Seq((2L, 1L), (3L, 2L))).toDF("u", "v"),
      Distributed)
    assert(labs.collect().map(_.getLong(1)).toSet == Set(1L))
    Retained.release(s)
    val left = s.sparkContext.getPersistentRDDs.filter(_._1 > before)
    assert(left.isEmpty, s"still persisted after release: ${left.values.mkString(", ")}")
  }

  test("the local path rejects a NULL endpoint instead of reading it as 0") {
    val edges = Seq((Some(1L), Some(2L)), (Some(3L), None)).toDF("u", "v")
    val e = intercept[IllegalArgumentException](
      ConnectedComponents.labels(edges, ConnectedComponents.LocalBudget))
    assert(e.getMessage.contains("NULL"))
    Retained.release(spark)
  }
}
