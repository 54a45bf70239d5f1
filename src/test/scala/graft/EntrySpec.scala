package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() and every declared query runs. The
  * per-query checks read the one shared InventorySweep. */
class EntrySpec extends AnyFunSuite {
  import TestSpark._
  import InventorySweep._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("all queries execute at sf0.001") {
    assert(result.failures.isEmpty, result.failures.mkString("\n"))
  }

  test("flagship-style queries are non-empty") {
    MustBeNonEmpty.foreach { name =>
      assert(result.kept.get(name).exists(_.nonEmpty), s"$name is empty")
    }
  }

  test("seeded sample is deterministic across runs") {
    val again = SparkEntry.queries(SeededSample)(spark, sf).collect().toSeq
    assert(result.kept.get(SeededSample).contains(again),
      s"$SeededSample differs between runs")
  }
}
