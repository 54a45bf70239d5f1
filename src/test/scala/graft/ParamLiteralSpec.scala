package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.server.QueryServer

/** `ParamLiterals` on the served path: ten point lookups of one shape
  * compile once, answer exactly as a session without the rule does, and
  * still hand parquet each literal as a pushed filter.
  */
class ParamLiteralSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private var plainSession: SparkSession = _
  private var ruled: QueryServer = _
  private var plain: QueryServer = _
  private val client = HttpClient.newHttpClient()

  private def lookup(k: Long) =
    s"SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders WHERE o_custkey = $k"

  override def beforeAll(): Unit = {
    T.views(spark, sf, "orders")
    // a session built without ParamLiterals.inject: no literal rule
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try plainSession = SparkSession.builder().config("spark.ui.enabled", "false").getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(plainSession ne spark)
    GraftSession.tune(plainSession)
    T.views(plainSession, sf, "orders")
    ruled = new QueryServer(spark, 0)
    plain = new QueryServer(plainSession, 0)
    ruled.start()
    plain.start()
  }

  override def afterAll(): Unit = {
    if (ruled != null) ruled.stop()
    if (plain != null) plain.stop()
  }

  private def serve(srv: QueryServer, sql: String): String = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}/"))
        .header("Accept", "application/json").header("Content-Type", "text/plain")
        .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    r.body()
  }

  private lazy val keys: Seq[Long] = spark.sql(
    "SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey LIMIT 10")
    .collect().map(_.get(0).toString.toLong).toSeq

  test("ten literal values of one point-lookup shape cost at most one compile after the first") {
    assert(keys.size == 10)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = serve(ruled, lookup(keys.head))
    val before = compiles.getCount
    val rest = keys.tail.map(k => serve(ruled, lookup(k)))
    val delta = compiles.getCount - before
    assert(delta <= 1, s"$delta compiles for ${keys.size - 1} new literals")
    // the same rows as the session without the rule, which compiles anew
    // for each new literal
    val plainBefore = compiles.getCount
    val plainBodies = keys.map(k => serve(plain, lookup(k)))
    assert(plainBodies == first +: rest)
    assert(compiles.getCount - plainBefore >= keys.size - 1)
    assert((first +: rest).forall(_.startsWith("[{\"o_orderkey\":")))
  }

  test("the scan still pushes each literal to parquet; the filter holds it as a parameter") {
    keys.foreach { k =>
      val plan = spark.sql(lookup(k)).queryExecution.executedPlan
      val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
      assert(scan.metadata("PushedFilters").contains(s"EqualTo(o_custkey,$k)"), scan.metadata)
      val params = plan.collect { case f: FilterExec =>
        f.condition.collect { case p: ParamLiteral => p.value.toString }
      }.flatten
      assert(params == Seq(k.toString), plan.treeString)
    }
  }
}
