package graft.server

import java.io.ByteArrayOutputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalacheck.Gen
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.T

/** The compiled encoders against the per-value rules they stand in for:
  * the fast double text against fmtFloating, and the server's bytes
  * (internal rows from the executed plan) against the `Iterator[Row]`
  * entry points (external rows from `collect`) over every fixture table.
  */
class EncoderParitySpec extends AnyFunSuite with BeforeAndAfterAll {
  import graft.TestSpark._

  private var srv: QueryServer = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    T.views(spark, sf, T.all: _*)
    srv = new QueryServer(spark, 0, poolSize = 2, queryTimeoutMillis = 60000)
    srv.start()
    base = s"http://localhost:${srv.boundPort}/"
  }

  override def afterAll(): Unit = if (srv != null) srv.stop()

  private def finite(d: Double): Boolean = !d.isNaN && !d.isInfinite

  test("appendDouble/appendFloat write fmtFloating's text for every exponent, ±0.0, subnormals and the range edges") {
    import java.lang.Double.longBitsToDouble
    val anyBits = Gen.choose(Long.MinValue, Long.MaxValue).map(longBitsToDouble)
    val subnormal = Gen.choose(1L, (1L << 52) - 1).map(longBitsToDouble)
    // a decimal mantissa at every power of ten, so each exponent of the
    // plain range and both scientific ranges is drawn alike
    val perDecade = for {
      m <- Gen.choose(1.0, 10.0)
      e <- Gen.choose(-324, 308)
      neg <- Gen.oneOf(true, false)
    } yield (if (neg) -1 else 1) * m * math.pow(10, e)
    val edges = Seq(0.0, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      Math.nextDown(java.lang.Double.MIN_NORMAL), Double.MaxValue, 1.0, 100.0, 0.1) ++
      Seq(1e-6, 1e-3, 1e7, 1e21).flatMap(e => Seq(Math.nextDown(e), e, Math.nextUp(e)))
    val doubles = (edges ++ edges.map(-_) ++
      Seq(anyBits, subnormal, perDecade).flatMap(g => Iterator.continually(g.sample).flatten.take(20000)))
      .filter(finite)
    // appended after other text, as the write buffer's builder is reused
    def appended(csv: Boolean)(append: (java.lang.StringBuilder, Boolean) => Unit): String = {
      val sb = new java.lang.StringBuilder("x")
      append(sb, csv)
      sb.substring(1)
    }
    for (d <- doubles; csv <- Seq(true, false))
      assert(appended(csv)(RowEncoders.appendDouble(_, d, _)) ==
        RowEncoders.fmtFloating(java.lang.Double.toString(d), csv), s"$d (forCsv=$csv)")
    val floats = doubles.map(_.toFloat).filter(f => finite(f.toDouble))
    for (f <- floats; csv <- Seq(true, false))
      assert(appended(csv)(RowEncoders.appendFloat(_, f, _)) ==
        RowEncoders.fmtFloating(java.lang.Float.toString(f), csv), s"${f}f (forCsv=$csv)")
  }

  test("strings are escaped and quoted wherever they meet the end of the write buffer") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("s", StringType)))
    val rnd = new scala.util.Random(7)
    val alphabet = "ab\",\n\r\\\t\u0001\u00e9\u4e2d"
    // ~300 KiB of text: the 32 KiB buffer fills at many offsets inside values
    val values = Seq.fill(6000)(Seq.fill(rnd.nextInt(100))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    def rows = values.iterator.map(v =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(Array[Any](v), schema): org.apache.spark.sql.Row)
    val jsonl = new ByteArrayOutputStream()
    RowEncoders.writeJsonLines(Array("s"), rows, jsonl)
    assert(jsonl.toString("UTF-8") == values.map(v => s"{\"s\":${Protocol.jsonString(v)}}\n").mkString)
    val csv = new ByteArrayOutputStream()
    RowEncoders.writeCsv(Array("s"), rows, csv)
    def field(v: String) =
      if (v.exists(",\"\n\r".contains(_))) "\"" + v.replace("\"", "\"\"") + "\"" else v
    assert(csv.toString("UTF-8") == "s\n" + values.map(v => field(v) + "\n").mkString)
  }

  test("SELECT * over every fixture table: the served bytes equal the Iterator[Row] entry points' in all four formats") {
    type Encode = (org.apache.spark.sql.DataFrame, Array[org.apache.spark.sql.Row], ByteArrayOutputStream) => Unit
    val formats: Seq[(String, Encode)] = Seq(
      "text/csv" -> ((df, rows, o) => RowEncoders.writeCsv(df.schema.fieldNames, rows.iterator, o)),
      "application/json" -> ((df, rows, o) => RowEncoders.writeJsonArray(df.schema.fieldNames, rows.iterator, o)),
      "application/jsonl" -> ((df, rows, o) => RowEncoders.writeJsonLines(df.schema.fieldNames, rows.iterator, o)),
      "application/vnd.apache.arrow.stream" -> ((df, rows, o) => ArrowIpcEncoder.write(df.schema, rows.iterator, o)))
    val bad = for {
      table <- T.all
      sql = s"SELECT * FROM $table"
      df = Dialect.sqlServed(spark, Dialect.rewrite(spark, sql))
      rows = df.collect()
      (accept, encode) <- formats
      want = { val o = new ByteArrayOutputStream(); encode(df, rows, o); o.toByteArray }
      got = client.send(HttpRequest.newBuilder(URI.create(base))
        .header("Accept", accept).header("Content-Type", "text/plain")
        .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      if got.statusCode() != 200 || !java.util.Arrays.equals(got.body(), want)
    } yield {
      val at = got.body().indices.find(i => i >= want.length || got.body()(i) != want(i))
      s"$table [$accept]: code ${got.statusCode()}, ${got.body().length}B served vs " +
        s"${want.length}B from rows, first difference at byte ${at.getOrElse(got.body().length)}"
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
