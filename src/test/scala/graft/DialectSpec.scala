package graft

import graft.server.{Dialect, QueryServer}
import org.apache.spark.sql.functions.col
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.util.control.NonFatal
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** DuckDB-dialect compatibility: the SQL a reference (uquery-rs)
  * client sends today runs unchanged through our server.
  */
class DialectSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private var srv: QueryServer = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()
  private val csvPath = {
    val d = java.nio.file.Files.createTempDirectory("graft_dialect")
    val f = d.resolve("langs.csv")
    java.nio.file.Files.writeString(f, "Id,Name,f_float\n1,Rust,4.56\n2,Scala,9.99\n")
    f.toString
  }

  override def beforeAll(): Unit = {
    T.views(spark, sf, "nation")
    srv = new QueryServer(spark, 0)
    srv.start()
    base = s"http://localhost:${srv.boundPort}"
  }

  override def afterAll(): Unit = if (srv != null) srv.stop()

  private def post(sql: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"$base/"))
        .header("Accept", "application/json").header("Content-Type", "text/plain")
        .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("star EXCLUDE runs as Spark EXCEPT") {
    val r = post("SELECT * EXCLUDE (b) FROM VALUES (1, 2) t(a, b)")
    assert(r.statusCode() == 200 && r.body() == "[{\"a\":1}]")
  }

  test("QUALIFY rewrites to a subquery filter, keeping trailing ORDER BY") {
    val r = post("""SELECT n_regionkey, n_name,
        row_number() OVER (PARTITION BY n_regionkey ORDER BY n_name) AS rn
      FROM nation QUALIFY rn = 1 ORDER BY n_regionkey LIMIT 2""")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"rn\":1") && !r.body().contains("\"rn\":2"))
  }

  test("QUALIFY with an INLINE window predicate (no alias) runs") {
    // the most common DuckDB form: the window expression sits directly
    // in the QUALIFY clause — Spark forbids windows in WHERE, so the
    // rewrite synthesizes an aliased boolean column and filters on it
    val r = post("""SELECT n_regionkey, n_name FROM nation
      QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_name) = 1
      ORDER BY n_regionkey LIMIT 2""")
    assert(r.statusCode() == 200)
    val body = r.body()
    assert(body.contains("\"n_regionkey\":0") && body.contains("\"n_regionkey\":1"))
    // helper column must not leak into the response
    assert(!body.contains("__qp"))
    // parenthesized window comparison also detected (OVER is nested)
    val r2 = post("""SELECT n_name FROM nation
      QUALIFY (rank() OVER (ORDER BY n_nationkey)) <= 3""")
    assert(r2.statusCode() == 200)
    assert(r2.body().split("n_name").length - 1 == 3)
  }

  test("DuckDB bracket indexing is 1-based with NULL out-of-range") {
    val r = post("SELECT a[1] AS first, a[4] AS missing, a[0] AS zero, a[-1] AS last" +
      " FROM VALUES (array(10, 20, 30)) t(a)")
    assert(r.statusCode() == 200)
    assert(r.body() == "[{\"first\":10,\"missing\":null,\"zero\":null,\"last\":30}]")
  }

  test("DuckDB bracket slices are 1-based and end-inclusive") {
    val r = post("SELECT a[2:3] AS mid, a[:2] AS head, a[3:] AS tail, a[:] AS whole" +
      " FROM VALUES (array(1, 2, 3, 4)) t(a)")
    assert(r.statusCode() == 200)
    assert(r.body() == "[{\"mid\":[2,3],\"head\":[1,2],\"tail\":[3,4],\"whole\":[1,2,3,4]}]")
  }

  test("DuckDB list literals [..] and ARRAY[..] become array()") {
    val r = post("SELECT [1, 2, 3][2] AS x, ARRAY['a', 'b'][1] AS y")
    assert(r.statusCode() == 200)
    assert(r.body() == "[{\"x\":2,\"y\":\"a\"}]")
  }

  test("brackets chain through subscripts and function results") {
    val r = post("SELECT [[1, 2], [3, 4]][2][1] AS v, sequence(5, 9)[3] AS s")
    assert(r.statusCode() == 200)
    assert(r.body() == "[{\"v\":3,\"s\":7}]")
  }

  test("DuckDB struct and MAP literals become named_struct/map") {
    // map[k] is LIST-valued ([42], [] on miss) — DuckDB's map_extract
    // shape, measured on the oracle (round-15 grammar-v9 fix; the old
    // bare-value pin encoded a documented divergence)
    val r = post("SELECT {'a': 1, 'b': 'x'}.a AS sa, MAP {'k': 41 + 1}['k'] AS mv, " +
      "MAP {'k': 1}['zz'] AS miss")
    assert(r.statusCode() == 200)
    assert(r.body() == "[{\"sa\":1,\"mv\":[42],\"miss\":[]}]")
    // nested: struct inside list inside struct
    val r2 = post("SELECT {'xs': [{'y': 7}]}.xs[1].y AS v")
    assert(r2.statusCode() == 200 && r2.body() == "[{\"v\":7}]")
  }

  test("struct_pack named arguments become named_struct") {
    val r = post("SELECT struct_pack(a := 1, b := struct_pack(c := 'x')).b.c AS v")
    assert(r.statusCode() == 200 && r.body() == "[{\"v\":\"x\"}]")
  }

  test("USING SAMPLE maps to TABLESAMPLE") {
    val r = post("SELECT count(*) AS n FROM nation USING SAMPLE 100 PERCENT")
    assert(r.statusCode() == 200 && r.body() == "[{\"n\":25}]")
    val rows = post("SELECT count(*) AS n FROM nation USING SAMPLE 3 ROWS")
    assert(rows.statusCode() == 200 && rows.body() == "[{\"n\":3}]")
    // DuckDB's end-of-query placement binds to the FROM table: the
    // rewrite relocates the clause to table position
    val term = post(
      "SELECT count(*) AS n FROM nation WHERE n_regionkey >= 0 USING SAMPLE 100 PERCENT")
    assert(term.statusCode() == 200 && term.body() == "[{\"n\":25}]")
  }

  test("DuckDB // dispatches: integral division on ints, plain on floats") {
    val r = post("SELECT 7 // 2 AS q, -7 // 2 AS nq, 7.5 // 2 AS f, 'http://x/y' AS url")
    assert(r.statusCode() == 200)
    // verified DuckDB behavior: -7//2 truncates to -3; 7.5//2 = 3.75
    assert(r.body() == "[{\"q\":3,\"nq\":-3,\"f\":3.75,\"url\":\"http://x/y\"}]")
  }

  test("postgres-style :: casts parse natively (no rewrite needed)") {
    val r = post("SELECT '42'::INT + 1 AS n")
    assert(r.statusCode() == 200 && r.body() == "[{\"n\":43}]")
  }

  test("read_parquet('path') maps to the native parquet table syntax") {
    val r = post(s"SELECT count(*) AS n FROM read_parquet('$sf/region.parquet')")
    assert(r.statusCode() == 200 && r.body() == "[{\"n\":5}]")
  }

  test("read_csv and bare CSV paths infer header and types like DuckDB") {
    val r = post(s"SELECT Name, f_float FROM read_csv('$csvPath') WHERE Id = 1")
    assert(r.statusCode() == 200 && r.body() == "[{\"Name\":\"Rust\",\"f_float\":4.56}]")
    val bare = post(s"SELECT count(*) AS n FROM '$csvPath'")
    assert(bare.statusCode() == 200 && bare.body() == "[{\"n\":2}]")
  }

  test("PRAGMA table_info and show_tables map to DESCRIBE/SHOW TABLES") {
    val t = post("PRAGMA table_info('nation')")
    assert(t.statusCode() == 200 && t.body().contains("n_nationkey"))
    val s = post("PRAGMA show_tables")
    assert(s.statusCode() == 200 && s.body().contains("nation"))
  }

  test("metadata verbs round-trip: DESCRIBE, SHOW TABLES, EXPLAIN") {
    val d = post("DESCRIBE nation")
    assert(d.statusCode() == 200)
    assert(d.body().contains("n_nationkey") && d.body().contains("n_name"))
    val s = post("SHOW TABLES")
    assert(s.statusCode() == 200 && s.body().contains("nation"))
    val e = post("EXPLAIN SELECT count(*) FROM nation")
    assert(e.statusCode() == 200 && e.body().contains("Physical Plan"))
  }

  test("unaliased count(*) is named count_star() like the reference asserts") {
    val r = post("SELECT count(*) FROM VALUES (1), (2) t(a)")
    assert(r.statusCode() == 200 && r.body() == "[{\"count_star()\":2}]")
  }

  test("DISTINCT ON keeps the first row per key in ORDER BY order") {
    val r = post("""SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name
      FROM nation ORDER BY n_regionkey, n_name""")
    assert(r.statusCode() == 200)
    val body = r.body()
    // 5 regions → 5 rows, each the alphabetically-first nation
    assert(body.split("n_regionkey").length - 1 == 5)
    // each region's alphabetically-first nation name survives
    val expected = T(spark, sf, "nation")
      .groupBy("n_regionkey").agg(org.apache.spark.sql.functions.min("n_name").as("m"))
      .collect().map(r => s""""n_regionkey":${r.getInt(0)},"n_name":"${r.getString(1)}"""").toSeq
    expected.foreach(e => assert(body.contains(e), s"missing $e"))
  }

  test("SUMMARIZE profiles a registered table") {
    val r = post("SUMMARIZE nation")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"summary\":\"count\"") && r.body().contains("mean"))
  }

  test("PIVOT statement auto-detects spreading values like DuckDB") {
    // nation: 25 rows, 5 regions — pivot row count per region key
    val r = post("PIVOT nation ON n_regionkey USING count(n_nationkey)")
    assert(r.statusCode() == 200, r.body())
    // one pivoted column per distinct region key, named by the value
    assert(r.body().contains("\"0\":") && r.body().contains("\"4\":"), r.body())
  }

  test("PIVOT with GROUP BY projects the group keys") {
    val r = post(
      "PIVOT nation ON n_regionkey USING count(n_nationkey) GROUP BY n_name")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"n_name\""), r.body())
  }

  test("FROM-first syntax: bare FROM and FROM..SELECT both run") {
    val r1 = post("FROM nation WHERE n_nationkey < 2 ORDER BY n_nationkey")
    assert(r1.statusCode() == 200 && r1.body().contains("n_name"), r1.body())
    val r2 = post("FROM nation SELECT n_name, n_nationkey WHERE n_nationkey = 3")
    assert(r2.statusCode() == 200 && r2.body().contains("\"n_nationkey\":3"), r2.body())
    // subquery source with no outer select list stays bare-FROM
    val r3 = post("FROM (SELECT n_name FROM nation WHERE n_nationkey = 1) t")
    assert(r3.statusCode() == 200 && r3.body().contains("n_name"), r3.body())
  }

  test("UNPIVOT statement maps to Spark UNPIVOT") {
    val r = post(
      "UNPIVOT (SELECT n_nationkey AS a, n_regionkey AS b FROM nation WHERE n_nationkey = 1) ON a, b INTO NAME k VALUE v")
    // simplified form covers identifier tables; subquery sources hit the
    // passthrough — use a registered-table spelling instead
    val r2 = post("UNPIVOT nation ON n_nationkey, n_regionkey INTO NAME k VALUE v")
    assert(r2.statusCode() == 200 && r2.body().contains("\"k\""), r2.body())
    assert(r.statusCode() == 400 || r.statusCode() == 200) // passthrough fails loudly or parses
  }

  test("EXCLUDE inside a string literal is untouched") {
    assert(Dialect.rewrite(spark, "SELECT '* EXCLUDE (x)' AS s") ==
      "SELECT '* EXCLUDE (x)' AS s")
  }

  test("list comprehension maps to transform(), IF clause to filter()") {
    val r = post("SELECT [x + 1 for x in [1, 2, 3]] AS a")
    assert(r.statusCode() == 200 && r.body() == "[{\"a\":[2,3,4]}]")
    val f = post("SELECT [x * 10 for x in [1, 2, 3, 4] if x % 2 = 0] AS a")
    assert(f.statusCode() == 200 && f.body() == "[{\"a\":[20,40]}]")
    // nested comprehension: inner rewritten on the enclosing re-scan
    val n = post("SELECT [[y * 2 for y in x] for x in [[1], [2, 3]]] AS a")
    assert(n.statusCode() == 200 && n.body() == "[{\"a\":[[2],[4,6]]}]")
    // comprehension over a column, with subscripts still working
    val c = post("SELECT [upper(s) for s in split(csv, ',')][1] AS first " +
      "FROM VALUES ('a,b,c') t(csv)")
    assert(c.statusCode() == 200 && c.body() == "[{\"first\":\"A\"}]")
  }

  test("COLUMNS(*) and COLUMNS(* EXCLUDE …) expand with expression wrapping") {
    val r = post("SELECT COLUMNS(*) FROM VALUES (1, 2) t(a, b) ORDER BY a")
    assert(r.statusCode() == 200 && r.body() == "[{\"a\":1,\"b\":2}]")
    val m = post("SELECT min(COLUMNS(*)) FROM VALUES (1, 10), (2, 20) t(a, b)")
    assert(m.statusCode() == 200 && m.body() == "[{\"min(a)\":1,\"min(b)\":10}]")
    val e = post("SELECT max(COLUMNS(* EXCLUDE (b))) FROM VALUES (1, 10), (2, 20) t(a, b)")
    assert(e.statusCode() == 200 && e.body() == "[{\"max(a)\":2}]")
  }

  test("COLUMNS('regex') and the lambda form pick columns by name") {
    val r = post("SELECT COLUMNS('n_(name|regionkey)') FROM nation " +
      "WHERE n_nationkey = 0")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"n_name\"") && r.body().contains("\"n_regionkey\""))
    assert(!r.body().contains("n_comment"))
    val l = post("SELECT count(COLUMNS(c -> c LIKE '%key')) FROM nation")
    assert(l.statusCode() == 200)
    assert(l.body().contains("count(n_nationkey)") && l.body().contains("count(n_regionkey)"))
    // lockstep expansion: same argument twice in one item
    val z = post("SELECT COLUMNS('f_.*') - COLUMNS('f_.*') AS d " +
      "FROM VALUES (1.5) t(f_x)")
    assert(z.statusCode() == 200 && z.body() == "[{\"d\":0.0}]")
    // unmatched regex fails loudly, not silently-empty
    assert(post("SELECT COLUMNS('zz_nope') FROM nation").statusCode() == 400)
  }

  test("COLUMNS in WHERE AND-expands; in ORDER BY it multiplies sort keys (round 9)") {
    // fixture rows: (1,10,'a') (2,NULL,'b') (3,5,'c') (NULL,7,'d');
    // every expected value verified against DuckDB 1.5
    val t = "FROM (VALUES (1, 10, 'a'), (2, NULL, 'b'), (3, 5, 'c'), (NULL, 7, 'd')) t(x, y, s)"
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // WHERE: predicate duplicated per matched column, AND-combined
    one(s"SELECT s $t WHERE COLUMNS('[xy]') > 2 ORDER BY s", """[{"s":"c"}]""")
    one(s"SELECT s $t WHERE COLUMNS(*) IS NOT NULL ORDER BY s",
      """[{"s":"a"},{"s":"c"}]""")
    // the WHOLE predicate (incl. the OR arm) repeats per column
    one(s"SELECT s $t WHERE COLUMNS('[xy]') IS NOT NULL OR s = 'b' ORDER BY s",
      """[{"s":"a"},{"s":"b"},{"s":"c"}]""")
    // ORDER BY: one sort key per matched column, suffix carried
    one(s"SELECT s $t ORDER BY COLUMNS(*)",
      """[{"s":"a"},{"s":"b"},{"s":"c"},{"s":"d"}]""")
    one(s"SELECT s $t ORDER BY COLUMNS('[xy]') DESC",
      """[{"s":"c"},{"s":"b"},{"s":"a"},{"s":"d"}]""")
  }

  test("COLUMNS in subqueries: derived tables, subquery WHERE, IN bodies (round 11)") {
    // every expected value verified against DuckDB 1.5
    val t = "FROM (VALUES (1, 10, 'a'), (2, NULL, 'b'), (3, 5, 'c'), (NULL, 7, 'd')) t(x, y, s)"
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // derived table: inner COLUMNS expands against the inner FROM
    one(s"SELECT q.x + q.y AS z FROM (SELECT COLUMNS('[xy]') $t) q ORDER BY z NULLS LAST",
      """[{"z":8},{"z":11},{"z":null},{"z":null}]""")
    // subquery's own WHERE clause AND-expands inside the derived table
    one(s"SELECT count(*) AS n FROM (SELECT COLUMNS('[xy]') $t WHERE COLUMNS('[xy]') IS NOT NULL) q",
      """[{"n":2}]""")
    // IN-subquery body with an aggregate-wrapped COLUMNS
    one(s"SELECT s $t WHERE x IN (SELECT max(COLUMNS(x)) $t) ORDER BY s",
      """[{"s":"c"}]""")
  }

  test("in-aggregate ORDER BY: multi-key and NULLS specs (round 9)") {
    val t = "FROM (VALUES (1, 10, 'a'), (2, NULL, 'b'), (3, 5, 'c'), (NULL, 7, 'd')) t(x, y, s)"
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB default: NULLS LAST in both directions (verified)
    one(s"SELECT array_agg(s ORDER BY x DESC, y ASC) AS a $t",
      """[{"a":["c","b","a","d"]}]""")
    one(s"SELECT array_agg(s ORDER BY x ASC NULLS FIRST) AS a $t",
      """[{"a":["d","a","b","c"]}]""")
    one(s"SELECT array_agg(s ORDER BY x DESC) AS a $t",
      """[{"a":["c","b","a","d"]}]""")
    one(s"SELECT first(s ORDER BY x DESC, y ASC) AS f $t", """[{"f":"c"}]""")
    one(s"SELECT last(s ORDER BY x DESC, y ASC) AS l $t", """[{"l":"d"}]""")
    one(s"SELECT string_agg(s, ',' ORDER BY x DESC, y ASC) AS g $t",
      """[{"g":"c,b,a,d"}]""")
  }

  test("star REPLACE swaps expressions in place, composing with EXCLUDE") {
    val r = post("SELECT * REPLACE (b * 10 AS b) FROM VALUES (1, 2, 3) t(a, b, c)")
    assert(r.statusCode() == 200 && r.body() == "[{\"a\":1,\"b\":20,\"c\":3}]")
    // EXCLUDE then REPLACE, DuckDB's modifier order; order of survivors kept
    val e = post("SELECT * EXCLUDE (a) REPLACE (c + 1 AS c) FROM VALUES (1, 2, 3) t(a, b, c)")
    assert(e.statusCode() == 200 && e.body() == "[{\"b\":2,\"c\":4}]")
    // expr containing AS at nested depth (CAST) still binds the right name
    val k = post("SELECT * REPLACE (CAST(a AS STRING) AS a) FROM VALUES (7, 8) t(a, b)")
    assert(k.statusCode() == 200 && k.body() == "[{\"a\":\"7\",\"b\":8}]")
    // replacing a nonexistent column is a loud binder error, as DuckDB
    assert(post("SELECT * REPLACE (1 AS nope) FROM VALUES (1) t(a)").statusCode() == 400)
    // REPLACE as a plain function name is untouched
    val f = post("SELECT REPLACE('aXa', 'X', 'b') AS s")
    assert(f.statusCode() == 200 && f.body() == "[{\"s\":\"aba\"}]")
  }

  test("DuckDB ASOF JOIN SQL runs over HTTP via the validity-interval rewrite") {
    T.views(spark, sf, "events")
    // the EXACT oracle text of c_join_asof (DuckDB-native ASOF SQL a
    // reference user would post), minus the DuckDB-only ns-cast
    val r = post("""SELECT c.user_id, c.event_id, p.value AS last_purchase_value
      FROM (SELECT user_id, event_id, ts FROM events
            WHERE event_type = 'click' AND user_id < 30) c
      ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND c.ts >= p.ts
      ORDER BY c.user_id ASC NULLS LAST, c.event_id ASC NULLS LAST""")
    assert(r.statusCode() == 200, r.body())
    // ground truth: the salted AsOfJoin operator on the same inputs
    val ev = T(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click" && col("user_id") < 30)
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val expect = graft.operators.AsOfJoin(clicks, purchases, "user_id", "ts", "ts",
        Map("value" -> "last_purchase_value"))
      .select(col("user_id"), col("event_id"), col("last_purchase_value"))
      .collect()
      .map(x => (x.getLong(0), x.getLong(1),
        Option(x.get(2)).map(v => math.round(v.asInstanceOf[Double] * 1e6))))
      .toSet
    val got = r.body()
    val entry = """\{"user_id":(\d+),"event_id":(\d+),"last_purchase_value":(null|[-0-9.E]+)\}""".r
    val gotSet = entry.findAllMatchIn(got).map { m =>
      (m.group(1).toLong, m.group(2).toLong,
        Option(m.group(3)).filter(_ != "null").map(v => math.round(v.toDouble * 1e6)))
    }.toSet
    assert(gotSet.nonEmpty && gotSet == expect,
      s"asof-over-http mismatch: ${gotSet.size} vs ${expect.size}")
    // INNER variant drops unmatched clicks instead of nulling them
    val inner = post("""SELECT count(*) AS n
      FROM (SELECT user_id, event_id, ts FROM events
            WHERE event_type = 'click' AND user_id < 30) c
      ASOF JOIN (SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND c.ts >= p.ts""")
    assert(inner.statusCode() == 200)
    val nInner = """"n":(\d+)""".r.findFirstMatchIn(
      inner.body()).get.group(1).toLong
    assert(nInner == expect.count(_._3.isDefined))
  }

  test("ASOF JOIN forward direction and bare SELECT * stay clean") {
    T.views(spark, sf, "events")
    // forward: c.ts <= p.ts — next purchase at-or-after each click
    val fwd = post("""SELECT c.event_id, p.value AS next_value
      FROM (SELECT user_id, event_id, ts FROM events
            WHERE event_type = 'click' AND user_id < 5) c
      ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND c.ts <= p.ts
      ORDER BY c.event_id ASC NULLS LAST""")
    assert(fwd.statusCode() == 200, fwd.body().take(200))
    // SELECT * must not leak the synthesized __vf/__vu interval columns
    val star = post("""SELECT * FROM (SELECT 1 AS k, 10 AS t) a
      ASOF LEFT JOIN (SELECT 1 AS k, 5 AS t2, 'x' AS v) b
        ON a.k = b.k AND a.t >= b.t2""")
    assert(star.statusCode() == 200)
    val body = star.body()
    assert(!body.contains("__vf") && !body.contains("__vu"), body)
    assert(body.contains("\"v\":\"x\""))
  }

  test("UNION BY NAME matches columns by name and NULL-fills the gaps") {
    val r = post("SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 20 AS b, 10 AS a")
    assert(r.statusCode() == 200)
    assert(r.body() == "[{\"a\":1,\"b\":2},{\"a\":10,\"b\":20}]")
    // DuckDB NULL-fills columns missing on one side
    val f = post("SELECT 1 AS a UNION ALL BY NAME SELECT 5 AS b ORDER BY a NULLS LAST")
    assert(f.statusCode() == 200)
    assert(f.body() == "[{\"a\":1,\"b\":null},{\"a\":null,\"b\":5}]")
    // plain distinct UNION BY NAME dedups after alignment
    val d = post("SELECT 1 AS a, 2 AS b UNION BY NAME SELECT 2 AS b, 1 AS a")
    assert(d.statusCode() == 200 && d.body() == "[{\"a\":1,\"b\":2}]")
    // SHOW ALL TABLES is DuckDB for SHOW TABLES
    assert(post("SHOW ALL TABLES").statusCode() == 200)
  }

  test("SIMILAR TO anchors the whole string as RLIKE; PIVOT takes explicit IN") {
    val r = post("SELECT 'abc' SIMILAR TO 'a.*' AS m1, 'abc' SIMILAR TO 'b.*' AS m2, " +
      "'xabc' SIMILAR TO 'a.*' AS m3, 'abc' NOT SIMILAR TO 'a.*' AS n1")
    assert(r.statusCode() == 200)
    // whole-string semantics: 'xabc' does NOT match 'a.*'
    assert(r.body() == "[{\"m1\":true,\"m2\":false,\"m3\":false,\"n1\":false}]")
    // a SIMILAR-TO-shaped phrase inside a string literal is untouched
    val lit = post("SELECT 'is SIMILAR TO ''x''' AS s")
    assert(lit.statusCode() == 200 && lit.body().contains("SIMILAR TO"))
    // PIVOT with an explicit IN list pivots only the named values
    spark.sql("SELECT * FROM VALUES ('a', 1), ('b', 2) AS t(g, v)")
      .createOrReplaceTempView("fastpiv2")
    val p = post("PIVOT fastpiv2 ON g IN ('a') USING sum(v)")
    assert(p.statusCode() == 200, p.body())
    assert(p.body().contains("\"a\":1") && !p.body().contains("\"b\""))
  }

  test("FROM generate_series is a table function with inclusive bounds") {
    val r = post("SELECT * FROM generate_series(2, 5) ORDER BY generate_series")
    assert(r.statusCode() == 200)
    assert(r.body() == "[{\"generate_series\":2},{\"generate_series\":3}," +
      "{\"generate_series\":4},{\"generate_series\":5}]")
    val s = post("SELECT x * 10 AS v FROM generate_series(1, 5, 2) AS t(x) ORDER BY v")
    assert(s.statusCode() == 200 && s.body() == "[{\"v\":10},{\"v\":30},{\"v\":50}]")
    // Spark's range() TVF parses natively with the same exclusive end as DuckDB
    val n = post("SELECT count(*) AS n FROM range(1, 5)")
    assert(n.statusCode() == 200 && n.body() == "[{\"n\":4}]")
  }

  test("rewritten ASOF SQL plans as an equi-join, not a nested loop") {
    T.views(spark, sf, "events")
    val rewritten = Dialect.rewrite(spark, """SELECT c.event_id, p.value
      FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND c.ts >= p.ts""")
    val plan = spark.sql(rewritten).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
    assert(plan.contains("Join") || plan.contains("join"), plan.take(400))
  }

  test("sandboxed server rejects dot-dot traversal in dialect file sources") {
    val allowed = new java.io.File("/tmp/graft_sandbox2/data")
    allowed.mkdirs()
    val sandboxed = new QueryServer(spark, 0, allowedDirs = Seq(allowed.getAbsolutePath))
    sandboxed.start()
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${sandboxed.boundPort}/"))
          .header("Accept", "application/json").header("Content-Type", "text/plain")
          .POST(HttpRequest.BodyPublishers.ofString(
            s"SELECT * FROM read_csv('${allowed.getAbsolutePath}/../../../$csvPath')")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 400)
      assert(r.body().contains("outside allowed directories"))
    } finally sandboxed.stop()
  }

  test("bracket slices carry DuckDB semantics on strings and lists") {
    // verified against DuckDB 1.5: 1-based, end-inclusive, negative
    // from the end, 0 treated as 1, clamped, inverted → empty
    val r = post("""SELECT 'abcdef'[2:4] AS a, 'abcdef'[-3:-1] AS b,
      'abcdef'[:-2] AS c, 'abcdef'[4:2] AS d, 'abc'[-1] AS e,
      [1,2,3,4][-3:-1] AS f, [1,2,3,4][1:-1] AS g, [1,2][0] AS h""")
    assert(r.statusCode() == 200)
    assert(r.body() == """[{"a":"bcd","b":"def","c":"abcde","d":"","e":"c","f":[2,3,4],"g":[1,2,3,4],"h":null}]""")
  }

  test("a bracket after a bare keyword is a list literal, and || concats lists") {
    val r = post("SELECT [1] || [2] AS l")
    assert(r.statusCode() == 200 && r.body() == """[{"l":[1,2]}]""")
  }

  test("round-5 function long-tail matches DuckDB-verified values") {
    val r = post("""SELECT list_unique([1,1,NULL,2,NULL]) AS a,
      list_reverse_sort([1,3,2]) AS b, list_position([7,8,9], 5) AS c,
      strpos('hello', 'll') AS d, format('{}-{:.2f}', 7, 3.14159) AS e,
      regexp_extract('a1b2', '[0-9]') AS f, trunc(-1.9) AS g,
      starts_with('abc', 'ab') AS h, array_length([1,2,NULL]) AS i""")
    assert(r.statusCode() == 200)
    assert(r.body() == """[{"a":2,"b":[3,2,1],"c":0,"d":3,"e":"7-3.14","f":"1","g":-1,"h":true,"i":3}]""")
  }

  test("quantile_disc and product aggregate with DuckDB semantics") {
    val r = post("""SELECT quantile_disc(n_regionkey, 0.5) AS q,
      product(CAST(n_regionkey + 1 AS DOUBLE)) FILTER (WHERE n_regionkey < 1) AS p
      FROM nation""")
    assert(r.statusCode() == 200)
    assert(r.body() == """[{"q":2,"p":1.0}]""")
  }

  test("date_diff counts boundary crossings and time_bucket uses DuckDB origins") {
    // DuckDB-verified: month Jan31->Mar01 = 2 (Spark's elapsed-month
    // semantics would say 1); hour 10:59:59->11:00:01 = 1; week
    // buckets align to Monday 2000-01-03, month buckets to 2000-01-01
    val r = post("""SELECT
      date_diff('month', DATE '2024-01-31', DATE '2024-03-01') AS a,
      date_diff('hour', TIMESTAMP '2024-01-01 10:59:59', TIMESTAMP '2024-01-01 11:00:01') AS b,
      CAST(time_bucket(INTERVAL 1 WEEK, DATE '2024-03-03') AS STRING) AS c,
      CAST(time_bucket(INTERVAL 2 MONTH, DATE '2024-04-05') AS STRING) AS d,
      CAST(time_bucket(INTERVAL '15' MINUTE, TIMESTAMP '2024-03-05 10:42:17') AS STRING) AS e""")
    assert(r.statusCode() == 200)
    assert(r.body() == """[{"a":2,"b":1,"c":"2024-02-26","d":"2024-03-01","e":"2024-03-05 10:30:00"}]""")
  }

  test("JSON arrows and ::JSON casts carry DuckDB quoting semantics") {
    // -> keeps JSON form ('"x"'), ->> unquotes; 0-based indexes;
    // lambda arrows (x -> expr) are left alone
    val r = post("""SELECT '{"a": "x"}' -> 'a' AS j, '{"a": "x"}' ->> 'a' AS v,
      '[5,6]'::JSON -> 1 AS i, '{"a":[1,2]}' -> 'a' -> 1 AS c,
      json_extract('{"a": 1}', '/a') AS p,
      list_transform([1,2], x -> x * 2) AS l""")
    assert(r.statusCode() == 200)
    assert(r.body() == """[{"j":"\"x\"","v":"x","i":"6","c":"2","p":"1","l":[2,4]}]""")
  }

  test("in-aggregate ORDER BY, tilde operators, ANY-over-list, OFFSET-LIMIT order") {
    val r = post("""SELECT string_agg(n_name, '|' ORDER BY n_name DESC) AS s
      FROM nation WHERE n_regionkey = 0""")
    assert(r.statusCode() == 200 && r.body().contains("\"s\":\""))
    val r2 = post("""SELECT array_agg(n_name ORDER BY n_nationkey DESC) AS l
      FROM nation WHERE n_regionkey = 0""")
    assert(r2.statusCode() == 200)
    val r3 = post("""SELECT 'Abc' ~ 'A.*' AS a, 'Abc' ~ '^A' AS b,
      'Abc' ~~ 'A%' AS c, 2 = ANY([1, 2]) AS d, 3 > ALL([1, 2]) AS e""")
    assert(r3.statusCode() == 200)
    assert(r3.body() == """[{"a":true,"b":false,"c":true,"d":true,"e":true}]""")
    val r4 = post("SELECT n_name FROM nation ORDER BY n_name OFFSET 2 LIMIT 2")
    assert(r4.statusCode() == 200 && r4.body().split("\\},\\{").length == 2)
  }

  test("round-5 function batch returns DuckDB-verified values") {
    // every expected value below was produced by DuckDB 1.5 itself
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    one("SELECT divide(7, 2) AS a, divide(-7, 2) AS b, divide(7.5, 2.0) AS c",
      """[{"a":3,"b":-3,"c":3.75}]""")
    one("SELECT fdiv(7, 2) AS a, fmod(-7.5, 2.0) AS b, fmod(7.5, -2.0) AS c, xor(5, 3) AS d",
      """[{"a":3.0,"b":0.5,"c":-0.5,"d":6}]""")
    one("SELECT even(2.5) AS a, even(-2.5) AS b, even(2.0) AS c",
      """[{"a":4.0,"b":-4.0,"c":2.0}]""")
    one("SELECT unicode('€x') AS a, unicode('') AS b",
      """[{"a":8364,"b":-1}]""")
    one("SELECT to_base(255, 16) AS a, to_base(10, 2, 8) AS b",
      """[{"a":"FF","b":"00001010"}]""")
    one("SELECT julian(DATE '1970-01-01') AS a, julian(TIMESTAMP '2024-03-05 12:00:00') AS b",
      """[{"a":2440588.0,"b":2460375.5}]""")
    one("SELECT dayofweek(DATE '2024-03-03') AS a, isodow(DATE '2024-03-03') AS b, " +
      "week(DATE '2024-12-30') AS c, yearweek(DATE '2024-12-30') AS d, yearweek(DATE '2023-01-01') AS e",
      """[{"a":0,"b":7,"c":1,"d":202501,"e":202252}]""")
    one("SELECT hamming('abc', 'abd') AS a, editdist3('kitten', 'sitting') AS b",
      """[{"a":1,"b":3}]""")
    assert(post("SELECT hamming('ab', 'abc') AS x").statusCode() >= 400) // unequal lengths error, like DuckDB
    one("SELECT round(jaro_similarity('martha', 'marhta'), 6) AS a, " +
      "round(jaro_winkler_similarity('martha', 'marhta'), 6) AS b, " +
      "damerau_levenshtein('ca', 'abc') AS c", // full DL: 2 (OSA would say 3)
      """[{"a":0.944444,"b":0.961111,"c":2}]""")
    one("SELECT strip_accents('éà') AS a, nfc_normalize('é') = 'é' AS b",
      """[{"a":"ea","b":true}]""")
    one("SELECT range(3) AS a, range(0) AS b, range(5, 2, -1) AS c, range(1, 5, 0) AS d",
      """[{"a":[0,1,2],"b":[],"c":[5,4,3],"d":[]}]""")
    one("SELECT generate_series(3) AS a, generate_series(5, 1, -2) AS b, generate_series(2, 2, 5) AS c",
      """[{"a":[0,1,2,3],"b":[5,3,1],"c":[2]}]""")
    one("SELECT round(entropy(x), 6) AS e FROM (VALUES ('a'),('a'),(NULL),('b')) t(x)",
      """[{"e":0.918296}]""")
    one("SELECT entropy(x) AS e FROM (VALUES (CAST(NULL AS INT))) t(x)",
      """[{"e":0.0}]""")
    one("SELECT struct_extract({'a': 1, 'b': 2}, 'b') AS v",
      """[{"v":2}]""")
    one("SELECT constant_or_null(5, NULL) AS a, constant_or_null(5, 1) AS b",
      """[{"a":null,"b":5}]""")
    one("SELECT quantile(x, 0.5) AS m FROM (VALUES (1.0),(2.0)) t(x)",
      """[{"m":1.0}]""")
    one("SELECT first(x ORDER BY y) AS a, last(x ORDER BY y) AS b, first(x ORDER BY y DESC) AS c " +
      "FROM (VALUES ('a', 2), ('b', 1), ('c', 3)) t(x, y)",
      """[{"a":"b","b":"c","c":"c"}]""")
    one("SELECT timezone('America/New_York', TIMESTAMP '2024-03-05 10:00:00') AS t",
      """[{"t":"2024-03-05 15:00:00"}]""")
    one("SELECT isnan('nan'::DOUBLE) AS a, isinf('inf'::DOUBLE) AS b, isfinite(1.0) AS c",
      """[{"a":true,"b":true,"c":true}]""")
    one("SELECT to_hex(255) AS a, nextafter(1.0, 2.0) AS b",
      """[{"a":"FF","b":1.0000000000000002}]""")
    one("SELECT signbit(-1.0) AS a, signbit(-0.0) AS b", // DuckDB: -0.0 is false
      """[{"a":true,"b":false}]""")
    one("SELECT gamma(5) AS a, round(lgamma(5), 6) AS b",
      """[{"a":24.0,"b":3.178054}]""")
    one("SELECT mad(x) AS a FROM (VALUES (1.0),(2.0),(10.0)) t(x)",
      """[{"a":1.0}]""")
    one("SELECT mad(x) AS a FROM (VALUES (1.0),(2.0)) t(x)", // even count interpolates
      """[{"a":0.5}]""")
    one("SELECT struct_insert({'a': 1}, b := 2, c := 'x') AS s",
      """[{"s":{"a":1,"b":2,"c":"x"}}]""")
    // type aliases rewrite ONLY in cast positions; unsigned types widen
    one("SELECT 1::INT1 AS a, 2::INT4 AS b, 3::INT8 AS c, 1.5::FLOAT8 AS d, " +
      "CAST(255 AS UBIGINT) AS e, 'x'::TEXT AS f",
      """[{"a":1,"b":2,"c":3,"d":1.5,"e":255,"f":"x"}]""")
    one("SELECT t.text AS text FROM (SELECT 'hi' AS text) t", // a column NAMED text is untouched
      """[{"text":"hi"}]""")
    one("SELECT extract('year' FROM DATE '2024-03-05') AS y",
      """[{"y":2024}]""")
    one("SELECT row(1, 'x') AS r",
      """[{"r":{"col1":1,"col2":"x"}}]""")
    // third batch — each expectation is DuckDB 1.5's own output
    one("SELECT gcd(-12, 18) AS a, gcd(0, 0) AS b, lcm(4, 6) AS c, lcm(0, 5) AS d, " +
      "least_common_multiple(4, 6) AS e",
      """[{"a":6,"b":0,"c":12,"d":0,"e":12}]""")
    one("SELECT format_bytes(1234567) AS a, format_bytes(1887436) AS b, " + // truncated tenths
      "format_bytes(1023) AS c, format_bytes(1024) AS d, format_bytes(0) AS e",
      """[{"a":"1.1 MiB","b":"1.7 MiB","c":"1023 bytes","d":"1.0 KiB","e":"0 bytes"}]""")
    one("SELECT parse_filename('/a/b/c.txt') AS a, parse_filename('a.tar.gz', true) AS b, " +
      "parse_dirname('/a/b/c.txt') AS c, parse_dirname('a/b/c.txt') AS d, " +
      "parse_dirname('rel.txt') AS e, parse_dirpath('/a/b/c.txt') AS f, parse_dirpath('rel.txt') AS g",
      """[{"a":"c.txt","b":"a.tar","c":"/","d":"a","e":"","f":"/a/b","g":""}]""")
    one("SELECT decade(DATE '1999-03-05') AS a, century(DATE '2000-01-01') AS b, " +
      "century(DATE '2001-01-01') AS c, millennium(DATE '2024-01-01') AS d, era(DATE '2024-01-01') AS e",
      """[{"a":199,"b":20,"c":21,"d":3,"e":1}]""")
    one("SELECT CAST(DATE '2024-01-01' + to_days(3) AS DATE) AS d, " +
      "CAST(TIMESTAMP '2024-01-01 00:00:00' + to_hours(2) AS TIMESTAMP) AS t",
      """[{"d":"2024-01-04","t":"2024-01-01 02:00:00"}]""")
    one("SELECT ord('€a') AS a, ord('') AS b, mismatches('abc', 'axc') AS c",
      """[{"a":8364,"b":-1,"c":1}]""")
    one("SELECT string_split_regex('a1b2c', '[0-9]') AS l",
      """[{"l":["a","b","c"]}]""")
  }

  test("round-6 batch: bar, age, md5_number_lower, bitstring, txid, DESCRIBE, POSITIONAL JOIN") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // bar: eighth-block resolution, clamped (verified vs DuckDB 1.5:
    // bar(5,0,10,10) = 5 full blocks; 3/16 of width 4 = 0.75 chars =
    // 6 eighths = '▊'; out-of-range clamps to empty / full)
    one("SELECT bar(5, 0, 10, 10) AS s, bar(3, 0, 16, 4) AS p, " +
      "bar(-1, 0, 10, 10) AS z, bar(99, 0, 10, 4) AS f",
      """[{"s":"█████","p":"▊","z":"","f":"████"}]""")
    // age: symbolic field-wise difference with Postgres borrow rules
    // (DuckDB verified: 4 years 2 months 4 days; exact negation when
    // swapped; day-borrow takes the START month's length). Rendering
    // is Spark's CalendarInterval (always-plural units); the VALUE is
    // the interval DuckDB computes.
    val age = spark.sql(graft.server.Dialect.rewrite(spark,
      "SELECT age(TIMESTAMP '2024-03-05 00:00:00', TIMESTAMP '2020-01-01 00:00:00') AS a, " +
        "age(TIMESTAMP '2020-01-01 00:00:00', TIMESTAMP '2024-03-05 00:00:00') AS b, " +
        "age(TIMESTAMP '2024-03-10 02:00:00', TIMESTAMP '2024-01-20 03:30:00') AS c")).first()
    assert(age.get(0).toString == "4 years 2 months 4 days")
    assert(age.get(1).toString == "-4 years -2 months -4 days")
    assert(age.get(2).toString == "1 months 20 days 22 hours 30 minutes")
    // 1-arg age is vs today's midnight — just prove it resolves and is
    // a zero interval for today's own midnight
    assert(spark.sql(graft.server.Dialect.rewrite(spark,
      "SELECT age(CAST(current_date() AS TIMESTAMP)) AS a")).first().get(0).toString == "0 seconds")
    // md5_number_lower: first 8 digest bytes as little-endian uint64
    // (DuckDB verified values)
    one("SELECT md5_number_lower('abc') AS h, md5_number_lower('') AS e",
      """[{"h":12704604231530709392,"e":338333539836370388}]""")
    // bitstring pads left; both DuckDB error cases reproduce
    one("SELECT bitstring('0101', 8) AS b", """[{"b":"00000101"}]""")
    assert(post("SELECT bitstring('0102', 8) AS b").statusCode() >= 400)
    assert(post("SELECT bitstring('0101', 3) AS b").statusCode() >= 400)
    // txid_current: strictly increasing across calls
    val tx = spark.sql("SELECT txid_current() AS a, txid_current() AS b").first()
    assert(tx.getLong(0) < tx.getLong(1))
    // DESCRIBE of a subquery and DESCRIBE as a relation
    val d1 = post("DESCRIBE SELECT 1 AS x, 'a' AS y")
    assert(d1.statusCode() == 200 && d1.body().contains("\"col_name\":\"x\"") &&
      d1.body().contains("\"col_name\":\"y\""), d1.body())
    val d2 = post("SELECT col_name FROM (DESCRIBE nation) ORDER BY col_name LIMIT 1")
    assert(d2.statusCode() == 200 && d2.body() == """[{"col_name":"n_name"}]""", d2.body())
    // POSITIONAL JOIN: zip by row order, shorter side padded with NULL
    one("SELECT * FROM (VALUES (1), (2), (3)) t(x) POSITIONAL JOIN (VALUES ('a'), ('b')) s(y)",
      """[{"x":1,"y":"a"},{"x":2,"y":"b"},{"x":3,"y":null}]""")
    // chained positional joins zip left-to-right
    one("SELECT * FROM (VALUES (1), (2)) t(x) POSITIONAL JOIN (VALUES (10), (20)) s(y) " +
      "POSITIONAL JOIN (VALUES (100), (200)) u(z) WHERE x > 1",
      """[{"x":2,"y":20,"z":200}]""")
    // names qualified by an operand's alias resolve through the chain;
    // a subquery's own alias of the same name keeps its scope
    one("SELECT t.x, s.y FROM (VALUES (1), (2)) t(x) POSITIONAL JOIN (VALUES (10), (20)) s(y) " +
      "POSITIONAL JOIN (VALUES (100), (200)) u(z) WHERE u.z > 100",
      """[{"x":2,"y":20}]""")
    one("SELECT (SELECT max(t.x) FROM (VALUES (5)) t(x)) AS m, t.x " +
      "FROM (VALUES (1)) t(x) POSITIONAL JOIN (VALUES (2)) s(y)",
      """[{"m":5,"x":1}]""")
    // a name the zipped view cannot resolve fails naming the alias
    for ((sql, why) <- Seq(
        "SELECT t.zz FROM (VALUES (1)) t(x) POSITIONAL JOIN (VALUES (2)) s(y)" -> "t has no column zz",
        "SELECT t.x FROM (VALUES (1)) t(x) POSITIONAL JOIN (VALUES (2)) s(x)" ->
          "column x is in both joined relations")) {
      val r = post(sql)
      assert(r.statusCode() >= 400 && r.body().contains(why) &&
        !r.body().contains("__graft_posjoin"), s"$sql -> ${r.body()}")
    }
  }

  test("round-6 probe5 batch returns DuckDB-verified values") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    one("SELECT list_reduce([1, 2, 3], (a, b) -> a + b) AS r", """[{"r":6}]""")
    assert(post("SELECT list_reduce(list_filter([1], x -> false), (a, b) -> a + b) AS r").statusCode() >= 400) // empty errors, like DuckDB
    one("SELECT list_zip([1, 2], ['a', 'b']) AS z",
      """[{"z":[{"list_1":1,"list_2":"a"},{"list_1":2,"list_2":"b"}]}]""")
    one("SELECT list_zip([1, 2, 3], ['a']) AS z", // shorter side NULL-pads
      """[{"z":[{"list_1":1,"list_2":"a"},{"list_1":2,"list_2":null},{"list_1":3,"list_2":null}]}]""")
    one("SELECT list_any_value([NULL, 2, 3]) AS a, list_count([1, NULL, 3]) AS c",
      """[{"a":2,"c":2}]""")
    one("SELECT list_has_any([1, 2], [2, 9]) AS a, list_has_any([1], [CAST(NULL AS INT)]) AS b, " +
      "list_has_all([1, 2, 3], [1, 2]) AS c, list_has_all([1], list_filter([1], x -> false)) AS d",
      """[{"a":true,"b":false,"c":true,"d":true}]""")
    one("SELECT array_inner_product([1.0, 2.0], [3.0, 4.0]) AS p, " +
      "array_distance([0.0, 0.0], [3.0, 4.0]) AS d, " +
      "array_cosine_similarity([1.0, 0.0], [1.0, 0.0]) AS s",
      """[{"p":11.0,"d":5.0,"s":1.0}]""")
    one("SELECT list_dot_product([1.0, 2.0], [3.0, 4.0]) AS p", // alias of list_inner_product
      """[{"p":11.0}]""")
    one("SELECT list_grade_up([30, 10, 20]) AS g", """[{"g":[2,3,1]}]""")
    one("SELECT list_grade_up(list_filter([1], x -> false)) AS g", """[{"g":[]}]""")
    one("SELECT list_reverse([1, 2, 3]) AS r", """[{"r":[3,2,1]}]""")
    one("SELECT repeat([1, 2], 2) AS l, repeat('ab', 2) AS s",
      """[{"l":[1,2,1,2],"s":"abab"}]""")
    one("SELECT map_contains(MAP {'a': 1}, 'a') AS y, map_contains(MAP {'a': 1}, 'z') AS n",
      """[{"y":true,"n":false}]""")
    one("SELECT json_object('a', 1, 'b', 'x') AS j, json_array(1, 2, 3) AS l",
      """[{"j":"{\"a\":1,\"b\":\"x\"}","l":"[1,2,3]"}]""")
    one("SELECT json_valid('{\"a\": 1}') AS y, json_valid('nope{') AS n",
      """[{"y":true,"n":false}]""")
    one("SELECT json_keys('{\"a\": 1, \"b\": 2}') AS k", """[{"k":["a","b"]}]""")
    one("SELECT regexp_full_match('abc', '[a-z]+') AS y, regexp_full_match('abc', '[a-z]') AS n",
      """[{"y":true,"n":false}]""")
    one("SELECT regexp_escape('a.b(c)') AS e", """[{"e":"a\\.b\\(c\\)"}]""")
    one("SELECT sha256('abc') AS s",
      """[{"s":"ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"}]""")
    one("SELECT group_concat(x, '|') AS s FROM (VALUES ('a')) t(x)", """[{"s":"a"}]""")
    one("SELECT substring_grapheme('héllo', 2, 3) AS s", """[{"s":"éll"}]""")
    one("SELECT geomean(x) AS g FROM (VALUES (2.0), (8.0)) t(x)", """[{"g":4.0}]""")
    one("SELECT datetrunc('month', DATE '2024-03-15') AS d, " + // DATE in -> DATE out
      "datetrunc('hour', TIMESTAMP '2024-03-05 10:37:22') AS t",
      """[{"d":"2024-03-01","t":"2024-03-05 10:00:00"}]""")
    one("SELECT datesub('day', DATE '2024-01-01', DATE '2024-03-05') AS d, " +
      "datesub('month', TIMESTAMP '2024-01-15 10:00:00', TIMESTAMP '2024-03-15 09:00:00') AS m, " +
      "datesub('year', TIMESTAMP '2020-01-01 00:00:00', TIMESTAMP '2024-03-05 00:00:00') AS y",
      """[{"d":64,"m":1,"y":4}]""")
    one("SELECT date_part(['year', 'month'], DATE '2024-03-05') AS p",
      """[{"p":{"year":2024,"month":3}}]""")
    val cs = post("SELECT current_setting('threads') AS t")
    assert(cs.statusCode() == 200 && cs.body().matches("""\[\{"t":"\d+"\}\]"""), cs.body())
    // the probe5-era omissions were closed in round 8 (probe6 batch
    // pins their full semantics; the basic forms assert here)
    one("SELECT json_structure('{\"a\": 1}') AS s", """[{"s":"{\"a\":\"UBIGINT\"}"}]""")
    val bsa = post("SELECT bitstring_agg(n_nationkey) AS b FROM nation")
    assert(bsa.statusCode() == 200 && bsa.body() == """[{"b":"1111111111111111111111111"}]""", bsa.body())
    // ^ is POWER in DuckDB (Spark's ^ is XOR — the nastiest silent
    // divergence in the dialect); ** is its alias. Left-associative,
    // chains through calls/brackets/unary minus; DuckDB's 2 ^ 3 = 8.0
    one("SELECT 2 ^ 3 AS a, 2 ** 3 AS b, 2 ^ 3 ^ 2 AS c",
      """[{"a":8.0,"b":8.0,"c":64.0}]""")
    one("SELECT (1 + 1) ^ 2 AS a, abs(-2) ^ 2 AS b, 2 ^ -1 AS c, x ^ 2 AS d " +
      "FROM (VALUES (3)) t(x)",
      """[{"a":4.0,"b":4.0,"c":0.5,"d":9.0}]""")
    one("SELECT 2 * 3 ^ 2 AS tight", """[{"tight":18.0}]""") // ^ binds tighter than *
    one("SELECT '^caret inside string' AS s, 'a^b' ~~ 'a^b' AS l",
      """[{"s":"^caret inside string","l":true}]""")
    // GLOB keyword and the ~~~ operator translate glob patterns to
    // anchored regex (DuckDB: * ? [abc] [!abc]; '.' is literal)
    one("SELECT 'main.rs' GLOB '*.rs' AS a, 'main.rs' GLOB '*.go' AS b, " +
      "'a.txt' NOT GLOB '?.txt' AS n, 'file1' GLOB 'file[0-9]' AS c, " +
      "'fileX' GLOB 'file[!0-9]' AS d, 'axb' GLOB 'a?b' AS e",
      """[{"a":true,"b":false,"n":false,"c":true,"d":true,"e":true}]""")
    one("SELECT 'main.rs' ~~~ '*.rs' AS a, 'main.rs' !~~~ '*.go' AS b",
      """[{"a":true,"b":true}]""")
    // SHOW <table> is DuckDB's DESCRIBE shorthand; Spark SHOW verbs stay
    val sh = post("SHOW nation")
    assert(sh.statusCode() == 200 && sh.body().contains("n_nationkey"), sh.body())
    val st = post("SHOW TABLES")
    assert(st.statusCode() == 200 && st.body().contains("nation"))
    // EXPLAIN ANALYZE renders the plan (without DuckDB's timings)
    val ea = post("EXPLAIN ANALYZE SELECT count(*) FROM nation")
    assert(ea.statusCode() == 200 && ea.body().contains("Physical Plan"), ea.body())
    // DESC abbreviation on subqueries; SUMMARIZE over a query
    val dq = post("DESC SELECT 1 AS z")
    assert(dq.statusCode() == 200 && dq.body().contains("\"col_name\":\"z\""), dq.body())
    val sq = post("SUMMARIZE SELECT n_nationkey FROM nation WHERE n_nationkey < 5")
    assert(sq.statusCode() == 200 && sq.body().contains("\"summary\":\"count\"") &&
      sq.body().contains("\"n_nationkey\":\"5\""), sq.body())
  }

  test("round-8 probe6 batch returns DuckDB-verified values") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // list_sort arity/ordering matrix: DuckDB default is NULLS LAST in
    // BOTH directions (verified on DuckDB)
    one("SELECT list_sort([3, 1, NULL]) AS s", """[{"s":[1,3,null]}]""")
    one("SELECT list_sort([3, 1, NULL], 'DESC') AS s", """[{"s":[3,1,null]}]""")
    one("SELECT list_sort([3, 1, NULL], 'ASC', 'NULLS FIRST') AS s", """[{"s":[null,1,3]}]""")
    one("SELECT list_sort([3, 1, NULL], 'DESC', 'NULLS FIRST') AS s", """[{"s":[null,3,1]}]""")
    one("SELECT list_reverse_sort([3, 1, NULL]) AS s", """[{"s":[3,1,null]}]""")
    one("SELECT array_slice([1, 2, 3, 4], 2, 3) AS s", """[{"s":[2,3]}]""")
    // out-of-range select -> NULL element (verified)
    one("SELECT list_select([10, 20, 30], [3, 1, 4]) AS s", """[{"s":[30,10,null]}]""")
    one("SELECT list_where([10, 20, 30], [true, false, true]) AS w", """[{"w":[10,30]}]""")
    one("SELECT list_resize([1, 2], 4, 0) AS r, list_resize([1, 2, 3], 2) AS t",
      """[{"r":[1,2,0,0],"t":[1,2]}]""")
    // postfix factorial / prefix abs operators; != and strings untouched
    one("SELECT 5! AS f", """[{"f":120}]""")
    one("SELECT factorial(20) AS f", """[{"f":2432902008176640000}]""")
    // FactorialDispatch edge semantics, each verified against DuckDB 1.5:
    // negatives -> 1 (not NULL); `^` binds tighter than postfix `!`
    // (DuckDB parses 2^3! as (2^3)! -> binder error on DOUBLE, and our
    // dispatch refuses non-INTEGER input the same way); n>20 is loud
    // (DuckDB yields HUGEINT there — Spark has no 128-bit int, so the
    // documented divergence is an error instead of a silent NULL)
    one("SELECT (-5)! AS f", """[{"f":1}]""")
    one("SELECT 2^(3!) AS p", """[{"p":64.0}]""")
    assert(post("SELECT 2^3! AS x").statusCode() >= 400)  // (2^3)! -> DOUBLE operand, loud
    assert(post("SELECT 21! AS x").statusCode() >= 400)   // exceeds BIGINT, loud
    assert(post("SELECT factorial(CAST(3 AS BIGINT)) AS x").statusCode() >= 400)
    one("SELECT @(-7) AS a, @(3-10) AS b", """[{"a":7,"b":7}]""")
    one("SELECT n_nationkey FROM nation WHERE n_nationkey != 1 AND n_nationkey < 3 ORDER BY 1",
      """[{"n_nationkey":0},{"n_nationkey":2}]""")
    one("SELECT 'a!b@c' AS s", """[{"s":"a!b@c"}]""")
    // top-n aggregate forms (DuckDB 1.5 min/max/arg_min/arg_max(…, n))
    one("SELECT min(n_nationkey, 2) AS l FROM nation", """[{"l":[0,1]}]""")
    one("SELECT max(n_nationkey, 2) AS l FROM nation WHERE n_nationkey < 5",
      """[{"l":[4,3]}]""")
    one("SELECT arg_min(n_name, n_nationkey, 2) AS l FROM nation",
      """[{"l":["NATION_0","NATION_1"]}]""")
    one("SELECT arg_max(n_name, n_nationkey, 1) AS l FROM nation WHERE n_nationkey < 3",
      """[{"l":["NATION_2"]}]""")
    // 1-/2-arg forms still hit the plain builtins
    one("SELECT min(n_nationkey) AS a, max(n_nationkey) AS b FROM nation WHERE n_nationkey < 3",
      """[{"a":0,"b":2}]""")
    one("SELECT arg_min(n_name, n_nationkey) AS a FROM nation", """[{"a":"NATION_0"}]""")
    // temporal arithmetic + series (DuckDB range is end-exclusive)
    one("SELECT CAST(date_add(TIMESTAMP '2024-01-01 01:00:00', INTERVAL 90 MINUTE) AS STRING) AS t",
      """[{"t":"2024-01-01 02:30:00"}]""")
    one("SELECT date_add(DATE '2024-01-01', 5) AS d", """[{"d":"2024-01-06"}]""")
    one("SELECT transform(generate_series(DATE '2024-01-01', DATE '2024-01-04', INTERVAL 1 DAY), x -> CAST(x AS STRING)) AS g",
      """[{"g":["2024-01-01","2024-01-02","2024-01-03","2024-01-04"]}]""")
    one("SELECT transform(range(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-02', INTERVAL 12 HOUR), x -> CAST(x AS STRING)) AS g",
      """[{"g":["2024-01-01 00:00:00","2024-01-01 12:00:00"]}]""")
    // strftime accepts both argument orders
    one("SELECT strftime('%Y/%m/%d', TIMESTAMP '2024-03-05 10:30:00') AS s",
      """[{"s":"2024/03/05"}]""")
    one("SELECT strftime(TIMESTAMP '2024-03-05 10:30:00', '%Y/%m/%d') AS s",
      """[{"s":"2024/03/05"}]""")
    // json_structure: DuckDB's type-template vocabulary (formerly a
    // documented omission; every value pinned against DuckDB)
    one("""SELECT json_structure('{"a":1.5,"b":"x","c":true,"d":null}') AS s""",
      """[{"s":"{\"a\":\"DOUBLE\",\"b\":\"VARCHAR\",\"c\":\"BOOLEAN\",\"d\":\"NULL\"}"}]""")
    one("""SELECT json_structure('[{"a":1},{"b":-2}]') AS s""",
      """[{"s":"[{\"a\":\"UBIGINT\",\"b\":\"BIGINT\"}]"}]""")
    one("""SELECT json_structure('[1, 2.5]') AS a, json_structure('[1,"x"]') AS b,
           json_structure('[]') AS c, json_structure('-3') AS d""",
      """[{"a":"[\"DOUBLE\"]","b":"[\"JSON\"]","c":"[\"NULL\"]","d":"\"BIGINT\""}]""")
    assert(post("SELECT json_structure('not json') AS s").statusCode() >= 400) // loud, like DuckDB
    // bitstring_agg (formerly a documented omission): rendering is
    // DuckDB's BIT display; type is VARCHAR (same divergence policy
    // as the scalar bitstring)
    one("SELECT bitstring_agg(x, 1, 6) AS b FROM (VALUES (1), (3), (5)) t(x)",
      """[{"b":"101010"}]""")
    one("SELECT bitstring_agg(x, 0, 4) AS b FROM (VALUES (2), (4)) t(x)",
      """[{"b":"00101"}]""")
    one("SELECT bitstring_agg(x) AS b FROM (VALUES (1), (3), (5)) t(x)",
      """[{"b":"10101"}]""")
    assert(post("SELECT bitstring_agg(x, 2, 4) AS b FROM (VALUES (1), (3)) t(x)")
      .statusCode() >= 400) // out of range -> loud, like DuckDB
  }

  test("round-8 probe7 batch returns DuckDB-verified values") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    one("SELECT list_apply([1, 2], x -> x * 2) AS a", """[{"a":[2,4]}]""")
    one("SELECT to_base64(encode('abc')) AS b", """[{"b":"YWJj"}]""")
    one("SELECT decode(from_base64('YWJj')) AS d", """[{"d":"abc"}]""")
    one("SELECT formatReadableDecimalSize(999) AS a, formatReadableDecimalSize(1500) AS b, " +
      "formatReadableDecimalSize(123456789) AS c",
      """[{"a":"999 bytes","b":"1.5 kB","c":"123.4 MB"}]""")
    // bit access over the VARCHAR bitstring rendering (verified
    // get_bit(bitstring('0110',4),1)=1; set_bit('0110',0,1)='1110')
    one("SELECT get_bit(bitstring('0110', 4), 1) AS g", """[{"g":1}]""")
    one("SELECT set_bit(bitstring('0110', 4), 0, 1) AS s", """[{"s":"1110"}]""")
    // histogram: MAP value -> count, keys ascending
    one("SELECT histogram(x) AS h FROM (VALUES (1), (1), (2)) t(x)",
      """[{"h":{"1":2,"2":1}}]""")
    // map_extract returns [value] / []
    one("SELECT map_extract(MAP {'a': 1}, 'a') AS x, map_extract(MAP {'a': 1}, 'z') AS y",
      """[{"x":[1],"y":[]}]""")
    // regex flags: global 'g' + inline i; flags WITHOUT g are
    // first-match like DuckDB (round 11 closed the old loud 400)
    one("SELECT regexp_replace('aAa', 'a', 'x', 'gi') AS r, regexp_replace('aAa', 'a', 'x', 'g') AS s",
      """[{"r":"xxx","s":"xAx"}]""")
    one("SELECT regexp_replace('aAa', 'a', 'x', 'i') AS r", """[{"r":"xAa"}]""")
    one("SELECT regexp_matches('ABC', 'abc', 'i') AS m, regexp_matches('ABC', 'abc') AS n",
      """[{"m":true,"n":false}]""")
    one("SELECT regexp_extract('a1b2', '([a-z])([0-9])', ['l', 'n']) AS g",
      """[{"g":{"l":"a","n":"1"}}]""")
    // LIKE escapes ('$' escapes '%': 'a%c' matches the literal pattern)
    one("SELECT like_escape('a%c', 'a$%c', '$') AS a, like_escape('abc', 'a$%c', '$') AS b, " +
      "ilike_escape('A%C', 'a$%c', '$') AS c",
      """[{"a":true,"b":false,"c":true}]""")
    one("SELECT printf('%5.2f', 3.14159) AS p", """[{"p":" 3.14"}]""")
    one("SELECT alias(n_nationkey) AS a FROM nation LIMIT 1", """[{"a":"n_nationkey"}]""")
    one("SELECT generate_subscripts([10, 20, 30], 1) AS g",
      """[{"g":1},{"g":2},{"g":3}]""")
  }

  test("round-9 probe8 batch returns DuckDB-verified values") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // list set algebra (list_intersect's DuckDB order is unspecified
    // hash-set order — compare through list_sort, as documented)
    one("SELECT list_sort(list_intersect([1, 2, 3], [2, 3, 4])) AS i", """[{"i":[2,3]}]""")
    one("SELECT list_position([10, 20, 30], 20) AS p", """[{"p":2}]""")
    one("SELECT flatten([[1, 2], [3]]) AS f", """[{"f":[1,2,3]}]""")
    one("SELECT list_reduce([1, 2, 3], (a, b) -> a + b) AS r", """[{"r":6}]""")
    // quantile list forms (verified [1,2,3] / [1.75,2.5,3.25])
    one("SELECT quantile_disc(x, [0.25, 0.5, 0.9]) AS q FROM (VALUES (1), (2), (3)) t(x)",
      """[{"q":[1,2,3]}]""")
    one("SELECT quantile_cont(CAST(x AS DOUBLE), [0.25, 0.5, 0.75]) AS q FROM (VALUES (1), (2), (3), (4)) t(x)",
      """[{"q":[1.75,2.5,3.25]}]""")
    // math edges
    one("SELECT even(2.5) AS e, even(-2.5) AS f", """[{"e":4.0,"f":-4.0}]""")
    one("SELECT log(2, 8) AS l", """[{"l":3.0}]""")
    one("SELECT atan2(1, 1) AS a", """[{"a":0.7853981633974483}]""")
    one("SELECT degrees(pi()) AS d, radians(180) AS r",
      """[{"d":180.0,"r":3.141592653589793}]""")
    one("SELECT isnan('nan'::DOUBLE) AS a, isinf('inf'::DOUBLE) AS b, isfinite(1.0) AS c",
      """[{"a":true,"b":true,"c":true}]""")
    // temporal sugar
    one("SELECT time_bucket(INTERVAL 15 MINUTE, TIMESTAMP '2024-01-01 10:22:00') AS b",
      """[{"b":"2024-01-01 10:15:00"}]""")
    one("SELECT date_diff('month', TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-03-01 00:00:00') AS d",
      """[{"d":2}]""")
    one("SELECT epoch(TIMESTAMP '1970-01-02 00:00:00') AS e", """[{"e":86400.0}]""")
    one("SELECT epoch_ms(TIMESTAMP '1970-01-01 00:00:01') AS e", """[{"e":1000}]""")
    one("SELECT make_date(2024, 2, 29) AS d", """[{"d":"2024-02-29"}]""")
    one("SELECT last_day(DATE '2024-02-10') AS d", """[{"d":"2024-02-29"}]""")
    one("SELECT monthname(DATE '2024-02-10') AS m, dayname(DATE '2024-02-10') AS d",
      """[{"m":"February","d":"Saturday"}]""")
    // DuckDB counts Sunday as 0 (Spark's builtin says 1 — the shim maps)
    one("SELECT dayofweek(DATE '2024-02-11') AS d, weekofyear(DATE '2024-02-11') AS w",
      """[{"d":0,"w":6}]""")
    // string edges
    one("SELECT ascii('A') AS a, chr(66) AS c", """[{"a":65,"c":"B"}]""")
    one("SELECT unicode('€') AS u", """[{"u":8364}]""")
    one("SELECT left('hello', 2) AS l, right('hello', 2) AS r",
      """[{"l":"he","r":"lo"}]""")
    one("SELECT translate('abc', 'ab', 'xy') AS t", """[{"t":"xyc"}]""")
    one("SELECT to_hex(255) AS h", """[{"h":"FF"}]""")
    one("SELECT split_part('a,b,c', ',', 2) AS p", """[{"p":"b"}]""")
    one("SELECT strip_accents('café') AS s", """[{"s":"cafe"}]""")
    one("SELECT hamming('abc', 'abd') AS h", """[{"h":1}]""")
    // aggregates
    one("SELECT product(x) AS p FROM (VALUES (2.0), (3.0), (4.0)) t(x)", """[{"p":24.0}]""")
    one("SELECT count_if(x > 1) AS c FROM (VALUES (1), (2), (3)) t(x)", """[{"c":2}]""")
    one("SELECT bit_xor(x) AS b FROM (VALUES (1), (3)) t(x)", """[{"b":2}]""")
  }

  test("round-10 probe9 batch returns DuckDB-verified values") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // operator function-forms (divide is INTEGER division in DuckDB)
    one("SELECT fdiv(7, 2) AS f, fmod(7, 2) AS m", """[{"f":3.0,"m":1.0}]""")
    one("SELECT divide(7, 2) AS d, multiply(3, 4) AS m, add(1, 2) AS a, subtract(5, 3) AS s",
      """[{"d":3,"m":12,"a":3,"s":2}]""")
    one("SELECT mod(7, 3) AS m, xor(3, 5) AS x", """[{"m":1,"x":6}]""")
    one("SELECT log2(8) AS l, log10(100) AS m", """[{"l":3.0,"m":2.0}]""")
    one("SELECT sign(-3) AS s, nextafter(1, 2) AS n",
      """[{"s":-1,"n":1.0000000000000002}]""")
    one("SELECT greatest_common_divisor(12, 8) AS g, least_common_multiple(4, 6) AS l",
      """[{"g":4,"l":12}]""")
    // path helpers
    one("SELECT parse_filename('/a/b/c.txt', true) AS f, parse_dirpath('/a/b/c.txt') AS p",
      """[{"f":"c","p":"/a/b"}]""")
    one("SELECT parse_path('/a/b/c.txt') AS l, parse_path('a/b.txt') AS m",
      """[{"l":["/","a","b","c.txt"],"m":["a","b.txt"]}]""")
    // date-part long tail
    one("SELECT century(DATE '2024-02-10') AS c, decade(DATE '2024-02-10') AS d",
      """[{"c":21,"d":202}]""")
    one("SELECT quarter(DATE '2024-05-10') AS q, isodow(DATE '2024-02-11') AS i",
      """[{"q":2,"i":7}]""")
    // ISO year = the year of that week's Thursday
    one("SELECT isoyear(DATE '2021-01-01') AS y, isoyear(DATE '2024-12-30') AS z",
      """[{"y":2020,"z":2025}]""")
    one("SELECT dayofyear(DATE '2024-02-10') AS d, date_part('doy', DATE '2024-02-10') AS p",
      """[{"d":41,"p":41}]""")
    one("SELECT datepart('year', DATE '2024-02-10') AS y", """[{"y":2024}]""")
    // make_time renders DuckDB's TIME text form (no TIME type here —
    // the bitstring-as-VARCHAR precedent): fraction trimmed, 2-padded
    one("SELECT make_time(10, 30, 12.5) AS t, make_time(1, 2, 3) AS u",
      """[{"t":"10:30:12.5","u":"01:02:03"}]""")
    // case/length aliases and string edges
    one("SELECT ucase('ab') AS u, lcase('AB') AS l", """[{"u":"AB","l":"ab"}]""")
    one("SELECT lpad('7', 3, '0') AS l, rpad('7', 3, 'x') AS r",
      """[{"l":"007","r":"7xx"}]""")
    one("SELECT substr('hello', -3) AS s, ord('A') AS o", """[{"s":"llo","o":65}]""")
    one("SELECT bit_length('abc') AS b", """[{"b":24}]""")
    one("SELECT to_base(5, 2, 8) AS b", """[{"b":"00000101"}]""")
    // md5_number_upper: the LAST 8 digest bytes little-endian under
    // DuckDB 1.5.2 semantics (1.0 had the halves swapped — the repo
    // pins the reference's embedded 1.5.2, consistent with the
    // md5_number_lower pin above)
    one("SELECT md5_number_upper('abc') AS u", """[{"u":8250560606382298838}]""")
    // struct surgery
    one("SELECT struct_extract({'a': 1, 'b': 2}, 'a') AS v", """[{"v":1}]""")
    one("SELECT struct_insert({'a': 1}, b := 2) AS s", """[{"s":{"a":1,"b":2}}]""")
    one("SELECT if(1 < 2, 'y', 'n') AS i", """[{"i":"y"}]""")
    // element extraction: index 0 → NULL (lists) / '' (strings),
    // negative from the end, out-of-bounds NULL/'' — DuckDB-pinned
    one("SELECT list_element([10, 20], 2) AS e, list_extract([10, 20], -1) AS x, list_extract([10, 20], 0) AS z",
      """[{"e":20,"x":20,"z":null}]""")
    one("SELECT array_extract('abc', 2) AS c, array_extract('abc', 0) AS z, array_extract([1, 2], 9) AS o",
      """[{"c":"b","z":"","o":null}]""")
    one("SELECT list_aggr([1, 2, 3], 'sum') AS s, array_aggregate([1, 2], 'max') AS m",
      """[{"s":6,"m":2}]""")
    // SIMILAR TO (full-match regex, like DuckDB)
    one("SELECT 'ab' SIMILAR TO 'a.' AS s, 'abc' NOT SIMILAR TO 'z.*' AS n",
      """[{"s":true,"n":true}]""")
    // statistics aggregate aliases
    one("SELECT variance(x) AS v, var_pop(x) AS p FROM (VALUES (1.0),(2.0),(3.0)) t(x)",
      """[{"v":1.0,"p":0.6666666666666666}]""")
    one("SELECT stddev(x) AS s, stddev_pop(x) AS p FROM (VALUES (1.0),(2.0),(3.0)) t(x)",
      """[{"s":1.0,"p":0.816496580927726}]""")
    one("SELECT geomean(x) AS g FROM (VALUES (1.0),(4.0)) t(x)", """[{"g":2.0}]""")
    one("SELECT kahan_sum(x) AS k FROM (VALUES (1.5),(2.5)) t(x)", """[{"k":4.0}]""")
  }

  test("round-10 probe10 batch returns DuckDB-verified values") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // named WINDOW clause, shared by several consumers
    one("SELECT n_name, sum(n_regionkey) OVER w AS s FROM nation " +
      "WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_name) ORDER BY n_name LIMIT 3",
      """[{"n_name":"NATION_0","s":0},{"n_name":"NATION_1","s":1},{"n_name":"NATION_10","s":0}]""")
    one("SELECT n_name, rank() OVER w AS r, count(*) OVER w AS c FROM nation " +
      "WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_name) ORDER BY n_name LIMIT 3",
      """[{"n_name":"NATION_0","r":1,"c":1},{"n_name":"NATION_1","r":1,"c":1},{"n_name":"NATION_10","r":2,"c":2}]""")
    // struct star expansion + bracket field access (round-10 AtDispatch
    // struct case — the bracket spelling of struct_extract)
    one("SELECT s.* FROM (SELECT {'a': 1, 'b': 'x'} AS s) t", """[{"a":1,"b":"x"}]""")
    one("SELECT (SELECT {'a': 1}).a AS v", """[{"v":1}]""")
    one("SELECT r['a'] AS v FROM (SELECT {'a': 7} r) t", """[{"v":7}]""")
    one("SELECT TRY_CAST('x' AS INT) AS a, TRY_CAST('5' AS INT) AS b",
      """[{"a":null,"b":5}]""")
    // filtered comprehension
    one("SELECT [x + 1 FOR x IN [1, 2, 3] IF x > 1] AS l", """[{"l":[3,4]}]""")
    // full-frame window navigation
    one("SELECT last_value(n_name) OVER (ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS l FROM nation LIMIT 1",
      """[{"l":"NATION_24"}]""")
    one("SELECT nth_value(n_name, 2) OVER (ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS l FROM nation LIMIT 1",
      """[{"l":"NATION_1"}]""")
    // in-aggregate DISTINCT + delimiter + ORDER BY
    one("SELECT string_agg(DISTINCT CAST(n_regionkey AS VARCHAR), ',' ORDER BY CAST(n_regionkey AS VARCHAR)) AS s FROM nation",
      """[{"s":"0,1,2,3,4"}]""")
    // stepped slice (4-arg list_slice) + string subscripts
    one("SELECT list_slice([1,2,3,4,5], 1, 5, 2) AS l", """[{"l":[1,3,5]}]""")
    one("SELECT 'abc'[2] AS ch, ('abc')[-1] AS dh", """[{"ch":"b","dh":"c"}]""")
    one("SELECT str_split_regex('a1b', '[0-9]') AS l", """[{"l":["a","b"]}]""")
    // temporal long tail: weekday numbering, pinned-UTC zone offsets,
    // century/decade/millennium interval constructors (cast to DATE —
    // DuckDB's DATE + INTERVAL is a TIMESTAMP, rendering differs),
    // date_sub part form, dayname over TIMESTAMP
    one("SELECT weekday(DATE '2024-02-11') AS w", """[{"w":0}]""")
    one("SELECT timezone_hour(TIMESTAMP '2024-01-01 00:00:00') AS h, " +
      "timezone_minute(TIMESTAMP '2024-01-01 00:00:00') AS m", """[{"h":0,"m":0}]""")
    one("SELECT CAST(DATE '2000-01-01' + to_centuries(1) AS DATE) AS d, " +
      "CAST(DATE '2000-01-01' + to_decades(2) AS DATE) AS e, " +
      "CAST(DATE '2000-01-01' + to_millennia(1) AS DATE) AS m",
      """[{"d":"2100-01-01","e":"2020-01-01","m":"3000-01-01"}]""")
    one("SELECT date_sub('day', DATE '2024-01-01', DATE '2024-03-05') AS n",
      """[{"n":64}]""")
    one("SELECT dayname(TIMESTAMP '2024-02-10 10:00:00') AS d", """[{"d":"Saturday"}]""")
    one("SELECT a FROM (VALUES (1), (2)) t(a) WHERE a IN (SELECT unnest([1]))",
      """[{"a":1}]""")
  }

  test("round-11 probe11 batch returns DuckDB-verified values") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // trim family: DuckDB argument order (string, characters) — the
    // round-11 silent-divergence catch (Spark's builtin order is
    // (trimStr, string) and returned '' for the first case)
    one("SELECT ltrim('xxabcx','x') AS a, rtrim('xxabcx','x') AS b, trim('xxabcx','x') AS c",
      """[{"a":"abcx","b":"xxabc","c":"abc"}]""")
    one("SELECT ltrim('  a') AS a, rtrim('a  ') AS b, trim('  a  ') AS c",
      """[{"a":"a","b":"a","c":"a"}]""")
    one("SELECT trim('xyabyx', 'xy') AS a", """[{"a":"ab"}]""")
    // negative-length left/right drop from the other end in DuckDB
    one("SELECT left('hello',2) AS a, right('hello',2) AS b, left('hello',-2) AS c, right('hello',-2) AS d",
      """[{"a":"he","b":"lo","c":"hel","d":"llo"}]""")
    one("SELECT left('hello',-7) AS a, right('hello',-7) AS b",
      """[{"a":"","b":""}]""")
    one("SELECT bin(5) AS a, hex(255) AS b, to_base(255,16) AS c",
      """[{"a":"101","b":"FF","c":"FF"}]""")
    one("SELECT strip_accents('âbçdé') AS a, damerau_levenshtein('abc','acb') AS b",
      """[{"a":"abcde","b":1}]""")
    one("SELECT ascii('A') AS a, chr(66) AS b, repeat('ab',3) AS c",
      """[{"a":65,"b":"B","c":"ababab"}]""")
    one("SELECT format_bytes(1234567) AS a", """[{"a":"1.1 MiB"}]""")
    one("SELECT gcd(12,18) AS a, lcm(4,6) AS b", """[{"a":6,"b":12}]""")
    one("SELECT list_grade_up([3,1,2]) AS a", """[{"a":[2,3,1]}]""")
    one("SELECT last_day(DATE '2024-02-10') AS a, bit_count(CAST(7 AS BIGINT)) AS b",
      """[{"a":"2024-02-29","b":3}]""")
    // one-arg log is BASE 10 in DuckDB (Spark's is ln — the second
    // silent-divergence catch of this tier); two-arg agrees
    one("SELECT log(100) AS a, log(2, 8) AS b, log10(100) AS c, log2(8) AS d",
      """[{"a":2.0,"b":3.0,"c":2.0,"d":3.0}]""")
    // substr start=0 clips the window (Spark would return 'hel')
    one("SELECT substr('hello', 0, 3) AS a, substr('hello', -1, 3) AS b, substr('hello', 0) AS c",
      """[{"a":"he","b":"o","c":"hello"}]""")
    // out-of-domain math errors loudly like DuckDB instead of Spark's
    // silent NaN/NULL; in-domain and NULL inputs unchanged
    assert(post("SELECT sqrt(-1) AS x").statusCode() == 400)
    assert(post("SELECT ln(0) AS x").statusCode() == 400)
    assert(post("SELECT asin(2) AS x").statusCode() == 400)
    one("SELECT sqrt(4) AS a, ln(1.0) AS b, asin(1) IS NOT NULL AS c, sqrt(NULL) AS d",
      """[{"a":2.0,"b":0.0,"c":true,"d":null}]""")
    // 3-arg regexp_replace is FIRST-match in DuckDB (Spark's builtin is
    // global — the third silent catch; 'g' opts into global)
    one("SELECT regexp_replace('aaa','a','b') AS a, regexp_replace('banana','an','X') AS b, " +
      "regexp_replace('aaa','a','b','g') AS c, regexp_replace('abc','z','y') AS d, " +
      "regexp_replace('aaa','a','b','i') AS e",
      """[{"a":"baa","b":"bXana","c":"bbb","d":"abc","e":"baa"}]""")
  }

  test("read_text / read_blob map files to DuckDB's file-per-row schema") {
    val d = java.nio.file.Files.createTempDirectory("graft_readtext")
    java.nio.file.Files.writeString(d.resolve("a.txt"), "hello world")
    java.nio.file.Files.writeString(d.resolve("b.txt"), "second file!")
    // read_text: content is VARCHAR; glob expands; DuckDB column order
    val r1 = post(s"SELECT filename, content, size FROM read_text('$d/*.txt') ORDER BY filename")
    assert(r1.statusCode() == 200, r1.body())
    assert(r1.body() ==
      s"""[{"filename":"$d/a.txt","content":"hello world","size":11},""" +
      s"""{"filename":"$d/b.txt","content":"second file!","size":12}]""")
    // read_blob: content is BLOB — verify through decode() and size
    val r2 = post(s"SELECT filename, decode(content) AS c, size FROM read_blob('$d/a.txt')")
    assert(r2.statusCode() == 200, r2.body())
    assert(r2.body() == s"""[{"filename":"$d/a.txt","c":"hello world","size":11}]""")
    // the sandbox applies to these readers like every other file source
    val srv2 = new QueryServer(spark, 0, allowedDirs = Seq("/root/testdata"))
    srv2.start()
    try {
      val r3 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv2.boundPort}/"))
          .header("Accept", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            s"SELECT * FROM read_text('$d/a.txt')")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r3.statusCode() >= 400)
    } finally srv2.stop()
  }

  test("read_csv named options translate to the Spark reader") {
    val d = java.nio.file.Files.createTempDirectory("graft_readopts")
    val semi = d.resolve("semi.csv")
    java.nio.file.Files.writeString(semi, "a;b\n1;x\n2;y\n")
    val r1 = post(s"SELECT * FROM read_csv('$semi', delim = ';', header = true) ORDER BY a")
    assert(r1.statusCode() == 200)
    assert(r1.body() == """[{"a":1,"b":"x"},{"a":2,"b":"y"}]""")
    // all_varchar disables inference → numbers arrive as strings
    val r2 = post(s"SELECT * FROM read_csv('$semi', delim = ';', all_varchar = true) ORDER BY a")
    assert(r2.statusCode() == 200 && r2.body().contains("\"a\":\"1\""))
    // unsupported option is LOUD, never silently ignored
    assert(post(s"SELECT * FROM read_csv('$semi', skip = 1)").statusCode() == 400)
    // parquet_scan is read_parquet
    val r3 = post("SELECT count(*) AS n FROM parquet_scan('/root/testdata/sf0.001/nation.parquet')")
    assert(r3.statusCode() == 200 && r3.body() == """[{"n":25}]""")
  }

  test("COPY TO exports single files, parallel directories, and honors the sandbox") {
    val dir = java.nio.file.Files.createTempDirectory("graft_copy_spec")
    // csv with header: DuckDB-exact bytes and the 1-row Count result
    val csvOut = dir.resolve("two.csv")
    val r1 = post(s"COPY (SELECT 1 AS a UNION ALL SELECT 2) TO '$csvOut' (FORMAT csv, HEADER)")
    assert(r1.statusCode() == 200 && r1.body() == """[{"Count":2}]""")
    assert(java.nio.file.Files.readString(csvOut) == "a\n1\n2\n")
    // parquet by extension, single FILE (not a directory), readable back
    val pqOut = dir.resolve("nations.parquet")
    val r2 = post(s"COPY nation TO '$pqOut'")
    assert(r2.statusCode() == 200 && r2.body() == """[{"Count":25}]""")
    assert(java.nio.file.Files.isRegularFile(pqOut))
    assert(spark.read.parquet(pqOut.toString).count() == 25)
    // PER_THREAD_OUTPUT: DuckDB's parallel spelling → a directory of parts
    val dirOut = dir.resolve("nations_dir")
    val r3 = post(s"COPY nation TO '$dirOut' (FORMAT parquet, PER_THREAD_OUTPUT true)")
    assert(r3.statusCode() == 200 && r3.body() == """[{"Count":25}]""")
    assert(java.nio.file.Files.isDirectory(dirOut))
    assert(spark.read.parquet(dirOut.toString).count() == 25)
    // unsupported options stay loud
    assert(post(s"COPY nation TO '$csvOut' (PARTITION_BY (a))").statusCode() == 400)
    // sandbox: writes outside allowed dirs are rejected, inside succeed
    val sandboxed = new QueryServer(spark, 0, allowedDirs = Seq(dir.toString))
    sandboxed.start()
    try {
      def postTo(port: Int, sql: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
          .header("Accept", "application/json").header("Content-Type", "text/plain")
          .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
        HttpResponse.BodyHandlers.ofString())
      val bad = postTo(sandboxed.boundPort, "COPY (SELECT 1 AS a) TO '/tmp/escape_copy.csv'")
      assert(bad.statusCode() == 400 && bad.body().contains("outside allowed directories"))
      val ok = postTo(sandboxed.boundPort, s"COPY (SELECT 1 AS a) TO '${dir.resolve("in.csv")}' (FORMAT csv, HEADER)")
      assert(ok.statusCode() == 200 && ok.body() == """[{"Count":1}]""")
    } finally sandboxed.stop()
  }

  test("probe-12 pins: concat NULL-skip, extract long tail, double and interval rendering") {
    // every expected value verified against DuckDB 1.5 (to_json)
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // concat stringifies and SKIPS NULLs (Spark's builtin nulls the
    // whole result — the probe-12 silent catch); || stays NULL-strict
    one("SELECT concat('a', NULL, 'b') AS a, concat(NULL) AS b, concat(1.5, 'x') AS c, 'a' || NULL AS d",
      """[{"a":"ab","b":"","c":"1.5x","d":null}]""")
    // extract long tail: epoch (DOUBLE), dow/weekday Sunday=0,
    // isodow Sunday=7, isoyear, decade/century/millennium,
    // sub-minute milliseconds (truncated) / microseconds
    one("SELECT extract(epoch FROM TIMESTAMP '2024-01-01 00:00:30') AS a",
      """[{"a":1704067230.0}]""")
    one("SELECT extract(dow FROM DATE '2024-01-07') AS a, extract(weekday FROM DATE '2024-01-07') AS b, " +
      "extract(isodow FROM DATE '2024-01-07') AS c, extract(isoyear FROM DATE '2021-01-01') AS d",
      """[{"a":0,"b":0,"c":7,"d":2020}]""")
    one("SELECT extract(decade FROM DATE '2024-05-01') AS a, extract(century FROM DATE '2024-05-01') AS b, " +
      "extract(millennium FROM DATE '2024-05-01') AS c",
      """[{"a":202,"b":21,"c":3}]""")
    one("SELECT extract(milliseconds FROM TIMESTAMP '2024-01-01 00:02:30.2505') AS a, " +
      "extract(microseconds FROM TIMESTAMP '2024-01-01 00:02:30.2505') AS b",
      """[{"a":30250,"b":30250500}]""")
    // doubles render DuckDB-style: plain decimal through 1e20 (Java's
    // toString goes scientific at 1e7 — the rendering divergence the
    // probe caught on every big HTTP-served aggregate), bare-exponent
    // scientific outside
    one("SELECT CAST(1704067230 AS DOUBLE) AS a, CAST(1e21 AS DOUBLE) AS b, " +
      "CAST(0.00000015 AS DOUBLE) AS c, CAST(12345.0 AS DOUBLE) AS d, CAST(0.000001 AS DOUBLE) AS e",
      """[{"a":1704067230.0,"b":1e21,"c":1.5e-7,"d":12345.0,"e":0.000001}]""")
    // interval rendering: DuckDB text form for Period / Duration /
    // CalendarInterval values (previously Java toString leaked out)
    one("SELECT INTERVAL 2 MONTH AS a, INTERVAL '90' SECOND AS b, INTERVAL '-1' HOUR AS c, INTERVAL 5 DAY AS d",
      """[{"a":"2 months","b":"00:01:30","c":"-01:00:00","d":"5 days"}]""")
    one("SELECT age(TIMESTAMP '2024-03-15 10:00:00', TIMESTAMP '2024-01-10 09:00:00') AS a",
      """[{"a":"2 months 5 days 01:00:00"}]""")
    // integer casts ROUND per DuckDB's source-typed rules (probe 13):
    // DECIMAL half-away, DOUBLE/FLOAT half-to-EVEN, VARCHAR parse then
    // half-away; integral inputs never detour through double
    one("SELECT CAST(12.7 AS INT) AS a, CAST(-2.5 AS INT) AS b, CAST(2.5 AS INT) AS c, 12.7::INT AS d",
      """[{"a":13,"b":-3,"c":3,"d":13}]""")
    one("SELECT CAST(CAST(2.5 AS DOUBLE) AS INT) AS a, CAST(CAST(3.5 AS FLOAT) AS INT) AS b, " +
      "CAST(CAST(-2.5 AS DOUBLE) AS INT) AS c",
      """[{"a":2,"b":4,"c":-2}]""")
    one("SELECT TRY_CAST('12.5' AS INTEGER) AS a, TRY_CAST('-12.5' AS INTEGER) AS b, " +
      "TRY_CAST('x' AS INTEGER) AS c, TRY_CAST('  7  ' AS INTEGER) AS d, TRY_CAST('1e3' AS INTEGER) AS e",
      """[{"a":13,"b":-13,"c":null,"d":7,"e":1000}]""")
    one("SELECT CAST(9007199254740993 AS BIGINT) AS a, CAST('12' AS INT) AS b",
      """[{"a":9007199254740993,"b":12}]""")
    // overflow and garbage stay LOUD like DuckDB's conversion errors
    assert(post("SELECT CAST(127.6 AS TINYINT) AS a").statusCode() >= 400)
    assert(post("SELECT CAST('abc' AS INT) AS a").statusCode() >= 400)
  }

  test("probe-13 pins: numeric predicates, entropy, list/map long tail, base64, int-cast rounding") {
    // every expected value verified against DuckDB 1.5
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    one("SELECT even(2.1) AS a, even(-2.1) AS b, signbit(-1.5) AS c, isfinite(1.0) AS d, isnan(sqrt(4)) AS e",
      """[{"a":4.0,"b":-4.0,"c":true,"d":true,"e":false}]""")
    one("SELECT cot(1.0) AS a, gamma(5) AS b, lgamma(5) AS c",
      """[{"a":0.6420926159343306,"b":24.0,"c":3.1780538303479458}]""")
    one("SELECT round(entropy(x), 6) AS a FROM (VALUES (1),(1),(2),(3)) t(x)",
      """[{"a":1.5}]""")
    one("SELECT flatten([[1,2],[3]]) AS a, list_unique([1,2,2,3]) AS b, list_value(1,2) AS c",
      """[{"a":[1,2,3],"b":3,"c":[1,2]}]""")
    one("SELECT map_keys(MAP {'a':1,'b':2}) AS a, map_values(MAP {'a':1}) AS b, cardinality(MAP {'a':1,'b':2}) AS c",
      """[{"a":["a","b"],"b":[1],"c":2}]""")
    // list_aggregate's HUGEINT sum renders through the documented
    // BIGINT mapping (DuckDB to_json spells it 6.0)
    one("SELECT list_reduce([1,2,3], (x,y) -> x+y) AS a, list_aggregate([1,2,3], 'sum') AS b, " +
      "bit_xor(x) AS c FROM (VALUES (5),(3)) t(x)",
      """[{"a":6,"b":6,"c":6}]""")
    one("SELECT list_resize([1,2],4,0) AS a, [1,2] || [3] AS b",
      """[{"a":[1,2,0,0],"b":[1,2,3]}]""")
    one("SELECT to_base64(CAST('abc' AS BLOB)) AS a",
      """[{"a":"YWJj"}]""")
  }

  test("probe-14 pins: named windows, interval frames, windowed FILTER, step slices, recursive unnest") {
    // every expected value verified against DuckDB 1.5
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    one("SELECT x, sum(x) OVER w AS s FROM (VALUES (1),(2),(3)) t(x) WINDOW w AS (ORDER BY x) ORDER BY x",
      """[{"x":1,"s":1},{"x":2,"s":3},{"x":3,"s":6}]""")
    one("SELECT CAST(ts AS STRING) AS ts, count(*) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS c " +
      "FROM (VALUES (TIMESTAMP '2024-01-01'),(TIMESTAMP '2024-01-02'),(TIMESTAMP '2024-01-05')) t(ts) ORDER BY ts",
      """[{"ts":"2024-01-01 00:00:00","c":1},{"ts":"2024-01-02 00:00:00","c":2},{"ts":"2024-01-05 00:00:00","c":1}]""")
    // windowed FILTER rewrites to the CASE form for null-ignoring aggs
    one("SELECT x, count(*) FILTER (WHERE x > 1) OVER (ORDER BY x) AS c, " +
      "sum(x) FILTER (WHERE x <> 2) OVER (ORDER BY x) AS s FROM (VALUES (1),(2),(3)) t(x) ORDER BY x",
      """[{"x":1,"c":0,"s":1},{"x":2,"c":1,"s":1},{"x":3,"c":2,"s":4}]""")
    // non-window FILTER stays native
    one("SELECT count(*) FILTER (WHERE x > 1) AS c FROM (VALUES (1),(2),(3)) t(x)",
      """[{"c":2}]""")
    // step slices: inclusive bounds, clamping, negative step
    one("SELECT ([1,2,3,4,5,6])[1:-1:2] AS a, ([1,2,3,4,5,6])[5:2:-1] AS b, ([1,2,3,4,5,6])[2:100:3] AS c",
      """[{"a":[1,3,5],"b":[5,4,3,2],"c":[2,5]}]""")
    assert(post("SELECT ([1,2,3])[1:3:0] AS a").statusCode() >= 400)
    one("SELECT unnest([[1,2],[3]], recursive := true) AS u",
      """[{"u":1},{"u":2},{"u":3}]""")
    one("SELECT unnest([4,5], recursive := false) AS u",
      """[{"u":4},{"u":5}]""")
    // count(DISTINCT) over a window — loud through round 11, CLOSED in
    // round 12 via the size(collect_set) rewrite (probe 22 pins)
    one("SELECT count(DISTINCT x) OVER (ORDER BY x) AS c FROM (VALUES (1),(2)) t(x)",
      """[{"c":1},{"c":2}]""")
  }

  test("probe-15 pins: div/mod by zero is NULL, split_part edges, pad errors, utf8proc case mapping") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB returns NULL for every division/modulo by zero (verified
    // 2026-08-15); Spark's ANSI error never fires on the serving plane
    one("SELECT 1/0 AS a, 1//0 AS b, 1%0 AS c, 1.5/0.0 AS d, 0/0 AS e",
      """[{"a":null,"b":null,"c":null,"d":null,"e":null}]""")
    one("SELECT 3/2 AS a, -7 // 2 AS b, -7 % 3 AS c", """[{"a":1.5,"b":-3,"c":-1}]""")
    one("SELECT INTERVAL '2' DAY / 0 AS a", """[{"a":null}]""")
    // zero divisors reached through expressions, not just literals
    one("SELECT sum(x)/(count(*) - 2) AS a FROM (VALUES (1),(2)) t(x)",
      """[{"a":null}]""")
    // non-zero divisors keep exact Spark semantics (decimal typing
    // documented in COVERAGE.md omissions: value-equal, scale rendering)
    one("SELECT 5.0/2 AS a", """[{"a":2.5}]""")
    // split_part: part 0 and out-of-range yield '' like DuckDB (Spark
    // raises INVALID_INDEX_OF_ZERO for 0); negatives count from the end
    one("SELECT split_part('a,b,c', ',', 0) AS a, split_part('a,b,c', ',', -1) AS b, split_part('a,b,c', ',', 9) AS c",
      """[{"a":"","b":"c","c":""}]""")
    // lpad/rpad with an EMPTY pad raise DuckDB's loud error exactly when
    // padding would be needed; Spark's builtin silently returns the input
    val pad = post("SELECT lpad('ab', 5, '') AS a")
    assert(pad.statusCode() >= 400 && pad.body().contains("Insufficient padding in LPAD"), pad.body())
    one("SELECT lpad('ab', 2, '') AS a, lpad('ab', 1, '') AS b, rpad('ab', 0, 'x') AS c",
      """[{"a":"ab","b":"a","c":""}]""")
    // utf8proc SIMPLE case mapping (Java's full mappings expand: STRASSE,
    // FI, i + combining dot — all silent divergences before this dispatch)
    one("SELECT upper('straße') AS a, upper('ﬁ') AS b, lower('İ') AS c, lower('ẞ') AS d, ucase('é') AS e, lcase('Ǆ') AS f",
      """[{"a":"STRAẞE","b":"ﬁ","c":"i","d":"ß","e":"É","f":"ǆ"}]""")
    one("SELECT upper(123) AS a", """[{"a":"123"}]""")
  }

  test("probe-16 pins: date-date is BIGINT days, the DuckDB two-list map constructor, comparisons") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DATE - DATE types BIGINT days in DuckDB (6) vs Spark's INTERVAL;
    // sqlServed flips the resolved SubtractDates. Composing the result
    // into further integer arithmetic stays a LOUD analysis error
    // (analysis fails on the interval before the flip can run) —
    // documented in COVERAGE.md omissions, never silent.
    one("SELECT DATE '2024-03-05' - DATE '2024-02-28' AS a", """[{"a":6}]""")
    assert(post("SELECT (DATE '2024-03-05' - DATE '2024-02-28') + 5 AS a").statusCode() >= 400)
    one("SELECT DATE '2024-03-05' + 3 AS a, DATE '2024-03-05' - 3 AS b",
      """[{"a":"2024-03-08","b":"2024-03-02"}]""")
    one("SELECT TIMESTAMP '2024-01-02 03:00:00' - TIMESTAMP '2024-01-01 00:00:00' AS a",
      """[{"a":"1 day 03:00:00"}]""")
    // DuckDB's map(keys, values) two-list constructor: without the
    // MapDispatch this silently became a ONE-entry map of array→array
    one("SELECT cardinality(map([1,2],['a','b'])) AS c", """[{"c":2}]""")
    one("SELECT map_keys(map([2,1],['b','a'])) AS k", """[{"k":[2,1]}]""")
    // the variadic pair meaning survives for scalar args
    one("SELECT map('k', 7) AS m", """[{"m":{"k":7}}]""")
    // binary codepoint collation + lexicographic list/struct compare
    one("SELECT ('a' < 'B') AS x, ([1,2] < [1,3]) AS a, ([1,2] < [1,2,0]) AS b",
      """[{"x":false,"a":true,"b":true}]""")
    one("SELECT nullif(5, 5) AS a, ifnull(NULL, 7) AS b", """[{"a":null,"b":7}]""")
  }

  test("probe-17 pins: aggregate long tail — ordered any_value, order-insensitive ORDER BY strip, quantile forms") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // ordered any_value = first along the order (DuckDB pin)
    one("SELECT any_value(x ORDER BY x DESC) AS a FROM (VALUES (1),(3),(2)) t(x)",
      """[{"a":3}]""")
    // ORDER BY inside order-insensitive aggregates is a DuckDB no-op
    one("SELECT sum(x ORDER BY x DESC) AS s, min(x ORDER BY x) AS m, " +
      "quantile_cont(x, 0.5 ORDER BY x) AS q FROM (VALUES (1),(2),(3),(4)) t(x)",
      """[{"s":10,"m":1,"q":2.5}]""")
    // quantile list form (doubles), disc lower-pick, medians
    one("SELECT quantile_cont(x, [0.25, 0.5, 0.75]) AS q FROM (VALUES (CAST(1 AS DOUBLE)),(2),(3),(4)) t(x)",
      """[{"q":[1.75,2.5,3.25]}]""")
    one("SELECT quantile_cont(x, 0.5) AS m, quantile_disc(x, 0.5) AS d, median(x) AS e " +
      "FROM (VALUES (1),(2),(3),(4)) t(x)",
      """[{"m":2.5,"d":2,"e":2.5}]""")
    // favg/fsum (Kahan forms), entropy's log2 base, ordered list
    one("SELECT favg(x) AS f, fsum(x) AS s FROM (VALUES (1.5),(2.5)) t(x)",
      """[{"f":2.0,"s":4.0}]""")
    one("SELECT entropy(x) AS e FROM (VALUES (1),(1),(2),(3)) t(x)",
      """[{"e":1.5}]""")
    one("SELECT list(x ORDER BY x DESC) AS l FROM (VALUES (1),(3),(2)) t(x)",
      """[{"l":[3,2,1]}]""")
  }

  test("probe-18 pins: list-lambda long tail") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    one("SELECT list_reduce([1,2,3], (a, b) -> a + b) AS r", """[{"r":6}]""")
    one("SELECT list_where([10,20,30], [true,false,true]) AS w", """[{"w":[10,30]}]""")
    one("SELECT list_select([10,20,30], [3,1]) AS s", """[{"s":[30,10]}]""")
    one("SELECT list_grade_up([30,10,20]) AS g", """[{"g":[2,3,1]}]""")
    // zip fills the SHORTER side with NULLs (DuckDB semantics)
    one("SELECT list_zip([1,2],['a','b','c']) AS z",
      """[{"z":[{"list_1":1,"list_2":"a"},{"list_1":2,"list_2":"b"},{"list_1":null,"list_2":"c"}]}]""")
    one("SELECT list_has_any([1,2],[2,3]) AS a, list_has_all([1,2,3],[2,3]) AS b",
      """[{"a":true,"b":true}]""")
    // 3-arg list_aggregate forwards the separator to string_agg
    one("SELECT list_aggregate([1,2,3], 'sum') AS s, list_aggregate(['a','b'], 'string_agg', '-') AS g",
      """[{"s":6,"g":"a-b"}]""")
    one("SELECT list_apply([1,2], x -> x * 2) AS a", """[{"a":[2,4]}]""")
    one("SELECT [x * 2 FOR x IN [1,2,3] IF x > 1] AS c", """[{"c":[4,6]}]""")
  }

  test("probe-18b pins: multiple unnest items ZIP like DuckDB, never cross-product") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // rows = longest list, shorter NULL-fills (was a silent 6-row
    // cross product before the rewrite)
    one("SELECT unnest([1,2]) AS a, unnest([30,40,50]) AS b",
      """[{"a":1,"b":30},{"a":2,"b":40},{"a":null,"b":50}]""")
    // per-FROM-row zip
    one("SELECT d, unnest([1,2]) AS a, unnest([5]) AS b FROM (VALUES ('x'),('y')) t(d) ORDER BY d, a NULLS LAST",
      """[{"d":"x","a":1,"b":5},{"d":"x","a":2,"b":null},{"d":"y","a":1,"b":5},{"d":"y","a":2,"b":null}]""")
    // all-empty lists produce ZERO rows (the CASE guard, not [1,0])
    one("SELECT unnest(CAST(array() AS ARRAY<INT>)) AS a, unnest(CAST(array() AS ARRAY<INT>)) AS b",
      """[]""")
    // single unnest keeps the plain explode path
    one("SELECT unnest([7,8]) AS u", """[{"u":7},{"u":8}]""")
    // unsupported combinations stay LOUD, never silently cross-product
    assert(post("SELECT unnest([1]) AS a, unnest([2]) AS b, count(*) FROM (VALUES (1)) t(x) GROUP BY 1, 2").statusCode() >= 400)
    assert(post("SELECT unnest([1]), unnest([2])").statusCode() >= 400)
  }

  test("probe-19 pins: standard-SQL string literals (no escape processing), string utility tail") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB literals keep backslashes ('\d' IS backslash-d); before
    // the probe-19 escape rewrite Spark silently ate them and every
    // served regex class broke
    one("""SELECT regexp_extract('2024-01-02', '(\d+)-(\d+)', 2) AS g""",
      """[{"g":"01"}]""")
    one("""SELECT regexp_extract_all('a1b22c', '\d+') AS a, regexp_split_to_array('a1b22c', '\d+') AS s""",
      """[{"a":["1","22"],"s":["a","b","c"]}]""")
    // a literal backslash survives the round trip; length sees ONE char
    one("""SELECT length('\') AS n, '\d' AS s""", """[{"n":1,"s":"\\d"}]""")
    // e'...' is the opt-in ESCAPED form: \n becomes a newline there
    one("""SELECT length(e'a\nb') AS n, length('a\nb') AS m""",
      """[{"n":3,"m":4}]""")
    // SIMILAR TO is regex full-match in DuckDB (% is literal there)
    one("SELECT ('abc' SIMILAR TO 'a%') AS s, ('abc' SIMILAR TO 'a.*') AS r",
      """[{"s":false,"r":true}]""")
    one("SELECT parse_dirname('/a/b/c.txt') AS d, parse_dirpath('/a/b/c.txt') AS p, parse_filename('/a/b/c.txt') AS f",
      """[{"d":"/","p":"/a/b","f":"c.txt"}]""")
    one("SELECT format_bytes(1234567) AS f, formatReadableDecimalSize(1234567) AS g",
      """[{"f":"1.1 MiB","g":"1.2 MB"}]""")
    one("SELECT damerau_levenshtein('abc','acb') AS d, hamming('abc','abd') AS h",
      """[{"d":1,"h":1}]""")
    one("SELECT string_to_array('a,b', ',') AS a, array_to_string([1,2], '-') AS s",
      """[{"a":["a","b"],"s":"1-2"}]""")
    // chr takes full Unicode codepoints (Spark's builtin wraps at 256 —
    // chr(769) silently became \x01); invalid codepoints stay loud
    one("SELECT length(nfc_normalize('e' || chr(769))) AS n, chr(128512) AS e",
      """[{"n":1,"e":"😀"}]""")
    assert(post("SELECT chr(1114112) AS a").statusCode() >= 400)
    assert(post("SELECT chr(-1) AS a").statusCode() >= 400)
  }

  test("probe-20 pins: JSON long tail") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    one("""SELECT json_type('{"a":1}') AS t, json_type('[1]') AS u, json_type('1') AS v, json_type('-1') AS w, json_type('1.5') AS x""",
      """[{"t":"OBJECT","u":"ARRAY","v":"UBIGINT","w":"BIGINT","x":"DOUBLE"}]""")
    // RFC 7386: null in the patch DELETES the key
    one("""SELECT json_merge_patch('{"a":1,"b":2}', '{"b":null,"c":3}') AS m""",
      """[{"m":"{\"a\":1,\"c\":3}"}]""")
    // deep-subtree containment, root/array/nested-object forms
    one("""SELECT json_contains('{"a": {"b": 2}}', '{"b": 2}') AS a, json_contains('[1,2,3]', '2') AS b, json_contains('{"a":1}', '2') AS c""",
      """[{"a":true,"b":true,"c":false}]""")
    one("SELECT json_quote(42) AS q, json_quote('a') AS s",
      """[{"q":"42","s":"\"a\""}]""")
    one("SELECT json_group_array(x) AS a FROM (VALUES (1),(2)) t(x)",
      """[{"a":"[1,2]"}]""")
    one("SELECT json_group_object(k, v) AS o FROM (VALUES ('a',1),('b',2)) t(k,v)",
      """[{"o":"{\"a\":1,\"b\":2}"}]""")
  }

  test("round-12 probe21 batch: division/date semantics reach CTEs and subqueries; literal protection") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-15): / inside CTE bodies and subquery
    // inner plans is DOUBLE + NULL-on-zero, DATE-DATE is BIGINT days —
    // the parse-level transform now descends into innerChildren
    one("WITH q AS (SELECT 5.0/2 AS r) SELECT r FROM q", """[{"r":2.5}]""")
    one("SELECT (SELECT 10/4) AS x", """[{"x":2.5}]""")
    one("WITH q AS (SELECT 1/0 AS r) SELECT r, 7%0 AS m FROM q",
      """[{"r":null,"m":null}]""")
    one("SELECT (SELECT DATE '2024-03-05' - DATE '2024-02-28') AS d", """[{"d":6}]""")
    one("WITH q AS (SELECT (SELECT 9/2) AS r) SELECT r FROM q", """[{"r":4.5}]""")
    // backrefs renumber under the first-match prefix group (Java
    // semantics, self-consistent numbering; DuckDB's RE2 has no
    // backrefs at all — documented extension)
    one("""SELECT regexp_replace('aab', '(a)\1', 'X') AS r""", """[{"r":"Xb"}]""")
    // integral strings cast EXACTLY (no double detour); fractional
    // strings keep parse-then-half-away (DuckDB probe 13)
    one("SELECT CAST('9223372036854775807' AS BIGINT) AS b, CAST('12.5' AS INT) AS i, CAST('-12.5' AS INT) AS j",
      """[{"b":9223372036854775807,"i":13,"j":-13}]""")
    // rewrites must not fire inside string literals / identifier spans
    one("SELECT 'extract(epoch FROM x)' AS s", """[{"s":"extract(epoch FROM x)"}]""")
    one("""SELECT e'it\'s' AS s""", """[{"s":"it's"}]""")
    one("SELECT '\\d+' AS s", """[{"s":"\\d+"}]""")
  }

  test("round-12 probe22 batch: runtime-keyed ->> arrows and count(DISTINCT) OVER") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-15): runtime string/integer keys under the
    // TEXT arrow; scalars unquote, objects render as JSON text,
    // missing keys are NULL
    one("""SELECT j ->> k AS v FROM (VALUES ('{"a":1,"b":"x"}', 'a'), ('{"a":1,"b":"x"}', 'b')) t(j, k) ORDER BY v""",
      """[{"v":"1"},{"v":"x"}]""")
    one("SELECT j ->> i AS v FROM (VALUES ('[10,20,30]', 1)) t(j, i)",
      """[{"v":"20"}]""")
    one("""SELECT j ->> k AS v FROM (VALUES ('{"a":1}', 'z')) t(j, k)""",
      """[{"v":null}]""")
    one("""SELECT j ->> k AS v FROM (VALUES ('{"a":{"c":2}}', 'a')) t(j, k)""",
      """[{"v":"{\"c\":2}"}]""")
    // lambdas survive the identifier-right-operand extension
    one("SELECT list_reduce([1, 2, 3], (a, b) -> a * 16 + b) AS r", """[{"r":291}]""")
    // count(DISTINCT) OVER == size(collect_set OVER): every frame
    // shape pinned vs DuckDB, NULLs ignored, named windows too
    one("SELECT p, x, count(DISTINCT x) OVER (PARTITION BY p) AS c FROM (VALUES (1,10),(1,10),(1,20),(2,30)) t(p,x) ORDER BY p, x",
      """[{"p":1,"x":10,"c":2},{"p":1,"x":10,"c":2},{"p":1,"x":20,"c":2},{"p":2,"x":30,"c":1}]""")
    one("SELECT x, count(DISTINCT x) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c FROM (VALUES (1,10),(2,10),(3,20),(4,20)) t(i,x) ORDER BY i",
      """[{"x":10,"c":1},{"x":10,"c":1},{"x":20,"c":2},{"x":20,"c":1}]""")
    one("SELECT count(DISTINCT x) OVER (PARTITION BY p) AS c FROM (VALUES (1,CAST(NULL AS INT)),(1,10),(1,NULL)) t(p,x) LIMIT 1",
      """[{"c":1}]""")
    one("SELECT count(DISTINCT x) OVER w AS c FROM (VALUES (1,10),(1,10)) t(p,x) WINDOW w AS (PARTITION BY p) LIMIT 1",
      """[{"c":1}]""")
    // the negative space stays loud: `->` with a runtime key.
    // (sum(DISTINCT) OVER was part of this negative space until round
    // 13 closed it for integral elements — see the fuzz-pin block.)
    assert(post("""SELECT j -> k AS v FROM (VALUES ('{"a":1}', 'a')) t(j, k)""").statusCode() == 400)
  }

  test("round-12 probe23 batch: fmt alignment/fill semantics, format/printf NULL propagation") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-15): fmt default alignment is LEFT for
    // strings and RIGHT for numbers — the old one-printf translation
    // right-aligned everything, so {:5} on a string was silently wrong
    one("SELECT format('[{:5}]', 'ab') AS a, format('[{:5}]', 42) AS b, format('[{:5}]', 3.5) AS c",
      """[{"a":"[ab   ]","b":"[   42]","c":"[  3.5]"}]""")
    one("SELECT format('[{:<5}]', 'ab') AS a, format('[{:>5}]', 'ab') AS b, format('[{:^5}]', 'ab') AS c, format('[{:^6}]', 'ab') AS d",
      """[{"a":"[ab   ]","b":"[   ab]","c":"[ ab  ]","d":"[  ab  ]"}]""")
    // custom fill chars; center puts the extra fill on the RIGHT
    one("SELECT format('[{:*<5}]', 'ab') AS a, format('[{:*>5}]', 'ab') AS b, format('[{:*^5}]', 'ab') AS c",
      """[{"a":"[ab***]","b":"[***ab]","c":"[*ab**]"}]""")
    // fmt never truncates: a value wider than the field passes through
    one("SELECT format('[{:>2}]', 'abcdef') AS a, format('[{:^3}]', 'abcdef') AS b",
      """[{"a":"[abcdef]","b":"[abcdef]"}]""")
    // sign interaction: zero-pad goes AFTER the sign, fill before it
    one("SELECT format('[{:<6}]', -42) AS a, format('[{:06}]', -42) AS b, format('[{:*>6}]', -42) AS c, format('[{:+d}]', 42) AS d",
      """[{"a":"[-42   ]","b":"[-00042]","c":"[***-42]","d":"[+42]"}]""")
    one("SELECT format('[{:^7.2f}]', 3.14159) AS a, format('[{:>8x}]', 255) AS b, format('[{:#x}]', 255) AS c, format('[{:#o}]', 8) AS d",
      """[{"a":"[ 3.14  ]","b":"[      ff]","c":"[0xff]","d":"[010]"}]""")
    // manual indexing reuses an argument across alignments
    one("SELECT format('[{0:>4}{0:<4}]', 'ab') AS a", """[{"a":"[  abab  ]"}]""")
    // NULL args propagate to a NULL result (format_string would have
    // rendered the string "null")
    one("SELECT format('[{:>5}]', NULL) AS a, printf('%d', NULL) AS b",
      """[{"a":null,"b":null}]""")
    one("SELECT format('[{: d}]', 42) AS f, format('{{}}{}', 1) AS g",
      """[{"f":"[ 42]","g":"{}1"}]""")
    // the negative space stays loud: '=' align, mixed auto/manual
    assert(post("SELECT format('[{:=5}]', 42) AS a").statusCode() == 400)
    assert(post("SELECT format('{}{0}', 1) AS a").statusCode() == 400)
  }

  test("round-12 probe24 batch: list/array_agg NULL semantics, coercion + empty-aggregate family") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-15): list/array_agg keep NULL elements
    // and return NULL (not []) on empty input — in group-by AND
    // window contexts (closed this round; collect_list does neither)
    one("SELECT list(x) AS l FROM (VALUES (1),(NULL),(2)) t(x)",
      """[{"l":[1,null,2]}]""")
    one("SELECT list(x) AS l FROM (SELECT 1 AS x WHERE false) t",
      """[{"l":null}]""")
    one("SELECT array_agg(x) AS l FROM (SELECT 1 AS x WHERE false) t",
      """[{"l":null}]""")
    one("SELECT p, list(x) AS l FROM (VALUES (1,10),(1,NULL),(2,30)) t(p,x) GROUP BY p ORDER BY p",
      """[{"p":1,"l":[10,null]},{"p":2,"l":[30]}]""")
    // in-aggregate ORDER BY still composes through the sort wrapper
    one("SELECT list(x ORDER BY x DESC) AS l FROM (VALUES (1),(3),(2)) t(x)",
      """[{"l":[3,2,1]}]""")
    // window forms: empty frame -> NULL, NULL elements kept
    one("SELECT i, list(x) OVER (ORDER BY i ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS l FROM (VALUES (1,10),(2,NULL),(3,30)) t(i,x) ORDER BY i",
      """[{"i":1,"l":null},{"i":2,"l":[10]},{"i":3,"l":[10,null]}]""")
    one("SELECT array_agg(x) OVER (PARTITION BY p) AS l FROM (VALUES (1,10),(1,NULL)) t(p,x) LIMIT 1",
      """[{"l":[10,null]}]""")
    one("SELECT list(x) OVER w AS l FROM (VALUES (1,10),(1,20)) t(p,x) WINDOW w AS (PARTITION BY p) LIMIT 1",
      """[{"l":[10,20]}]""")
    // coercion family already DuckDB-identical (pinned so it stays so)
    one("SELECT '5' = 5 AS a, 5 IN ('5', 6) AS b, '2024-01-01' = DATE '2024-01-01' AS c",
      """[{"a":true,"b":true,"c":true}]""")
    one("SELECT CASE WHEN true THEN 1 ELSE '2' END AS a, coalesce(NULL, 1, '2') AS b",
      """[{"a":1,"b":1}]""")
    one("SELECT concat(1, 'a', 2.5, NULL) AS a, 1 || 'a' AS b",
      """[{"a":"1a2.5","b":"1a"}]""")
    one("SELECT sum(x) AS s, avg(x) AS a, min(x) AS m, count(x) AS c, string_agg(x, ',') AS g FROM (SELECT 1 AS x WHERE false) t",
      """[{"s":null,"a":null,"m":null,"c":0,"g":null}]""")
    one("SELECT 2 BETWEEN 3 AND 1 AS a, true AND NULL AS b, false AND NULL AS c, NOT NULL AS d",
      """[{"a":false,"b":null,"c":false,"d":null}]""")
    one("SELECT CAST('t' AS BOOLEAN) AS a, CAST(1.9 AS BOOLEAN) AS b, CAST(true AS INT) AS c",
      """[{"a":true,"b":true,"c":1}]""")
    // 'abc' = 0 errors on BOTH engines (conversion error)
    assert(post("SELECT 'abc' = 0 AS c").statusCode() != 200)
  }

  test("round-12 probe25 batch: regex long tail — RE2 rewrite backrefs, ordered flags, split-to-table") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-15): RE2 rewrite syntax in replacements —
    // '\N' group refs (literal '\1' in a Java replacement is the
    // digit '1', so every DuckDB group reference was silently dropped
    // before), '\0' whole match, '\\' collapse, literal '$' untouched
    one("""SELECT regexp_replace('abab', 'a(b)', '[\1]', 'g') AS g""",
      """[{"g":"[b][b]"}]""")
    one("""SELECT regexp_replace('hello world', '(\w+) (\w+)', '\2 \1', 'g') AS s""",
      """[{"s":"world hello"}]""")
    one("""SELECT regexp_replace('ab', '(a)(b)', '\0|\2', 'g') AS z""",
      """[{"z":"ab|b"}]""")
    one("""SELECT regexp_replace('ab', 'b', 'c$d', 'g') AS d""",
      """[{"d":"ac$d"}]""")
    // first-match (no 'g') now carries backrefs too: the emulation
    // shifts the replacement's group numbers alongside the pattern's
    one("""SELECT regexp_replace('abab', 'a(b)', '[\1]') AS f""",
      """[{"f":"[b]ab"}]""")
    one("""SELECT regexp_replace('hello world', '(\w+) (\w+)', '\2 \1') AS s""",
      """[{"s":"world hello"}]""")
    one("""SELECT regexp_replace('ab', 'b', 'c$d') AS d""", """[{"d":"ac$d"}]""")
    // options apply IN ORDER and cancel ('c' turns case sensitivity
    // back on); DuckDB's 'm'/'n'/'p' = newline-sensitive = Java's
    // default, NOT multiline (the old (?m) mapping silently diverged)
    one("SELECT regexp_matches('ab', 'AB', 'ic') AS x", """[{"x":false}]""")
    one("SELECT regexp_matches('aBc', 'abc', 'i') AS a, regexp_matches('aBc', 'abc') AS b",
      """[{"a":true,"b":false}]""")
    one("SELECT regexp_matches('a' || chr(10) || 'b', '^b', 'm') AS c, regexp_matches('a' || chr(10) || 'b', 'a.b', 's') AS d",
      """[{"c":false,"d":true}]""")
    // split-to-table generator (keeps empty pieces, like DuckDB)
    one("SELECT regexp_split_to_table('a,b;c', '[,;]') AS p",
      """[{"p":"a"},{"p":"b"},{"p":"c"}]""")
    one("SELECT regexp_split_to_table('a,,b', ',') AS p",
      """[{"p":"a"},{"p":""},{"p":"b"}]""")
    // the rest of the probe-25 sweep matched already — pinned
    one("SELECT regexp_full_match('abc', 'a.c') AS a, regexp_full_match('abc', 'a.') AS b",
      """[{"a":true,"b":false}]""")
    one("""SELECT regexp_escape('a.b*c') AS e""", """[{"e":"a\\.b\\*c"}]""")
    one("""SELECT regexp_extract('abc', 'z', 1) AS m, regexp_extract('abc', '(a)(z)?', 2) AS o""",
      """[{"m":"","o":""}]""")
    // unknown options stay loud
    assert(post("SELECT regexp_matches('ab', 'ab', 'q') AS x").statusCode() == 400)
  }

  test("round-12 probe26 batch: default NULLS LAST ordering, float-edge semantics") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-15): default_null_order = nulls_last in
    // BOTH directions — Spark's ASC default is NULLS FIRST, so every
    // plain ORDER BY silently reordered NULL rows until this round
    one("SELECT x FROM (VALUES (1),(NULL),(2)) t(x) ORDER BY x",
      """[{"x":1},{"x":2},{"x":null}]""")
    one("SELECT x FROM (VALUES (1),(NULL),(2)) t(x) ORDER BY x DESC",
      """[{"x":2},{"x":1},{"x":null}]""")
    // explicit spellings survive the defaulting rewrite
    one("SELECT x FROM (VALUES (1),(NULL),(2)) t(x) ORDER BY x NULLS FIRST",
      """[{"x":null},{"x":1},{"x":2}]""")
    // windows, frames, subquery+LIMIT, positional, CASE keys, ALL
    one("SELECT x, row_number() OVER (ORDER BY x) AS r FROM (VALUES (1),(NULL),(2)) t(x) ORDER BY r",
      """[{"x":1,"r":1},{"x":2,"r":2},{"x":null,"r":3}]""")
    one("SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM (VALUES (1),(2)) t(x) ORDER BY s",
      """[{"s":1},{"s":3}]""")
    one("SELECT * FROM (SELECT x FROM (VALUES (3),(NULL),(1)) t(x) ORDER BY x LIMIT 2) z ORDER BY x DESC",
      """[{"x":3},{"x":1}]""")
    one("SELECT x, y FROM (VALUES (1, NULL),(1, 2),(NULL, 0)) t(x, y) ORDER BY ALL",
      """[{"x":1,"y":2},{"x":1,"y":null},{"x":null,"y":0}]""")
    one("SELECT x FROM (VALUES (1),(NULL),(2)) t(x) ORDER BY 1 DESC",
      """[{"x":2},{"x":1},{"x":null}]""")
    // float edges: NaN = NaN, NaN greatest, -0.0 groups with 0.0,
    // NaN sorts before NULL, division by zero NULL even on doubles
    one("SELECT CAST('nan' AS DOUBLE) = CAST('nan' AS DOUBLE) AS a, CAST('nan' AS DOUBLE) > 1e308 AS b",
      """[{"a":true,"b":true}]""")
    one("SELECT CAST(-0.0 AS DOUBLE) = CAST(0.0 AS DOUBLE) AS a, 1.0/0.0 AS b",
      """[{"a":true,"b":null}]""")
    one("SELECT x, count(*) AS c FROM (VALUES (CAST('nan' AS DOUBLE)),(CAST('nan' AS DOUBLE)),(CAST(0.0 AS DOUBLE)),(CAST(-0.0 AS DOUBLE))) t(x) GROUP BY x ORDER BY x",
      """[{"x":0.0,"c":2},{"x":null,"c":2}]""")
    one("SELECT max(x) AS mx, min(x) AS mn FROM (VALUES (CAST(1.0 AS DOUBLE)),(CAST('nan' AS DOUBLE)),(CAST('inf' AS DOUBLE))) t(x)",
      """[{"mx":null,"mn":1.0}]""")
    // classification: signbit(-0.0) IS true in DuckDB 1.5.2
    one("SELECT isnan(CAST('nan' AS DOUBLE)) AS a, isinf(CAST('inf' AS DOUBLE)) AS b, isfinite(1.0) AS c, signbit(CAST('-0.0' AS DOUBLE)) AS d, signbit(CAST('nan' AS DOUBLE)) AS e",
      """[{"a":true,"b":true,"c":true,"d":true,"e":false}]""")
    // math domain errors stay loud like DuckDB (Java would return NaN)
    assert(post("SELECT sqrt(-1.0) AS a").statusCode() != 200)
    assert(post("SELECT ln(0.0) AS a").statusCode() != 200)
    // CAST(floating AS VARCHAR) renders DuckDB text, not Java's
    // ('1.0E8'/'NaN' were served before); other sources untouched
    one("SELECT CAST(CAST('nan' AS DOUBLE) AS VARCHAR) AS a, CAST(CAST('inf' AS DOUBLE) AS VARCHAR) AS b, CAST(1.5e-7 AS VARCHAR) AS c",
      """[{"a":"nan","b":"inf","c":"1.5e-07"}]""")
    one("SELECT CAST(CAST(100000000 AS DOUBLE) AS VARCHAR) AS a, CAST(1e21 AS VARCHAR) AS c, (1e21)::VARCHAR AS d, TRY_CAST(CAST(0.25 AS DOUBLE) AS STRING) AS t",
      """[{"a":"100000000.0","c":"1e+21","d":"1e+21","t":"0.25"}]""")
    one("SELECT CAST(CAST(0.5 AS FLOAT) AS VARCHAR) AS f, CAST(42 AS VARCHAR) AS i, CAST(DATE '2024-01-05' AS VARCHAR) AS d",
      """[{"f":"0.5","i":"42","d":"2024-01-05"}]""")
  }

  test("round-12 probe27 batch: NULL-aware IN, complex-type keys, set-op duplicates") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-15): three-valued IN over literal lists
    one("SELECT 1 NOT IN (2, NULL) AS a, 1 IN (1, NULL) AS b, 1 IN (2, NULL) AS c",
      """[{"a":null,"b":true,"c":null}]""")
    // LIST and STRUCT group-by keys; list ordering is lexicographic
    // with the probe-26 NULLS LAST default
    one("SELECT x, count(*) AS c FROM (VALUES ([1,2]),([1,2]),([3])) t(x) GROUP BY x ORDER BY c DESC",
      """[{"x":[1,2],"c":2},{"x":[3],"c":1}]""")
    one("SELECT x, count(*) AS c FROM (VALUES ({'a':1}),({'a':1}),({'a':2})) t(x) GROUP BY x ORDER BY c DESC",
      """[{"x":{"a":1},"c":2},{"x":{"a":2},"c":1}]""")
    one("SELECT x FROM (VALUES ([2]),([1,5]),(NULL),([1])) t(x) ORDER BY x",
      """[{"x":[1]},{"x":[1,5]},{"x":[2]},{"x":null}]""")
    one("SELECT [1,2] = [1,2] AS a, [1,2] < [1,3] AS b, {'a':1} = {'a':1} AS c",
      """[{"a":true,"b":true,"c":true}]""")
    one("SELECT 1 IS DISTINCT FROM NULL AS a, NULL IS NOT DISTINCT FROM NULL AS b",
      """[{"a":true,"b":true}]""")
    one("SELECT x FROM (VALUES (1),(2),(2)) t(x) INTERSECT ALL SELECT x FROM (VALUES (2),(2),(3)) t(x) ORDER BY x",
      """[{"x":2},{"x":2}]""")
    one("SELECT x FROM (VALUES (1),(2),(2)) t(x) EXCEPT SELECT x FROM (VALUES (2)) t(x)",
      """[{"x":1}]""")
    // the documented-loud residue stays loud
    assert(post("SELECT DISTINCT x FROM (VALUES (MAP([1],[2]))) t(x)").statusCode() != 200)
    assert(post("SELECT * FROM (VALUES (1),(2)) t(x) LIMIT 20%").statusCode() != 200)
  }

  test("round-12 probe28 batch: window-function long tail pinned") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-15): all matched on the first sweep —
    // pinned so they stay matched
    one("SELECT x, ntile(3) OVER (ORDER BY x) AS n FROM (VALUES (1),(2),(3),(4),(5)) t(x) ORDER BY x",
      """[{"x":1,"n":1},{"x":2,"n":1},{"x":3,"n":2},{"x":4,"n":2},{"x":5,"n":3}]""")
    one("SELECT x, percent_rank() OVER (ORDER BY x) AS p, cume_dist() OVER (ORDER BY x) AS c FROM (VALUES (1),(2),(2),(4)) t(x) ORDER BY x, p",
      """[{"x":1,"p":0.0,"c":0.25},{"x":2,"p":0.3333333333333333,"c":0.75},{"x":2,"p":0.3333333333333333,"c":0.75},{"x":4,"p":1.0,"c":1.0}]""")
    one("SELECT x, lead(x, 2, -1) OVER (ORDER BY x) AS l, lag(x, -1) OVER (ORDER BY x) AS neg FROM (VALUES (1),(2),(3)) t(x) ORDER BY x",
      """[{"x":1,"l":3,"neg":2},{"x":2,"l":-1,"neg":3},{"x":3,"l":-1,"neg":null}]""")
    one("SELECT x, nth_value(x, 2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nv FROM (VALUES (1),(2),(3)) t(x) ORDER BY x",
      """[{"x":1,"nv":2},{"x":2,"nv":2},{"x":3,"nv":2}]""")
    one("SELECT x, first_value(x) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS f FROM (VALUES (1),(3),(4)) t(x) ORDER BY x",
      """[{"x":1,"f":1},{"x":3,"f":3},{"x":4,"f":3}]""")
    one("SELECT x, sum(x) OVER (PARTITION BY x % 2 ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s FROM (VALUES (1),(2),(3),(4)) t(x) ORDER BY x",
      """[{"x":1,"s":1},{"x":2,"s":2},{"x":3,"s":4},{"x":4,"s":6}]""")
    // loud on both engines
    assert(post("SELECT ntile(0) OVER (ORDER BY x) AS n FROM (VALUES (1)) t(x)").statusCode() != 200)
  }

  test("sandboxed server rejects dialect file sources outside allowed dirs") {
    val sandboxed = new QueryServer(spark, 0, allowedDirs = Seq("/nonexistent"))
    sandboxed.start()
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${sandboxed.boundPort}/"))
          .header("Accept", "application/json").header("Content-Type", "text/plain")
          .POST(HttpRequest.BodyPublishers.ofString(
            s"SELECT * FROM read_csv('$csvPath')")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 400)
      assert(r.body().contains("outside allowed directories"))
    } finally sandboxed.stop()
  }

  test("round-13 advice pins: \\0 under first-match, sized VARCHAR(n), (x)-> lambda, terminator-named sort keys") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-15): \0 = the whole match under FIRST-match
    // emulation used to emit $1 (the lazy-prefix group) — 'a[a]c'
    // instead of 'a[b]c'; the user pattern now gets its own capture
    one("""SELECT regexp_replace('abc','b','[\0]') AS r""", """[{"r":"a[b]c"}]""")
    one("""SELECT regexp_replace('banana','an','X\0Y') AS r""", """[{"r":"bXanYana"}]""")
    one("""SELECT regexp_replace('abab','a(b)','<\0\1>') AS r""", """[{"r":"<abb>ab"}]""")
    // pattern backrefs (documented Java-semantics extension) still
    // renumber self-consistently after the shift-by-two change
    one("""SELECT regexp_replace('aab', '(a)\1', 'X') AS r""", """[{"r":"Xb"}]""")
    // DuckDB IGNORES the length in VARCHAR(n) (12345::VARCHAR(3) =
    // '12345'); Spark's native varchar(n) cast enforces it — sized
    // targets now route through the unsized renderer in both spellings
    one("SELECT 12345::VARCHAR(3) AS r, 1.5::VARCHAR(10) AS s",
      """[{"r":"12345","s":"1.5"}]""")
    one("SELECT CAST(12345 AS VARCHAR(3)) AS r", """[{"r":"12345"}]""")
    // a parenthesized SINGLE-param lambda head is not a json arrow
    one("SELECT list_transform([1,2], (x) -> x + 1) AS r", """[{"r":[2,3]}]""")
    one("SELECT list_filter([1,2,3], (y) -> y > 1) AS r", """[{"r":[2,3]}]""")
    // sort keys NAMED like clause terminators must not truncate the
    // ORDER BY segment (the NULLS LAST defaulting silently vanished)
    one("SELECT x AS range FROM (VALUES (3),(1),(NULL)) t(x) ORDER BY range",
      """[{"range":1},{"range":3},{"range":null}]""")
    one("SELECT x AS rows FROM (VALUES (3),(1),(NULL)) t(x) ORDER BY rows DESC",
      """[{"rows":3},{"rows":1},{"rows":null}]""")
    one("SELECT x AS range FROM (VALUES (3),(1),(NULL)) t(x) ORDER BY range LIMIT 2",
      """[{"range":1},{"range":3}]""")
  }

  test("round-14 advice pins: shift-before-quantified, long shift amounts, sign runs after comparison chars") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-16): a shifted LHS before a quantified
    // comparison — rewriteShiftOps now runs BEFORE rewriteQuantified,
    // so the LHS capture absorbs graft_shiftl(a, 1) instead of feeding
    // the rewritten CASE into the shift as its right operand
    one("SELECT 3 << 1 = ANY (SELECT 6) AS r", """[{"r":true}]""")
    one("SELECT 3 << 1 = ANY (SELECT 5) AS r", """[{"r":false}]""")
    one("SELECT 2 << 1 > ALL (SELECT * FROM (VALUES (1),(3)) t(x)) AS r",
      """[{"r":true}]""")
    // list-form ANY with a shifted LHS (the operandStart path)
    one("SELECT 3 << 1 = ANY([5, 6]) AS r", """[{"r":true}]""")
    // BIGINT shift amounts outside int range reach the range arms, not
    // ANSI CAST_OVERFLOW: x >> 5e9 = 0 in DuckDB, x << 5e9 its error
    one("SELECT 1024 >> 5000000000 AS r", """[{"r":0}]""")
    assert(post("SELECT 1 << 5000000000").statusCode() == 400)
    // a sign run straight after a comparison operator stays with the
    // operand: DuckDB raises the negative-left-shift error here
    assert(post("SELECT 2 <> -5 << 2").statusCode() == 400)
    // ...and a signed additive chain under the shift keeps the sign
    // inside the LHS: 5 <> ((-1 + 2) << 3) = 5 <> 8
    one("SELECT 5 <> -1 + 2 << 3 AS r", """[{"r":true}]""")
    one("SELECT 5 <> 3 << 2 AS r", """[{"r":true}]""")
    // per-row regex PATTERNS: group overflow is decided row by row —
    // '' for the overflow rows (extract), input unchanged (replace) —
    // instead of Spark's loud REGEX_GROUP_INDEX / INVALID_REGEXP_REPLACE
    one("SELECT regexp_extract(s, p, 2) AS r " +
      "FROM (VALUES ('abc','b'),('abc','(a)(b)'),(NULL,'x')) t(s,p)",
      """[{"r":""},{"r":"b"},{"r":null}]""")
    one("""SELECT regexp_replace(s, p, '[\2]', 'g') AS r """ +
      "FROM (VALUES ('xab','ab'),('xab','(a)(b)')) t(s,p)",
      """[{"r":"xab"},{"r":"x[b]"}]""")
    // ...and through the first-match emulation (replacement groups are
    // renumbered for the prepended prefix/wrap groups)
    one("""SELECT regexp_replace(s, p, '[\1]') AS r """ +
      "FROM (VALUES ('xab','ab'),('xab','(a)(b)')) t(s,p)",
      """[{"r":"xab"},{"r":"x[a]"}]""")
  }

  test("round-14 grammar-v7 dialect fixes: ->> in call-arg position, DISTINCT ON with aliased sort keys") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // `->>` can never be a lambda arrow, so a bare column as the first
    // argument of a call is a json extraction, not a lambda param
    // (used to PARSE-fail; DuckDB-pinned 2026-08-16)
    one("""SELECT max(CAST(j ->> 'a' AS INTEGER)) AS m """ +
      """FROM (VALUES ('{"a": 3}'),('{"a": 7}')) t(j)""", """[{"m":7}]""")
    // DISTINCT ON whose outer ORDER BY names FROM-scope columns the
    // aliased select list hides: sort keys become hidden projections
    one("SELECT DISTINCT ON (k) k AS f, v AS w " +
      "FROM (VALUES (1,'a'),(1,'b'),(2,'c')) t(k,v) ORDER BY k, v DESC",
      """[{"f":1,"w":"b"},{"f":2,"w":"c"}]""")
    // ...and LIMIT survives the hidden-column rebuild
    one("SELECT DISTINCT ON (k) v AS w " +
      "FROM (VALUES (1,'a'),(1,'b'),(2,'c')) t(k,v) ORDER BY k, v DESC LIMIT 1",
      """[{"w":"b"}]""")
    // the unaliased spelling keeps working
    one("SELECT DISTINCT ON (k) k, v FROM (VALUES (1,'a'),(1,'b'),(2,'c')) t(k,v) " +
      "ORDER BY k, v",
      """[{"k":1,"v":"a"},{"k":2,"v":"c"}]""")
  }

  test("round-14: floating sum/avg(DISTINCT) OVER folds the sorted distinct set") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-16), binary-exact element values so the
    // fold order cannot move the result: the distinct SET per frame is
    // sorted ascending and folded with a DOUBLE accumulator (the r13
    // loud path engaged only when analysis rejects the integral fold)
    one("SELECT rn, sum(DISTINCT d) OVER (ORDER BY rn) AS s, " +
      "avg(DISTINCT d) OVER (ORDER BY rn) AS a " +
      "FROM (VALUES (1, 0.5::DOUBLE), (2, 0.25::DOUBLE), (3, 0.5::DOUBLE), " +
      "(4, CAST(NULL AS DOUBLE)), (5, 1.75::DOUBLE)) t(rn, d) ORDER BY rn",
      """[{"rn":1,"s":0.5,"a":0.5},{"rn":2,"s":0.75,"a":0.375},""" +
        """{"rn":3,"s":0.75,"a":0.375},{"rn":4,"s":0.75,"a":0.375},""" +
        """{"rn":5,"s":2.5,"a":0.8333333333333334}]""")
    // all-NULL partition stays NULL; duplicates collapse before summing
    one("SELECT k, rn, sum(DISTINCT d) OVER (PARTITION BY k) AS s " +
      "FROM (VALUES (1, 1, 2.5::DOUBLE), (1, 2, 2.5::DOUBLE), (1, 3, -0.5::DOUBLE), " +
      "(2, 4, CAST(NULL AS DOUBLE)), (2, 5, CAST(NULL AS DOUBLE))) t(k, rn, d) " +
      "ORDER BY k, rn",
      """[{"k":1,"rn":1,"s":2.0},{"k":1,"rn":2,"s":2.0},{"k":1,"rn":3,"s":2.0},""" +
        """{"k":2,"rn":4,"s":null},{"k":2,"rn":5,"s":null}]""")
    // decimal elements take the DOUBLE path (documented width mapping;
    // DuckDB keeps DECIMAL — values render identically here)
    one("SELECT rn, sum(DISTINCT d) OVER (ORDER BY rn) AS s " +
      "FROM (VALUES (1, 1.5), (2, 2.5), (3, 1.5)) t(rn, d) ORDER BY rn",
      """[{"rn":1,"s":1.5},{"rn":2,"s":4.0},{"rn":3,"s":4.0}]""")
    // the integral fold still takes the exact BIGINT path
    one("SELECT rn, sum(DISTINCT i) OVER (ORDER BY rn) AS s " +
      "FROM (VALUES (1, 5), (2, 5), (3, 2)) t(rn, i) ORDER BY rn",
      """[{"rn":1,"s":5},{"rn":2,"s":5},{"rn":3,"s":7}]""")
  }

  test("round-14 fuzz-v8 pins: frame EXCLUDE decomposition, PIVOT ORDER BY tail, nested UNION BY NAME") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    def loud(sql: String): Unit =
      assert(post(sql).statusCode() == 400, s"wanted 400: $sql")
    val rel = "(VALUES (1, 10.0::DOUBLE, 'a'), (2, CAST(NULL AS DOUBLE), 'a'), " +
      "(3, 10.0::DOUBLE, 'b'), (4, 20.0::DOUBLE, 'b'), (5, 30.0::DOUBLE, 'b')) t(k, v, g)"
    // every expectation below is the DuckDB 1.5.2 value (measured
    // 2026-08-16); Spark has no EXCLUDE syntax at all — the rewrite
    // decomposes sum/count/avg into window aggregates over the same
    // spec plus the peer frame (RANGE CURRENT ROW..CURRENT ROW)
    one(s"SELECT k, sum(v) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      s"EXCLUDE CURRENT ROW) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":null},{"k":2,"w":20.0},{"k":3,"w":20.0},""" +
        """{"k":4,"w":40.0},{"k":5,"w":20.0}]""")
    // a frame that empties after exclusion is NULL, not 0
    one(s"SELECT k, sum(v) OVER (ORDER BY k ROWS BETWEEN CURRENT ROW AND CURRENT ROW " +
      s"EXCLUDE CURRENT ROW) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":null},{"k":2,"w":null},{"k":3,"w":null},""" +
        """{"k":4,"w":null},{"k":5,"w":null}]""")
    // EXCLUDE GROUP on a RANGE frame: peers (equal sort keys) leave
    one(s"SELECT k, count(*) OVER (ORDER BY g RANGE BETWEEN UNBOUNDED PRECEDING AND " +
      s"CURRENT ROW EXCLUDE GROUP) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":0},{"k":2,"w":0},{"k":3,"w":2},{"k":4,"w":2},{"k":5,"w":2}]""")
    // EXCLUDE TIES keeps the current row itself (whole-partition ROWS)
    one(s"SELECT k, sum(v) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      s"UNBOUNDED FOLLOWING EXCLUDE TIES) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":70.0},{"k":2,"w":60.0},{"k":3,"w":20.0},""" +
        """{"k":4,"w":30.0},{"k":5,"w":40.0}]""")
    // count(expr) subtracts only a NON-NULL current row
    one(s"SELECT k, count(v) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      s"EXCLUDE CURRENT ROW) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":0},{"k":2,"w":2},{"k":3,"w":1},{"k":4,"w":2},{"k":5,"w":1}]""")
    // bounds that never contain the current row: EXCLUDE removes
    // nothing and the clause just drops (DuckDB semantics)
    one(s"SELECT k, sum(v) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING " +
      s"EXCLUDE CURRENT ROW) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":null},{"k":2,"w":10.0},{"k":3,"w":10.0},""" +
        """{"k":4,"w":10.0},{"k":5,"w":30.0}]""")
    // EXCLUDE NO OTHERS is the explicit no-op spelling
    one(s"SELECT k, sum(v) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND CURRENT ROW " +
      s"EXCLUDE NO OTHERS) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":10.0},{"k":2,"w":10.0},{"k":3,"w":10.0},""" +
        """{"k":4,"w":30.0},{"k":5,"w":50.0}]""")
    // loud parity: DuckDB requires an explicit frame before EXCLUDE
    loud(s"SELECT k, sum(v) OVER (ORDER BY g EXCLUDE GROUP) AS w FROM $rel ORDER BY k")
    // round-15 (r14 ask #7): min/max EXCLUDE now SERVES via the
    // collected-frame decomposition (the r14 residue row) — every
    // expectation DuckDB-measured 2026-08-16
    one(s"SELECT k, min(v) OVER (ORDER BY g RANGE BETWEEN UNBOUNDED PRECEDING AND " +
      s"CURRENT ROW EXCLUDE GROUP) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":null},{"k":2,"w":null},{"k":3,"w":10.0},""" +
        """{"k":4,"w":10.0},{"k":5,"w":10.0}]""")
    one(s"SELECT k, min(v) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      s"EXCLUDE CURRENT ROW) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":null},{"k":2,"w":10.0},{"k":3,"w":20.0},""" +
        """{"k":4,"w":10.0},{"k":5,"w":20.0}]""")
    one(s"SELECT k, max(v) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING AND CURRENT ROW " +
      s"EXCLUDE CURRENT ROW) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":null},{"k":2,"w":10.0},{"k":3,"w":10.0},""" +
        """{"k":4,"w":10.0},{"k":5,"w":20.0}]""")
    one(s"SELECT k, max(v) OVER (ORDER BY g RANGE BETWEEN UNBOUNDED PRECEDING AND " +
      s"UNBOUNDED FOLLOWING EXCLUDE TIES) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":30.0},{"k":2,"w":30.0},{"k":3,"w":10.0},""" +
        """{"k":4,"w":20.0},{"k":5,"w":30.0}]""")
    one(s"SELECT k, min(v) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      s"UNBOUNDED FOLLOWING EXCLUDE GROUP) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":10.0},{"k":2,"w":10.0},{"k":3,"w":10.0},""" +
        """{"k":4,"w":10.0},{"k":5,"w":10.0}]""")
    // a frame that empties after exclusion is NULL; strings fold too
    one(s"SELECT k, min(v) OVER (ORDER BY k ROWS BETWEEN CURRENT ROW AND CURRENT ROW " +
      s"EXCLUDE CURRENT ROW) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":null},{"k":2,"w":null},{"k":3,"w":null},""" +
        """{"k":4,"w":null},{"k":5,"w":null}]""")
    one(s"SELECT k, max(g) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      s"EXCLUDE CURRENT ROW) AS w FROM $rel ORDER BY k",
      """[{"k":1,"w":"a"},{"k":2,"w":"b"},{"k":3,"w":"b"},""" +
        """{"k":4,"w":"b"},{"k":5,"w":"b"}]""")
    // multi-key ORDER BY under min/max GROUP/TIES stays loud (the
    // peer test re-evaluates a single key expression)
    loud(s"SELECT k, min(v) OVER (ORDER BY g, k RANGE BETWEEN UNBOUNDED PRECEDING AND " +
      s"UNBOUNDED FOLLOWING EXCLUDE GROUP) AS w FROM $rel ORDER BY k")
    // a bounded ROWS frame can cover a peer group partially — no
    // decomposition can see that; stays loud
    loud(s"SELECT k, sum(v) OVER (ORDER BY g ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      s"EXCLUDE GROUP) AS w FROM $rel ORDER BY k")
    // round-15: a NON-DETERMINISTIC operand bails to the loud path —
    // the decomposition splices the argument up to ~6 times, which
    // would draw random() independently per copy vs DuckDB's single
    // evaluation (silent divergence beats nothing; loud beats silent)
    loud(s"SELECT k, sum(v + random()) OVER (ORDER BY g ROWS BETWEEN 2 PRECEDING AND " +
      s"2 FOLLOWING EXCLUDE CURRENT ROW) AS w FROM $rel ORDER BY k")
    // the simplified-PIVOT statement accepts DuckDB's ORDER BY/LIMIT tail
    spark.sql("SELECT * FROM VALUES ('A','x',1),('A','y',2),('B','x',3),('B','y',4)," +
      "('C','x',5) p(r, c, n)").createOrReplaceTempView("pvt14")
    one("PIVOT pvt14 ON c USING sum(n) GROUP BY r ORDER BY r LIMIT 2",
      """[{"r":"A","x":1,"y":2},{"r":"B","x":3,"y":4}]""")
    // UNION BY NAME nested inside a derived table (fuzz v8: was a
    // loud 400 where DuckDB runs it)
    one("SELECT a, b FROM (SELECT 1 AS a, 2 AS b UNION ALL BY NAME " +
      "SELECT 4 AS b, 3 AS a) z ORDER BY a",
      """[{"a":1,"b":2},{"a":3,"b":4}]""")
    // CHAINED BY NAME binds left-assoc (the former documented residue;
    // all three DuckDB-measured 2026-08-16) — pure chain, a plain
    // UNION ALL continuation, and an EXCEPT continuation
    one("SELECT a, b FROM (SELECT 1 AS a, 2 AS b UNION ALL BY NAME " +
      "SELECT 4 AS b, 3 AS a UNION ALL BY NAME SELECT 5 AS a, 6 AS b) z ORDER BY a",
      """[{"a":1,"b":2},{"a":3,"b":4},{"a":5,"b":6}]""")
    one("SELECT a FROM (SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS a " +
      "UNION ALL SELECT 3) z ORDER BY a",
      """[{"a":1},{"a":2},{"a":3}]""")
    one("SELECT a FROM (SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS a " +
      "EXCEPT SELECT 2) z ORDER BY a",
      """[{"a":1}]""")
    // round-15 (r14 advice): BY NAME as the SECOND+ top-level set op —
    // the plain-op prefix binds first (left-assoc) and becomes the BY
    // NAME's left branch; all three DuckDB-measured 2026-08-16
    one("SELECT a, b FROM (SELECT 1 AS a UNION ALL SELECT 2 " +
      "UNION ALL BY NAME SELECT 3 AS b) z ORDER BY a NULLS LAST, b",
      """[{"a":1,"b":null},{"a":2,"b":null},{"a":null,"b":3}]""")
    one("SELECT a, b FROM (SELECT 1 AS a, 2 AS b UNION SELECT 1, 2 " +
      "UNION ALL BY NAME SELECT 9 AS b, 8 AS a) z ORDER BY a",
      """[{"a":1,"b":2},{"a":8,"b":9}]""")
    one("SELECT a, b FROM (SELECT 1 AS a EXCEPT SELECT 2 " +
      "UNION BY NAME SELECT 7 AS b) z ORDER BY a NULLS LAST",
      """[{"a":1,"b":null},{"a":null,"b":7}]""")
    // round-15 grammar-v9 pins (all oracle-measured): DuckDB's
    // contains family returns FALSE for an absent needle even when
    // the list carries NULL elements (Spark's three-valued
    // ArrayContains said NULL — the silent divergence the v9 sweep
    // caught); NULL list or needle stays NULL
    one("SELECT list_contains([NULL, 1, 2], 3) AS a, " +
      "list_contains([NULL, 1], 1) AS b, " +
      "array_has([NULL, 'x'], 'y') AS c, " +
      "list_contains([1, 2], NULL) AS d, " +
      "list_contains(nullif([1], [1]), 1) AS e",
      """[{"a":false,"b":true,"c":false,"d":null,"e":null}]""")
    // map subscript / element_at are LIST-valued like map_extract:
    // [value] on a hit, [] on a miss AND on NULL map/key, [NULL] for
    // a stored NULL value
    one("SELECT MAP {'t': 5}['t'] AS a, MAP {'t': 5}['z'] AS b, " +
      "element_at(MAP {'t': 5}, 't') AS c, " +
      "element_at(CASE WHEN 1 = 0 THEN MAP {'t': 5} END, 't') AS d, " +
      "MAP {'t': CAST(NULL AS BIGINT)}['t'] AS e",
      """[{"a":[5],"b":[],"c":[5],"d":[],"e":[null]}]""")
  }

  test("round-13 fuzz pins: CASE WHEN NULL, CASE END operands, cast-text windows, ceil/floor typing, sum/avg(DISTINCT) OVER") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-15), every case found by the FuzzProbe
    // seed-13 sweep (tools/FuzzProbe + tools/fuzz_check.py):
    // a bare NULL condition falls through to ELSE (Spark rejected the
    // NullType predicate outright — 33 of the first 200 generated
    // queries hit it)
    one("SELECT CASE WHEN NULL THEN 1 ELSE 2 END AS x", """[{"x":2}]""")
    // CASE … END is a primary for the textual operand scanners
    one("SELECT CASE WHEN NULL THEN -1 ELSE 100 END // 3 AS c", """[{"c":33}]""")
    one("SELECT 3 // CASE WHEN true THEN 2 ELSE 1 END AS c", """[{"c":1}]""")
    one("SELECT CASE WHEN false THEN 2.0 ELSE 4.5 END::VARCHAR AS c",
      """[{"c":"4.5"}]""")
    // the CAST text window is [1e-4, 1e16) with a padded signed
    // exponent — NOT the to_json window [1e-6, 1e21) the probe-26 pin
    // generalized from (CAST(0.000001 AS VARCHAR) printed '0.000001'
    // where DuckDB prints '1e-06')
    one("SELECT CAST(CAST(0.000001 AS DOUBLE) AS VARCHAR) AS a, " +
      "CAST(CAST(0.0001 AS DOUBLE) AS VARCHAR) AS b, " +
      "CAST(CAST(0.000099 AS DOUBLE) AS VARCHAR) AS c",
      """[{"a":"1e-06","b":"0.0001","c":"9.9e-05"}]""")
    one("SELECT CAST(CAST(1e15 AS DOUBLE) AS VARCHAR) AS a, " +
      "CAST(CAST(1e16 AS DOUBLE) AS VARCHAR) AS b",
      """[{"a":"1000000000000000.0","b":"1e+16"}]""")
    // ceil/floor are DOUBLE for every non-decimal numeric in DuckDB
    // (even integers); decimal inputs keep the decimal family
    one("SELECT ceil(CAST(1.5 AS DOUBLE)) AS a, floor(CAST(1.5 AS DOUBLE)) AS b, " +
      "ceil(5) AS c, ceiling(CAST(2.1 AS DOUBLE)) AS d, ceil(1.5) AS e",
      """[{"a":2.0,"b":1.0,"c":5.0,"d":3.0,"e":2}]""")
    one("SELECT CAST(ceil((1.5 / 1.5)) AS VARCHAR) AS c", """[{"c":"1.0"}]""")
    // sum/avg(DISTINCT) OVER: per-frame distinct fold for INTEGRAL
    // elements (exact, order-independent); NULL on empty frames
    one("SELECT rn, sum(DISTINCT x) OVER (ORDER BY rn) AS s, " +
      "avg(DISTINCT x) OVER (ORDER BY rn) AS a " +
      "FROM (VALUES (1,1),(2,2),(3,2),(4,NULL),(5,3)) t(rn,x) ORDER BY rn",
      """[{"rn":1,"s":1,"a":1.0},{"rn":2,"s":3,"a":1.5},{"rn":3,"s":3,"a":1.5},""" +
        """{"rn":4,"s":3,"a":1.5},{"rn":5,"s":6,"a":2.0}]""")
    one("SELECT sum(DISTINCT x) OVER (PARTITION BY x) AS s " +
      "FROM (VALUES (CAST(NULL AS INT))) t(x)", """[{"s":null}]""")
    // floating elements were LOUD when this tier was pinned (the
    // accumulation-order rationale); round-14 ask #6 closed them with
    // the canonical-order DOUBLE fold — the analysis-retry now serves
    // the value the r13 build refused (see the round-14 pins above)
    one("SELECT sum(DISTINCT x) OVER (ORDER BY x) AS s " +
      "FROM (VALUES (1.5)) t(x)", """[{"s":1.5}]""")
    // a single-param lambda whose body is a CALL (rightEnd<0 path)
    one("SELECT list_transform([1,-2], (x) -> abs(x)) AS r", """[{"r":[1,2]}]""")
    // --- v2 grammar sweep (dates/timestamps/lists), all DuckDB-pinned ---
    // date ± INTERVAL is TIMESTAMP for every grain and operand order
    one("SELECT CAST((DATE '2024-01-01' + INTERVAL '3' DAY) AS VARCHAR) AS a, " +
      "CAST((DATE '2024-01-01' - INTERVAL '1' DAY) AS VARCHAR) AS b, " +
      "CAST((DATE '2024-01-31' + INTERVAL '1' MONTH) AS VARCHAR) AS c",
      """[{"a":"2024-01-04 00:00:00","b":"2023-12-31 00:00:00","c":"2024-02-29 00:00:00"}]""")
    // date_trunc dispatches the RESULT type on the PART (DATE for
    // date grains even over TIMESTAMP input; TIMESTAMP for time grains)
    one("SELECT CAST(date_trunc('month', TIMESTAMP '2024-03-05 01:02:03') AS VARCHAR) AS a, " +
      "CAST(date_trunc('hour', TIMESTAMP '2024-03-05 01:02:03') AS VARCHAR) AS b",
      """[{"a":"2024-03-01","b":"2024-03-05 01:00:00"}]""")
    // date_part's FUNCTION form carries DuckDB day numbering too
    one("SELECT date_part('dow', DATE '2024-02-29') AS d, " +
      "date_part('isodow', DATE '2024-02-29') AS i", """[{"d":4,"i":4}]""")
    // split_part is NOT null-in-null-out: NULL string/part -> '',
    // NULL separator -> the whole string, '' separator -> per-char
    one("SELECT split_part(CAST(NULL AS VARCHAR), ',', 1) AS a, " +
      "split_part('a,b', NULL, 1) AS b, " +
      "split_part('a,b', ',', CAST(NULL AS INT)) AS c, " +
      "split_part('a,b', '', 1) AS d",
      """[{"a":"","b":"a,b","c":"","d":"a"}]""")
    // string_agg ORDER BY beside a DISTINCT aggregate (Spark's listagg
    // path ClassCastExceptions there — comparator construction now);
    // all-NULL groups yield NULL, not ''
    one("SELECT k, count(DISTINCT s) AS a2, string_agg(s, ',' ORDER BY rn) AS a3 " +
      "FROM (VALUES (0,0,'b'),(1,0,'a'),(2,0,NULL),(3,1,NULL)) t(rn,k,s) " +
      "GROUP BY k ORDER BY k NULLS LAST",
      """[{"k":0,"a2":2,"a3":"b,a"},{"k":1,"a2":0,"a3":null}]""")
    // empty list literal after a bare keyword
    one("SELECT [] AS e, len([]) AS n", """[{"e":[],"n":0}]""")
    // a UNARY sign binds TIGHTER than ^/** in DuckDB, in every form —
    // the old operand scan made it -(2.5^2)
    one("SELECT -2.5 ^ 2 AS a, 0-2.5 ^ 2 AS b, 3 * -2.5 ^ 2 AS c, -2 ** 2 AS d",
      """[{"a":6.25,"b":-6.25,"c":18.75,"d":4.0}]""")
    one("SELECT -x ^ 2 AS a FROM (VALUES (2.5)) t(x)", """[{"a":6.25}]""")
    // CASE … END as a power operand (21 of 5000 generated queries
    // parse-errored on this before)
    one("SELECT (CASE WHEN false THEN 0.001 ELSE 0.1 END ^ 3) AS a, " +
      "2 ^ CASE WHEN true THEN 3 ELSE 1 END AS b",
      """[{"a":0.0010000000000000002,"b":8.0}]""")
    // ceil/floor preserve NaN/Inf (Spark's long-typed Ceil made
    // ceil(NaN) = 0, which would render 0.0 — non-finite doubles are
    // null in the JSON encoding, the pinned probe-12 convention)
    one("SELECT ceil((-0.75 ^ 0.5)) AS a, floor(CAST('inf' AS DOUBLE)) AS b",
      """[{"a":null,"b":null}]""")
    // avg over DECIMAL children is DOUBLE in DuckDB (Spark's
    // DECIMAL(p, s+4) avg truncated the value itself)
    one("SELECT round(avg(round(d, 1)), 6) AS a FROM " +
      "(VALUES (17.1), (-2.88), (-35.42)) t(d)", """[{"a":-7.066667}]""")
    // round() rounds the BINARY double, not its decimal rendering:
    // 1.005 stores as 1.00499999…, so 2-dp rounds DOWN to 1.0 where
    // Spark's string-path HALF_UP prints 1.01
    one("SELECT round(CAST(-17.85 AS DOUBLE), 1) AS a, " +
      "round(CAST(1.005 AS DOUBLE), 2) AS b, round(CAST(2.675 AS DOUBLE), 2) AS c, " +
      "round(CAST(0.25 AS DOUBLE), 1) AS d, round(CAST(-0.001 AS DOUBLE), 1) AS e",
      """[{"a":-17.9,"b":1.0,"c":2.68,"d":0.3,"e":-0.0}]""")
    // round's scale may be a runtime column (Spark's builtin requires
    // a foldable literal; DuckDB does not)
    one("SELECT round(CAST(1.2345 AS DOUBLE), n) AS r FROM (VALUES (1),(3)) t(n) ORDER BY n",
      """[{"r":1.2},{"r":1.235}]""")
  }

  test("round-13 fuzz v4 pins: arg_min/max NULL args, any_value, bit_count widths, json_array_length, quantified subqueries, sample moments, regexp group overflow, format '{}', FILTER NULL") {
    def one(sql: String, expect: String): Unit = {
      val r = post(sql)
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      assert(r.body() == expect, s"$sql -> ${r.body()} (wanted $expect)")
    }
    // DuckDB-pinned (2026-08-16), found by the FuzzProbe v4 grammar
    // (long-tail scalar planes + HAVING/FILTER/grouping-set/QUALIFY/
    // CTE shells):
    // arg_min/arg_max (and min_by/max_by aliases) SKIP rows whose arg
    // is NULL; all-NULL args yield NULL
    one("SELECT arg_max(s, rn) AS a, arg_min(s, rn) AS b, max_by(s, rn) AS c, " +
      "min_by(s, rn) AS d FROM (VALUES (1,'a'),(2,NULL),(3,'b'),(4,NULL)) t(rn,s)",
      """[{"a":"b","b":"a","c":"b","d":"a"}]""")
    one("SELECT arg_max(s, rn) AS a FROM (VALUES (1, CAST(NULL AS VARCHAR))) t(rn,s)",
      """[{"a":null}]""")
    // …but ordered first/last/arbitrary KEEP a NULL at the winning key
    one("SELECT first(s ORDER BY rn) AS f, last(s ORDER BY rn) AS l, " +
      "arbitrary(s ORDER BY rn) AS ar FROM (VALUES (1,NULL),(2,'b'),(3,NULL)) t(rn,s)",
      """[{"f":null,"l":null,"ar":null}]""")
    // …and any_value is the first NON-NULL value, plain and ordered
    // (multi-key specs go through the sorted-array path)
    one("SELECT any_value(s) AS u, any_value(s ORDER BY rn) AS o, " +
      "any_value(s ORDER BY rn DESC) AS od " +
      "FROM (VALUES (1,NULL),(2,'b'),(3,'c')) t(rn,s)",
      """[{"u":"b","o":"b","od":"c"}]""")
    one("SELECT any_value(s ORDER BY k ASC, rn DESC) AS m " +
      "FROM (VALUES (1,0,NULL),(2,0,'x'),(3,1,'y')) t(rn,k,s)",
      """[{"m":"x"}]""")
    // bit_count counts within the input's own width (Spark's builtin
    // sign-extended everything to 64 bits)
    one("SELECT bit_count(-1) AS a, bit_count(CAST(-1 AS BIGINT)) AS b, " +
      "bit_count(CAST(-1 AS SMALLINT)) AS c, bit_count(CAST(-1 AS TINYINT)) AS d, " +
      "bit_count(255) AS e",
      """[{"a":32,"b":64,"c":16,"d":8,"e":8}]""")
    // json_array_length: 0 for valid non-array JSON, NULL in / NULL
    // out, 2-arg path form (missing path NULL, non-array at path 0),
    // malformed input LOUD
    one("""SELECT json_array_length('[1,2,3]') AS a, json_array_length('{"a":1}') AS b, """ +
      """json_array_length('"x"') AS c, json_array_length(NULL) AS d, """ +
      """json_array_length('{"a":[1,2],"b":3}','$.a') AS e, """ +
      """json_array_length('{"a":[1,2]}','$.zz') AS f, """ +
      """json_array_length('{"a":3}','$.a') AS g""",
      """[{"a":3,"b":0,"c":0,"d":null,"e":2,"f":null,"g":0}]""")
    assert(post("SELECT json_array_length('{') AS a").statusCode() >= 400)
    // quantified subquery comparisons (Spark has none): three-valued —
    // TRUE beats NULL beats FALSE for ANY, dual for ALL, empty is
    // FALSE/TRUE; the LHS may be an arithmetic chain or an outer column
    one("SELECT 7 = ANY (SELECT * FROM (VALUES (1),(2),(NULL)) q(x)) AS p",
      """[{"p":null}]""")
    one("SELECT 1 = ANY (SELECT * FROM (VALUES (1),(2),(NULL)) q(x)) AS p",
      """[{"p":true}]""")
    one("SELECT 7 = ANY (SELECT x FROM (VALUES (1)) q(x) WHERE false) AS p",
      """[{"p":false}]""")
    one("SELECT 7 <> ANY (SELECT * FROM (VALUES (7),(NULL)) q(x)) AS p",
      """[{"p":null}]""")
    one("SELECT 7 <> ANY (SELECT * FROM (VALUES (7)) q(x)) AS p",
      """[{"p":false}]""")
    one("SELECT 7 > ANY (SELECT * FROM (VALUES (5),(NULL)) q(x)) AS p",
      """[{"p":true}]""")
    one("SELECT 7 > ALL (SELECT * FROM (VALUES (5),(NULL)) q(x)) AS p",
      """[{"p":null}]""")
    one("SELECT 7 > ALL (SELECT x FROM (VALUES (1)) q(x) WHERE false) AS p",
      """[{"p":true}]""")
    one("SELECT NULL = ANY (SELECT * FROM (VALUES (1)) q(x)) AS p",
      """[{"p":null}]""")
    one("SELECT 1 + 1 = ANY (SELECT * FROM (VALUES (2)) q(x)) AS p",
      """[{"p":true}]""")
    one("SELECT v, v = ANY (SELECT x FROM (VALUES (1),(NULL)) q(x)) AS p " +
      "FROM (VALUES (1),(7)) t(v) ORDER BY v",
      """[{"v":1,"p":true},{"v":7,"p":null}]""")
    one("SELECT 7 = ALL (SELECT * FROM (VALUES (7),(7)) q(x)) AS a, " +
      "7 = ALL (SELECT * FROM (VALUES (7),(NULL)) q(x)) AS b, " +
      "3 <> ALL (SELECT * FROM (VALUES (1),(2)) q(x)) AS c",
      """[{"a":true,"b":null,"c":true}]""")
    one("SELECT 4 < ANY (SELECT * FROM (VALUES (5),(NULL)) q(x)) AS a, " +
      "4 <= ALL (SELECT * FROM (VALUES (5),(4)) q(x)) AS b",
      """[{"a":true,"b":true}]""")
    // skewness/kurtosis are DuckDB's SAMPLE estimators: NULL below
    // n=3/n=4, NULL for zero variance; kurtosis_pop is the population
    // form (= Spark's builtin)
    one("SELECT round(skewness(x),6) AS s, kurtosis(x) AS k " +
      "FROM (VALUES (1.0),(2.0),(4.0)) t(x)",
      """[{"s":0.93522,"k":null}]""")
    one("SELECT round(skewness(x),6) AS s, round(kurtosis(x),6) AS k " +
      "FROM (VALUES (1.0),(2.0),(4.0),(9.0)) t(x)",
      """[{"s":1.330938,"k":1.5}]""")
    one("SELECT skewness(x) AS s, kurtosis(x) AS k, kurtosis_pop(x) AS kp " +
      "FROM (VALUES (1.0),(2.0)) t(x)",
      """[{"s":null,"k":null,"kp":-2.0}]""")
    one("SELECT skewness(x) AS s FROM (VALUES (2.0),(2.0),(2.0)) t(x)",
      """[{"s":null}]""")
    // regexp_extract with a group index beyond the pattern's groups is
    // '' in DuckDB (NULL input still NULL); Spark raised
    one("SELECT regexp_extract('abc', 'b', 2) AS a, " +
      "regexp_extract('  x', '^\\s*', 1) AS b, " +
      "regexp_extract(NULL, 'b', 2) AS c",
      """[{"a":"","b":"","c":null}]""")
    // width-less '{}' on a STRING argument (the '-' flag without a
    // width crashed Java's formatter)
    one("SELECT format('{}', 'ab') AS a, format('[{}]', 'x') AS b, format('{}', 42) AS c",
      """[{"a":"ab","b":"[x]","c":"42"}]""")
    // FILTER (WHERE NULL) keeps no rows (Spark rejected the NullType
    // predicate)
    one("SELECT count(*) FILTER (WHERE NULL) AS c, sum(x) FILTER (WHERE NULL) AS s " +
      "FROM (VALUES (1),(2)) t(x)",
      """[{"c":0,"s":null}]""")
    // bit-shift operators: Spark cannot parse >> at all; precedence is
    // DuckDB's (additive/multiplicative tighter than shifts, &/| share
    // the shift tier left-assoc); >> is arithmetic with 0 outside
    // [0, width); << is LOUD on negative operands/overflow
    one("SELECT (3 << 4) AS a, 16 >> 1 + 1 AS b, 2 << 2 * 2 AS c, " +
      "1 | 2 << 2 AS d, 16 >> 2 >> 1 AS e, -8 >> 1 AS f, 8 >> -1 AS g, " +
      "100 >> 50 AS h, 0 << 35 AS i, CAST(1 AS BIGINT) << 40 AS j",
      """[{"a":48,"b":4,"c":32,"d":12,"e":2,"f":-4,"g":0,"h":0,"i":0,"j":1099511627776}]""")
    assert(post("SELECT -8 << 1 AS a").statusCode() >= 400)
    assert(post("SELECT 1 << 31 AS a").statusCode() >= 400)
    assert(post("SELECT 8 << -1 AS a").statusCode() >= 400)
    // string-distance family is UTF-8 BYTE-based in DuckDB (two-byte
    // chars count twice)
    one("SELECT levenshtein('ÄbÇ','AbC') AS a, editdist3('ÄbÇ','AbC') AS b, " +
      "damerau_levenshtein('ÄbÇ','AbC') AS c, levenshtein('abc','acb') AS d, " +
      "round(jaro_similarity('ÄbÇ','AbC'),6) AS e, " +
      "round(jaro_winkler_similarity('ÄbÇ','AbC'),6) AS f, " +
      "levenshtein(NULL,'x') AS g",
      """[{"a":4,"b":4,"c":4,"d":2,"e":0.511111,"f":0.511111,"g":null}]""")
    // corr: NULL for n<2 pairs / zero variance (Spark's Corr threw
    // DIVIDE_BY_ZERO under ANSI); pairwise-complete like DuckDB
    one("SELECT corr(y,x) AS a FROM (VALUES (1.0,2.0)) t(x,y)", """[{"a":null}]""")
    one("SELECT corr(y,x) AS a FROM (VALUES (1.0,2.0),(1.0,3.0)) t(x,y)", """[{"a":null}]""")
    one("SELECT corr(y,x) AS a FROM (VALUES (CAST(NULL AS DOUBLE),2.0),(2.0,3.0)) t(x,y)",
      """[{"a":null}]""")
    one("SELECT round(corr(y,x),6) AS a FROM (VALUES (1.0,1.0),(2.0,3.0),(3.0,2.0)) t(x,y)",
      """[{"a":0.5}]""")
    // (round: the covar/stddev composition is ~1-ulp off the fused
    // two-pass corr on perfectly-correlated pairs)
    one("SELECT round(corr(y,x),6) AS a FROM (VALUES (1.0,2.0),(2.0,3.0)) t(x,y)",
      """[{"a":1.0}]""")
    // atan2 preserves -0.0 (Spark's builtin normalizes it to +0.0)
    one("SELECT round(atan2(0.0/-0.75, -1.0),6) AS a, round(atan2(0.0, -1.0),6) AS b",
      """[{"a":-3.141593,"b":3.141593}]""")
    // the sample moments + corr also work OVER windows: skew/kurt via
    // arithmetic over several window aggregates sharing the spec,
    // corr via the nullOnDivideByZero-guarded single aggregate
    one("SELECT rn, round(skewness(x) OVER w,6) AS s, round(kurtosis(x) OVER w,6) AS k, " +
      "round(corr(y, x) OVER w,6) AS c " +
      "FROM (VALUES (1,1.0,1.0),(2,2.0,3.0),(3,4.0,2.0),(4,9.0,5.0)) t(rn,x,y) " +
      "WINDOW w AS (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY rn",
      """[{"rn":1,"s":null,"k":null,"c":null},{"rn":2,"s":null,"k":null,"c":1.0},""" +
        """{"rn":3,"s":0.93522,"k":null,"c":0.327327},""" +
        """{"rn":4,"s":1.330938,"k":1.5,"c":0.877454}]""")
    // date_part's yearweek field = ISO year * 100 + ISO week (fuzz v6)
    one("SELECT date_part('yearweek', DATE '1999-12-31') AS a, " +
      "date_part('yearweek', DATE '2024-02-29') AS b",
      """[{"a":199952,"b":202409}]""")
    // date_diff('week', …) counts DuckDB's truncating epoch-relative
    // week indexes, not plain Monday crossings: the two Monday-weeks
    // straddling the (Thursday) epoch share index 0, so every
    // epoch-spanning pair reads one less (fuzz v6)
    one("SELECT date_diff('week', DATE '1969-12-29', DATE '1970-01-05') AS a, " +
      "date_diff('week', DATE '1969-12-28', DATE '1970-01-01') AS b, " +
      "date_diff('week', DATE '2024-02-29', DATE '1970-01-01') AS c, " +
      "date_diff('week', DATE '2024-02-26', DATE '2024-03-04') AS d, " +
      "date_diff('week', DATE '2024-02-26', DATE '2024-02-29') AS e",
      """[{"a":0,"b":1,"c":-2825,"d":1,"e":0}]""")
    // untyped-NULL propagation: DuckDB types NULL*0.0 as bare SQLNULL,
    // so the dead branch never widens coalesce's decimal scale, and
    // bitwise ops accept the untyped operand (fuzz v6/v4)
    one("SELECT CAST(coalesce(100.0, NULL * 0.0) AS VARCHAR) AS a, " +
      "(3 | abs(NULL)) AS b, xor((NULL * NULL), (7 % 3)) AS c, " +
      "((-1 % 10) | NULL) AS d",
      """[{"a":"100.0","b":null,"c":null,"d":null}]""")
    // asin/acos: NaN passes through (Spark orders NaN greater than
    // every double, so the bounds guard used to trap it); real
    // out-of-range inputs stay loud like DuckDB
    one("SELECT asin(-0.75 ^ 0.5) AS a, acos(-0.75 ^ 0.5) AS b",
      """[{"a":null,"b":null}]""")
    assert(post("SELECT asin(1.5) AS a").statusCode() >= 400)
    // a backreference beyond the pattern's group count makes RE2
    // reject the whole rewrite — DuckDB returns the input UNCHANGED
    // (Java threw INVALID_REGEXP_REPLACE at runtime)
    one("SELECT regexp_replace('xab','ab','[\\1]') AS a, " +
      "regexp_replace('12.5','\\d+','\\2\\1','g') AS b, " +
      "regexp_replace('  pad  hello world', '[a-z]+', '\\2\\1') AS c",
      """[{"a":"xab","b":"12.5","c":"  pad  hello world"}]""")
  }

  test("DuckDB spelling table: each runs, rejected ones stay loud, pinned values match") {
    T.views(spark, sf, "region", "orders", "lineitem")
    def served(sql: String) = Dialect.sqlServed(spark, Dialect.rewrite(spark, sql)).collect()
    def error(sql: String, e: Throwable) =
      s"$sql\n  -> ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"
    def firstRow(rows: Array[org.apache.spark.sql.Row]) = rows(0).toSeq.map {
      case null => "null"
      case xs: scala.collection.Seq[_] => xs.mkString("[", ",", "]")
      case x => x.toString
    }.mkString(", ")
    val csv = Seq(s"SELECT * FROM read_csv_auto('$csvPath')",
      s"SELECT * FROM read_csv('$csvPath', header = true)")
    val failed = (DialectSpellings.run ++ csv).flatMap { sql =>
      try { served(sql); None } catch { case NonFatal(e) => Some(error(sql, e)) }
    } ++ DialectSpellings.loud.flatMap { sql =>
      try { served(sql); Some(s"$sql\n  -> ran, but must raise an error") }
      catch { case NonFatal(_) => None }
    } ++ DialectSpellings.values.flatMap { case (sql, want) =>
      try {
        val rows = served(sql)
        val got = if (want.endsWith("rows")) s"${rows.length}rows" else firstRow(rows)
        if (got == want) None else Some(s"$sql\n  -> $got, want $want")
      } catch { case NonFatal(e) => Some(error(sql, e)) }
    }
    assert(failed.isEmpty, s"${failed.size} spellings failed:\n${failed.mkString("\n")}")
  }
}
