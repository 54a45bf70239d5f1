package graft

import graft.server.Dialect
import graft.sources.CatalogDir
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the dialect rewriter: no false positives on plain
  * SQL, idempotence on its own output, and scanner correctness.
  */
class DialectPropertySpec extends AnyFunSuite {
  import DialectPropertySpec._
  import TestSpark._

  // raw-scalacheck sampling (the scalatest bridge artifact is not a dependency)
  private def forSamples[A](gen: Gen[A], n: Int = 100)(check: A => Unit): Unit =
    (1 to n).foreach(_ => gen.sample.foreach(check))

  test("rewrite is the identity on every dialect-surface-free oracle SQL") {
    // the oracle strings are the project's own corpus of real ANSI/DuckDB
    // SQL; ones using DuckDB bracket indexing, struct literals, :=, the
    // // integer-division operator or ASOF joins OUTSIDE string literals
    // are legitimately rewritten (that IS the shim's job), every other
    // one — including ones with those tokens inside quoted literals —
    // must pass untouched (quote-mask regression coverage)
    SparkEntry.oracleSql
      .filterNot { case (_, sql) =>
        Seq("[", "{", "//", ":=", "ASOF", "BY NAME", "SIMILAR",
            // quantified comparisons are dialect surface since fuzz v4
            // (b_subquery_quantified's oracle uses native ANY/ALL)
            "ANY (", "ALL (",
            "date_diff('", "datediff('", "string_agg", "array_agg",
            "list(", "->", "::JSON",
            // DuckDB type aliases in cast positions are dialect surface
            // too (VARCHAR/TEXT → STRING etc., round-5 batch)
            "VARCHAR", "AS TEXT", "::TEXT", "BPCHAR", "TIMESTAMPTZ",
            "INT1", "INT2", "INT4", "INT8", "FLOAT4", "FLOAT8",
            "UBIGINT", "HUGEINT", "extract('",
            // integer-target casts are dialect surface since probe 13:
            // DuckDB ROUNDS where Spark truncates, so the shim rewrites
            // them through graft_int_cast (windowed FILTER and the
            // extract long tail likewise)
            "AS INT", "AS TINYINT", "AS SMALLINT", "AS BIGINT",
            "::INT", "::TINYINT", "::SMALLINT", "::BIGINT",
            "FILTER", "extract(epoch", "extract(dow", "recursive :=",
            // round-14: window-frame EXCLUDE clauses rewrite into the
            // sum/count decomposition (rewriteFrameExclude), so any
            // oracle spelling them is dialect surface now
            "EXCLUDE CURRENT ROW", "EXCLUDE GROUP", "EXCLUDE TIES",
            "EXCLUDE NO OTHERS",
            // the top-level simplified-PIVOT statement rewrites to
            // Spark's PIVOT clause (i_pivot_tail_served's oracle)
            "PIVOT ")
          .exists(Dialect.hasUnquoted(sql, _)) ||
        // backslashes inside literals are dialect surface since probe
        // 19: DuckDB literals are standard SQL (no escape processing)
        // while Spark's parser escapes, so the shim doubles them
        sql.contains("\\") }
      .foreach { case (name, sql) =>
        // probe 26 made ORDER BY itself dialect surface: DuckDB's
        // default NULL order is NULLS LAST where Spark's ASC default
        // is NULLS FIRST, so the rewriter appends an explicit NULLS
        // LAST to every unspelled key (and normalizes the key list's
        // whitespace while splicing). The identity property therefore
        // holds modulo that normalization: strip the inserted token
        // and collapse whitespace on both sides — any OTHER content
        // change still fails.
        def canon(s: String): String =
          s.replace(" NULLS LAST", "").replaceAll("\\s+", " ").trim
        assert(canon(Dialect.rewrite(spark, sql)) == canon(sql),
          s"rewrite altered oracle of $name")
      }
  }

  test("rewrite is idempotent over the ENTIRE oracle corpus") {
    // scanner-correctness safety net across 120+ real SQL texts,
    // including the bracket-using ones. Literals CONTAINING backslashes
    // are excluded: the probe-19 escape doubling treats every input as
    // fresh DuckDB text ('\d' → '\\d' → '\\\\d'), so it is a genuine
    // transformation, not a normal form — the server applies rewrite
    // exactly once per request by construction (QueryServer.runQuery).
    SparkEntry.oracleSql
      .filterNot { case (_, sql) => sql.contains("\\") }
      .foreach { case (name, sql) =>
        val once = Dialect.rewrite(spark, sql)
        assert(Dialect.rewrite(spark, once) == once, s"not idempotent on oracle of $name")
      }
  }

  test("rewrite is idempotent on dialect examples") {
    val examples = Seq(
      "SELECT * EXCLUDE (b) FROM VALUES (1, 2) t(a, b)",
      """SELECT a, row_number() OVER (ORDER BY a) AS rn FROM t QUALIFY rn = 1 ORDER BY a LIMIT 3""",
      "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v",
      "SELECT count(*) FROM t",
      // round-5 surfaces: each rewrite consumes its own trigger form
      "SELECT [x + 1 for x in [1, 2, 3]] AS a",
      "SELECT * REPLACE (b * 10 AS b) FROM VALUES (1, 2) t(a, b)",
      "SELECT min(COLUMNS(*)) FROM VALUES (1, 10) t(a, b)",
      """SELECT c.id, p.v FROM c ASOF LEFT JOIN p ON c.k = p.k AND c.t >= p.t ORDER BY c.id""",
      // round-6 surfaces: DESCRIBE QUERY output must not re-trigger,
      // and a consumed POSITIONAL JOIN leaves only a view name behind
      "DESCRIBE SELECT 1 AS x",
      "SELECT * FROM (VALUES (1)) t(x) POSITIONAL JOIN (VALUES (2)) s(y)",
      "SELECT bar(5, 0, 10, 10) AS s, age(TIMESTAMP '2024-03-05 00:00:00') AS a")
    examples.foreach { sql =>
      val once = Dialect.rewrite(spark, sql)
      assert(Dialect.rewrite(spark, once) == once, s"not idempotent: $sql")
    }
  }

  private val plainSql: Gen[String] = for {
    keyword <- Gen.oneOf("SELECT a FROM t", "SELECT x, y FROM u WHERE x > 0")
    lit <- Gen.alphaNumStr
  } yield s"$keyword AND name = '$lit'"

  test("random plain SQL with quoted literals passes through untouched") {
    forSamples(plainSql) { sql =>
      assert(Dialect.rewrite(spark, sql) == sql)
    }
  }

  test("factorial/abs operators: != and <> and quoted ! / @ never rewrite; real forms do") {
    val ident = Gen.oneOf("a", "x1", "tbl.col", "n_nationkey")
    val noRewrite = for {
      l <- ident; r <- ident
      op <- Gen.oneOf("!=", "<>") // !~~ forms legitimately rewrite (tilde ops)
    } yield s"SELECT 1 FROM t WHERE $l $op $r"
    forSamples(noRewrite) { sql =>
      assert(Dialect.rewrite(spark, sql) == sql, sql)
    }
    val quoted = for {
      s <- Gen.oneOf("a!b", "x@y.z", "wow!", "@handle", "5!", "@(7)")
    } yield s"SELECT '$s' AS v"
    forSamples(quoted) { sql =>
      assert(Dialect.rewrite(spark, sql) == sql, sql)
    }
    // real postfix/prefix forms rewrite, and the output is idempotent
    val real = for {
      n <- Gen.chooseNum(0, 12)
      id <- ident
      form <- Gen.oneOf(s"SELECT $n! AS f", s"SELECT @($id) AS a",
        s"SELECT @$id AS a", s"SELECT ($n + 1)! AS f")
    } yield form
    forSamples(real) { sql =>
      val once = Dialect.rewrite(spark, sql)
      assert(once.contains("factorial(") || once.contains("abs("), s"$sql -> $once")
      assert(Dialect.rewrite(spark, once) == once, s"not idempotent: $once")
    }
  }

  test("splitStatements: piece count tracks unquoted semicolons") {
    val stmt = Gen.oneOf("SELECT 1", "SELECT 'a;b'", "SELECT \"c;d\" FROM t")
    forSamples(Gen.nonEmptyListOf(stmt)) { stmts =>
      assert(CatalogDir.splitStatements(stmts.mkString(";")) == stmts.map(_.trim))
    }
  }

  test("keywords inside string literals never trigger the QUALIFY rewrite") {
    val sql = "SELECT 'use QUALIFY wisely' AS tip FROM t"
    assert(Dialect.rewrite(spark, sql) == sql)
  }

  private def item(depth: Int): Gen[Item] = {
    // stray closers and openers make the bracket kinds interleave
    val plain = Gen.oneOf("SELECT", "from", "Order BY", "x", "a_1", "AS", "as", "CASE",
      "END", "end", "FROMX", "_from", ",", ",", ":", "+", "=", ")", "]", "{").map(Plain(_))
    val quoted = Gen.oneOf("'it''s'", "'a, b'", "'(as'", "\"c(d\"", "`e]f`", "'{from}'",
      "\"q\"\"x\"", "''").map(Quoted(_))
    if (depth >= 3) Gen.oneOf(plain, quoted)
    else Gen.frequency(4 -> plain, 2 -> quoted,
      1 -> (for {
        k <- Gen.choose(0, 2)
        xs <- Gen.listOf(Gen.lzy(item(depth + 1)))
      } yield Group(k, xs.take(6))))
  }

  private def render(items: List[Item]): Marked = {
    val sb = new StringBuilder
    val quoted = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def put(s: String, q: Boolean): Unit = s.foreach { c => sb.append(c); quoted += q }
    def go(xs: List[Item]): Unit = xs.foreach { x =>
      if (sb.nonEmpty) put(" ", q = false)
      x match {
        case Plain(s) => put(s, q = false)
        case Quoted(s) => put(s, q = true)
        case Group(k, inner) =>
          put("([{".charAt(k).toString, q = false); go(inner); put(")]}".charAt(k).toString, q = false)
      }
    }
    go(items)
    Marked(sb.toString, quoted.toVector)
  }

  test("scanner: top-level splits re-join, keyword hits sit at depth 0, partners pair both ways") {
    val marked = for {
      items <- Gen.listOf(item(0))
      cut <- Gen.choose(0, 1000)
    } yield {
      val m = render(items.take(12))
      if (cut % 4 == 0) m.take(cut % (m.text.length + 1)) else m // a prefix leaves brackets open
    }
    def word(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    forSamples(marked, 400) { m =>
      val t = m.text
      val sc = new Dialect.Scan(t)
      assert(sc.quoted.toVector == m.quoted, t)
      for (brackets <- Seq(Dialect.Parens, Dialect.AllBrackets)) {
        // depth before each position, by counting the kinds in `brackets`
        val depth = t.indices.scanLeft(0) { (d, j) =>
          val b = brackets.indexOf(t.charAt(j))
          if (m.quoted(j) || b < 0) d else if (b % 2 == 0) d + 1 else d - 1
        }
        def top(i: Int) = !m.quoted(i) && depth(i) == 0 && !"()[]{}".contains(t.charAt(i))
        assert(sc.split(',', brackets).mkString(",") == t, t)
        assert(sc.topChars(",", brackets).toList == t.indices.filter(i => top(i) && t.charAt(i) == ','), t)
        for (kw <- Seq("FROM", "AS", "ORDER BY")) {
          val want = t.indices.filter(i => top(i) && t.regionMatches(true, i, kw, 0, kw.length) &&
            (i == 0 || !word(t.charAt(i - 1))) &&
            (i + kw.length >= t.length || !word(t.charAt(i + kw.length))))
          assert(sc.top(kw, brackets).toList == want, s"$kw in $t")
        }
      }
      // a bracket's partner: where counting its own kind alone, from
      // the bracket towards its partner, first returns to zero
      def counted(i: Int): Int = {
        val k = "()[]{}".indexOf(t.charAt(i))
        val (open, close, step) = ("()[]{}".charAt(k & ~1), "()[]{}".charAt(k | 1), if (k % 2 == 0) 1 else -1)
        var d = 0
        var j = i
        while (j >= 0 && j < t.length) {
          if (!m.quoted(j)) {
            if (t.charAt(j) == open) d += step else if (t.charAt(j) == close) d -= step
            if (d == 0) return j
          }
          j += step
        }
        -1
      }
      t.indices.foreach { i =>
        val p = sc.partner(i)
        if (p >= 0) assert(sc.partner(p) == i, s"$i <-> $p in $t")
        if ("()[]{}".contains(t.charAt(i)) && !m.quoted(i))
          assert(p == counted(i), s"partner of $i in $t")
      }
    }
  }

  // ----- macro expander adversarial properties (round-5 brief #5) -----
  // dedicated session: the macro registry is session-scoped, so these
  // registrations can never leak into other suites
  private lazy val msess = GraftSession.tune(TestSpark.spark.newSession())
  private def rw(q: String): String = Dialect.rewrite(msess, q)
  private def eval1(q: String): Any = msess.sql(rw(q)).head().get(0)

  test("macro names that prefix other identifiers never expand") {
    rw("create or replace macro add1(x) as x + 1")
    // longer identifier sharing the prefix — untouched
    assert(rw("SELECT add1x FROM t") == "SELECT add1x FROM t")
    // dotted qualification — untouched (it's a column, not a call)
    assert(rw("SELECT t.add1 FROM t") == "SELECT t.add1 FROM t")
    // name without a call's parens — untouched
    assert(rw("SELECT add1 FROM t") == "SELECT add1 FROM t")
    // whitespace between name and parens is still a call (SQL allows it)
    assert(eval1("SELECT add1 (2) AS v") == 3)
  }

  test("call-shaped text inside quoted strings never expands") {
    rw("create or replace macro add1(x) as x + 1")
    assert(rw("SELECT 'add1(5)' AS s") == "SELECT 'add1(5)' AS s")
    assert(rw("SELECT \"add1\" FROM t") == "SELECT \"add1\" FROM t")
    // a macro BODY that returns call-shaped text: the literal must
    // survive the next expansion round unexpanded
    rw("create or replace macro selfdesc() as 'add1(9)'")
    assert(eval1("SELECT selfdesc() AS s") == "add1(9)")
  }

  test("parameters shadowing column names bind to the argument, not the column") {
    rw("create or replace macro shout(word) as upper(word)")
    // the VALUES relation also has a column named `word`: the macro
    // parameter must capture the call argument, and an unrelated column
    // mentioned in the body must stay a live column reference
    assert(eval1("SELECT shout(other) AS u FROM VALUES ('hi', 'zz') t(word, other)") == "ZZ")
    rw("create or replace macro tagit(x) as concat(x, tag)")
    assert(eval1("SELECT tagit(word) AS t2 FROM VALUES ('abc', '!') t(word, tag)") == "abc!")
  }

  test("nested macro calls in arguments expand outside-in without depth blowup") {
    rw("create or replace macro add1(x) as x + 1")
    rw("create or replace macro add2(a, b) as a + b")
    assert(eval1("SELECT add1(add1(add1(0))) AS v") == 3)
    assert(eval1("SELECT add2(add1(1), add2(1, 2)) AS v") == 5)
    // 9-deep nesting stays under the depth-10 guard; 11-deep trips it
    val deep9 = (1 to 9).foldLeft("0")((acc, _) => s"add1($acc)")
    assert(eval1(s"SELECT $deep9 AS v") == 9)
    val deep11 = (1 to 11).foldLeft("0")((acc, _) => s"add1($acc)")
    intercept[IllegalArgumentException] { rw(s"SELECT $deep11 AS v") }
  }

  private val litPair: Gen[(Int, Int)] =
    for { a <- Gen.choose(-99, 99); b <- Gen.choose(-99, 99) } yield (a, b)

  test("property: randomized int arguments always bind positionally and by name") {
    rw("create or replace macro maxsum(p, q := 7) as greatest(p, q) + least(p, q)")
    forSamples(litPair, 20) { case (a, b) =>
      assert(eval1(s"SELECT maxsum($a, $b) AS v") == a + b)
      assert(eval1(s"SELECT maxsum($a, q := $b) AS v") == a + b)
      assert(eval1(s"SELECT maxsum($a) AS v") == a + 7)
    }
  }

  test("property: macro expansion is idempotent once no calls remain") {
    rw("create or replace macro add1(x) as x + 1")
    forSamples(litPair, 20) { case (a, b) =>
      val q = s"SELECT add1($a) + add1($b) AS v, 'add1($a)' AS s"
      val once = rw(q)
      assert(rw(once) == once, s"not idempotent: $q -> $once")
    }
  }
}

object DialectPropertySpec {
  /** A generated text and, per position, whether it sits inside a quoted literal. */
  final case class Marked(text: String, quoted: Vector[Boolean]) {
    def take(n: Int): Marked = Marked(text.take(n), quoted.take(n))
  }

  sealed trait Item
  final case class Plain(s: String) extends Item
  final case class Quoted(s: String) extends Item
  final case class Group(kind: Int, items: List[Item]) extends Item
}
