package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL-registry exposure of the native kernels (GraftExtensions.injectInto):
  * a SQL-only client must reach the same codegen'd expressions the
  * Column API uses.
  */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("cosine_sim and simhash64 are callable from SQL and agree with the Column API") {
    GraftExtensions.injectInto(spark)
    T(spark, sf, "embeddings").limit(50).createOrReplaceTempView("emb_ext")
    val viaSql = spark.sql(
      """SELECT vec_id, cosine_sim(embedding, embedding) AS self_sim,
                simhash64(transform(embedding, x -> xxhash64(x))) AS sig
         FROM emb_ext ORDER BY vec_id""").collect()
    val viaCol = T(spark, sf, "embeddings").limit(50)
      .select(col("vec_id"),
        graft.functions.CosineSimilarity(col("embedding"), col("embedding")).as("self_sim"),
        graft.functions.SimHash64(expr("transform(embedding, x -> xxhash64(x))")).as("sig"))
      .orderBy(col("vec_id")).collect()
    assert(viaSql.toSeq == viaCol.toSeq)
    viaSql.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9))
  }

  test("DuckDB function-name aliases resolve to the matching Spark builtins") {
    GraftExtensions.injectInto(spark)
    val r = spark.sql("""SELECT
        list_transform(array(1, 2, 3), x -> x * 10) AS lt,
        list_filter(array(1, 2, 3, 4), x -> x % 2 = 0) AS lf,
        list_sort(array(3, 1, 2)) AS ls,
        list_distinct(array(1, 1, 2)) AS ld,
        list_contains(array(1, 2), 2) AS lc,
        arg_max(k, v) AS am,
        quantile_cont(v, 0.5) AS qc,
        regexp_matches('spark engine', 'eng') AS rm,
        epoch_ms(TIMESTAMP '1970-01-01 00:00:01') AS em
      FROM VALUES ('a', 1.0), ('b', 3.0), ('c', 2.0) t(k, v)
      GROUP BY 'all'""").collect().head
    assert(r.getSeq[Int](0) == Seq(10, 20, 30))
    assert(r.getSeq[Int](1) == Seq(2, 4))
    assert(r.getSeq[Int](2) == Seq(1, 2, 3))
    assert(r.getSeq[Int](3) == Seq(1, 2))
    // DuckDB semantics: list_distinct DROPS NULL elements (Spark's
    // array_distinct would keep one — the alias composes a null filter)
    val ld = spark.sql(
      "SELECT list_distinct(array(1, NULL, 1, 2, NULL)) AS ld").collect().head
    assert(ld.getSeq[Int](0) == Seq(1, 2))
    // list_append/list_concat are real registrations with DuckDB's
    // NULL-list-as-empty semantics (see the dedicated test below),
    // not plain aliases — the basic shape works here too
    val lv = spark.sql(
      "SELECT list_value(1, 2) AS a, list_append(array(1), 2) AS b").collect().head
    assert(lv.getSeq[Int](0) == Seq(1, 2))
    assert(lv.getSeq[Int](1) == Seq(1, 2))
    assert(r.getBoolean(4))
    assert(r.getString(5) == "b")
    assert(r.getDouble(6) == 2.0)
    assert(r.getBoolean(7))
    assert(r.getLong(8) == 1000L)
  }

  test("epoch_ms dispatches on argument type like DuckDB's overloads") {
    GraftExtensions.injectInto(spark)
    val r = spark.sql("""SELECT
        epoch_ms(TIMESTAMP '1970-01-01 00:00:01') AS to_ms,
        epoch_ms(1500) AS to_ts""").collect().head
    assert(r.getLong(0) == 1000L)
    assert(r.getTimestamp(1).getTime == 1500L)
  }

  test("strftime/strptime translate C-style formats to real render/parse") {
    GraftExtensions.injectInto(spark)
    val r = spark.sql(
      "SELECT strftime(TIMESTAMP '2024-03-07 09:05:00', '%Y-%m-%d %H:%M:%S') AS a, " +
      "strftime(TIMESTAMP '2024-03-07 09:05:00', '%-d %B %Y, %I %p') AS b, " +
      "strftime(TIMESTAMP '2024-03-07 09:05:00', '100%% %a') AS c").head()
    assert(r.getString(0) == "2024-03-07 09:05:00")
    assert(r.getString(1) == "7 March 2024, 09 AM")
    assert(r.getString(2) == "100% Thu")
    val p = spark.sql(
      "SELECT strptime('07/03/2024 17:30', '%d/%m/%Y %H:%M') AS ts").head()
    assert(p.getTimestamp(0).toString == "2024-03-07 17:30:00.0")
    // unsupported directives and non-literal formats fail loudly
    intercept[Exception] {
      spark.sql("SELECT strftime(now(), '%U') AS x").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT strftime(now(), concat('%Y', x)) FROM VALUES ('%m') t(x)").collect()
    }
  }

  test("epoch family, len dispatch, and DuckDB list NULL conventions") {
    GraftExtensions.injectInto(spark)
    val e = spark.sql(
      "SELECT epoch(TIMESTAMP '2021-08-03 11:59:44.123456') AS s, " +
      "epoch_us(TIMESTAMP '2021-08-03 11:59:44.123456') AS us, " +
      "epoch_ns(TIMESTAMP '2021-08-03 11:59:44.123456') AS ns").head()
    assert(e.getDouble(0) == 1627991984.123456)   // DuckDB-verified
    assert(e.getLong(1) == 1627991984123456L)
    assert(e.getLong(2) == 1627991984123456000L)
    val l = spark.sql(
      "SELECT len('hello') AS a, len(array(1, 2, 3)) AS b").head()
    assert(l.getInt(0) == 5 && l.getInt(1) == 3)
    val rows = spark.sql(
      "SELECT list_append(CAST(NULL AS ARRAY<INT>), 3) AS a, " +
      "list_append(array(1), CAST(NULL AS INT)) AS b, " +
      "list_prepend(1, array(2, 3)) AS c, " +
      "list_prepend(1, CAST(NULL AS ARRAY<INT>)) AS d, " +
      "list_concat(array(1), CAST(NULL AS ARRAY<INT>)) AS e, " +
      "list_concat(CAST(NULL AS ARRAY<INT>), CAST(NULL AS ARRAY<INT>)) AS f, " +
      "list_concat(array(1), array(2)) AS g").head()
    assert(rows.getSeq[Any](0) == Seq(3))          // DuckDB: [3]
    assert(rows.getSeq[Any](1) == Seq(1, null))    // DuckDB: [1, NULL]
    assert(rows.getSeq[Any](2) == Seq(1, 2, 3))
    assert(rows.getSeq[Any](3) == Seq(1))          // DuckDB: [1]
    assert(rows.getSeq[Any](4) == Seq(1))          // DuckDB: [1]
    assert(rows.isNullAt(5))                       // DuckDB: NULL
    assert(rows.getSeq[Any](6) == Seq(1, 2))
  }

  test("string_split is literal-separator with DuckDB's edge behavior") {
    GraftExtensions.injectInto(spark)
    val r = spark.sql(
      "SELECT string_split('a,,b', ',') AS a, string_split('a.b', '.') AS b, " +
      "string_split('abc', 'x') AS c, string_split('ab', '') AS d, " +
      "string_split('', ',') AS e, str_split('x-y', '-') AS f, " +
      "string_to_array('1;2', ';') AS g").head()
    assert(r.getSeq[String](0) == Seq("a", "", "b"))
    assert(r.getSeq[String](1) == Seq("a", "b")) // '.' is literal, not regex
    assert(r.getSeq[String](2) == Seq("abc"))
    assert(r.getSeq[String](3) == Seq("a", "b")) // '' splits per character
    assert(r.getSeq[String](4) == Seq(""))       // DuckDB: [''] on empty input
    assert(r.getSeq[String](5) == Seq("x", "y"))
    assert(r.getSeq[String](6) == Seq("1", "2"))
  }

  test("list_aggregate family reduces with DuckDB NULL semantics") {
    GraftExtensions.injectInto(spark)
    val r = spark.sql(
      "SELECT list_aggregate(array(1, 2, 3), 'sum') AS a, " +
      "list_aggregate(array(1, NULL, 3), 'sum') AS b, " +
      "list_aggregate(CAST(array() AS ARRAY<INT>), 'sum') AS c, " +
      "list_aggregate(array(1.5, 2.5), 'avg') AS d, " +
      "list_sum(array(1, NULL)) AS e, " +
      "list_sum(CAST(NULL AS ARRAY<INT>)) AS f, " +
      "list_min(array(3, 1)) AS g, list_max(array(3, 1)) AS h, " +
      "list_aggregate(array(1, NULL), 'count') AS i, " +
      "list_aggregate(CAST(array() AS ARRAY<INT>), 'count') AS j, " +
      "list_avg(array(1, NULL, 2)) AS k").head()
    assert(r.getLong(0) == 6L)        // DuckDB: 6
    assert(r.getLong(1) == 4L)        // NULLs skipped
    assert(r.isNullAt(2))             // empty -> NULL
    assert(r.getDouble(3) == 2.0)
    assert(r.getLong(4) == 1L)
    assert(r.isNullAt(5))             // NULL list -> NULL
    assert(r.getInt(6) == 1 && r.getInt(7) == 3)
    assert(r.getInt(8) == 1)          // count skips NULL
    assert(r.getInt(9) == 0)          // count of [] -> 0
    assert(r.getDouble(10) == 1.5)
    // unsupported reducer names fail loudly
    intercept[Exception] {
      spark.sql("SELECT list_aggregate(array(1), 'median')").collect()
    }
  }
}
