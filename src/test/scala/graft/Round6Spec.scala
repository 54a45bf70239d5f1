package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-6 pipeline operators on a PLANTED
  * corpus where the right answer is known by construction (the
  * CORRECTNESS gate already hash-checks them against DuckDB on the
  * fixture tables; these tests pin the MEANING).
  */
class Round6Spec extends AnyFunSuite {

  /** 20 docs of common-word prose, 1 doc of unique gibberish, and a
    * near-dup cluster {50, 51, 52} where doc 51 is the LONGEST copy.
    */
  private lazy val dir: String = {
    val spark = TestSpark.spark
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_round6").toString
    val sentence = "the cat sat on the mat and the dog sat on the rug"
    val prose = s"$sentence $sentence $sentence" // 149 chars, 36 tokens: passes the gate
    val common = (0 until 20).map { i =>
      (i.toLong, prose, "en", if (i < 10) "src0" else "src1", prose.length.toLong)
    }
    val gibberish = Seq((40L, "zqx wvu tkj plm nbo qrs dfg hjk lzc xcv bnm asd", "en", "src1", 47L))
    val cluster = Seq(
      (50L, "alpha beta gamma delta epsilon zeta eta theta", "en", "src1", 45L),
      (51L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "src1", 56L),
      (52L, "alpha beta gamma delta epsilon zeta eta theta", "en", "src1", 45L))
    (common ++ gibberish ++ cluster)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def fresh() = GraftSession.tune(TestSpark.spark.newSession())

  test("unigram LM scores common prose below gibberish") {
    val s = fresh()
    val rows = SparkEntry.queries("n_quality_unigram_lm")(s, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val prose = rows(0L)
    val junk = rows(40L)
    assert(prose < junk,
      s"common prose ($prose bits/token) must score below unique gibberish ($junk)")
    Retained.release(s)
  }

  test("DSIR importance is positive for target-domain docs, negative for the rest") {
    val s = fresh()
    val rows = SparkEntry.queries("n_dsir_importance")(s, dir)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getDouble(3))).toMap
    // docs 0-9 are src0 (the target). Importance is a property of the
    // TEXT (which LM likes it better), so the identical doc 10 in src1
    // scores EXACTLY the same — and gibberish whose words exist only
    // in the raw side is negative
    assert(rows(0L)._1 && rows(0L)._2 > 0, s"target doc should be positive: ${rows(0L)}")
    assert(!rows(10L)._1 && rows(10L)._2 == rows(0L)._2)
    assert(rows(40L)._2 < 0, s"raw-only gibberish must be negative: ${rows(40L)}")
    Retained.release(s)
  }

  test("keep-best survivorship keeps the longest cluster member, not the min id") {
    val s = fresh()
    val rows = SparkEntry.queries("n_dedup_keep_best")(s, dir).collect()
    val cluster = rows.find(_.getLong(0) == 50L)
    assert(cluster.isDefined, s"expected a cluster labeled 50, got ${rows.mkString(";")}")
    // kept_doc = 51 (longest), NOT 50 (min id); 3 members
    assert(cluster.get.getLong(1) == 51L, s"kept ${cluster.get}")
    assert(cluster.get.getLong(3) == 3L)
    Retained.release(s)
  }

  test("e2e prep funnel conserves documents across stages") {
    val s = fresh()
    val r = SparkEntry.queries("n_e2e_prep_pipeline")(s, dir).collect()
    val en = r.find(_.getString(0) == "en").get
    val docsIn = en.getLong(1); val quality = en.getLong(2)
    val unique = en.getLong(3); val dropped = en.getLong(4)
    assert(docsIn == 24L)
    // 20 identical prose docs pass the gate; gibberish + cluster are
    // too short → quality = 20, dedup collapses them to ONE survivor
    assert(quality == 20L, s"quality $quality")
    assert(unique == 1L && dropped == 19L, s"unique $unique dropped $dropped")
    // dedup conserves: unique survivors + dropped copies = quality-passing docs
    assert(unique + dropped == quality)
    Retained.release(s)
  }
}
