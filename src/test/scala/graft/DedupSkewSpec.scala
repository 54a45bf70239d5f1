package graft

import graft.queries.DedupQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-bucket caps in the dedup candidate generators (VERDICT r3 #1).
  *
  * A self-join key shared by m rows emits m²/2 pairs inside one shuffle
  * partition; at 100 TB a stop-phrase shingle or a degenerate LSH band
  * bucket is a quadratic explosion. These tests plant exactly those
  * corpora and assert candidate volume stays linear once the
  * `spark.graft.dedup.*` document-frequency / bucket-size ceilings are
  * active — and that the explosion IS there when the cap is lifted, so
  * the cap (not something else) is what removed it.
  */
class DedupSkewSpec extends AnyFunSuite {

  // dedicated session: SQLConf is session-scoped, so cap-knob mutations
  // here can never race other suites sharing TestSpark.spark
  private def freshSession() = GraftSession.tune(TestSpark.spark.newSession())

  /** 1.2k docs, each "u{i}a u{i}b the common tail": two unique shingles
    * per doc plus ONE stop-shingle shared by every doc (DF = 1200).
    */
  private lazy val stopShingleDir: String = {
    val spark = TestSpark.spark
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stop_shingle").toString
    (0 until 1200)
      .map(i => (i.toLong, s"u${i}a u${i}b the common tail", "en", "src0", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** 200 byte-identical docs: every LSH band bucket and every SimHash
    * chunk bucket has size 200.
    */
  private lazy val identicalDir: String = {
    val spark = TestSpark.spark
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_identical_docs").toString
    (0 until 200)
      .map(i => (i.toLong, "same boilerplate text repeated verbatim here", "en", "src0", 44L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("stop-shingle (DF 1200 > default 1000) is dropped; candidates stay linear") {
    val s = freshSession()
    val capped = DedupQueries.cappedShingles(s, stopShingleDir)
    assert(capped.filter(col("sh") === "the common tail").count() == 0L)
    // the two per-doc-unique shingles survive
    assert(capped.count() == 2400L)
    // candidate self-join on the capped relation: all DF=1 → ZERO pairs
    // (uncapped it would be C(1200,2) = 719,400 inside one shuffle key)
    val cand = capped.as("a").join(capped.as("b"),
      col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
    assert(cand.count() == 0L)
    assert(DedupQueries.jaccardPairs(s, stopShingleDir).count() == 0L)
  }

  test("lifting the shingle cap restores the quadratic pair space (cap is load-bearing)") {
    val s = freshSession()
    s.conf.set("spark.graft.dedup.maxShingleDf", "10000")
    val sh = DedupQueries.cappedShingles(s, stopShingleDir)
    assert(sh.count() == 3600L) // stop-shingle rows are back
    val cand = sh.as("a").join(sh.as("b"),
      col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
    assert(cand.count() == 1200L * 1199L / 2L)
  }

  test("degenerate LSH band buckets are capped; candidates reappear when cap lifted") {
    val s = freshSession()
    s.conf.set("spark.graft.dedup.maxBandBucket", "50")
    assert(DedupQueries.lshCandidates(s, identicalDir).count() == 0L)
    val s2 = freshSession() // default cap 1000 > 200 → buckets survive
    assert(DedupQueries.lshCandidates(s2, identicalDir).count() == 200L * 199L / 2L)
  }

  test("degenerate SimHash chunk buckets are capped; candidates reappear when cap lifted") {
    val s = freshSession()
    s.conf.set("spark.graft.dedup.maxChunkBucket", "50")
    assert(DedupQueries.simhashCandidates(s, identicalDir).count() == 0L)
    val s2 = freshSession()
    val cand = DedupQueries.simhashCandidates(s2, identicalDir)
    assert(cand.count() == 200L * 199L / 2L)
    // identical docs → identical simhash → Hamming 0 everywhere
    assert(cand.filter(col("hamming") =!= 0).count() == 0L)
  }

  test("pair-graph memoization: one materialization per session, rebuild after release") {
    val s = freshSession()
    val dir = TestSpark.sf
    // the memo hands back the SAME frame object — consumers share one
    // materialization instead of re-running the candidate self-join
    val p1 = DedupQueries.pairIntersections(s, dir)
    val p2 = DedupQueries.pairIntersections(s, dir)
    assert(p1 eq p2)
    val l1 = DedupQueries.clusterLabels(s, dir)
    assert(l1 eq DedupQueries.clusterLabels(s, dir))
    val before = DedupQueries.jaccardPairs(s, dir)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    assert(before.nonEmpty)
    // release drops the memo AND the cached blocks; a fresh call must
    // rebuild a new frame with identical content (lifecycle safety:
    // release can never leave a consumer reading a stale/unpersisted
    // memoized plan)
    Retained.release(s)
    val p3 = DedupQueries.pairIntersections(s, dir)
    assert(!(p1 eq p3))
    val after = DedupQueries.jaccardPairs(s, dir)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    assert(before == after)
  }
}
