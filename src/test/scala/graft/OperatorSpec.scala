package graft

import graft.operators.{AsOfJoin, PositionalJoin}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed golden tests for the custom operators. */
class OperatorSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("AsOfJoin matches nearest at-or-before row per key") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "c"), (3L, 5L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 18L, 200.0), (2L, 99L, 300.0))
      .toDF("k", "t", "v")
    val got = AsOfJoin(left, right, "k", "t", "t", Map("v" -> "last_v"))
      .orderBy("k", "t").collect().toSeq
    // (1,10) matches the equal-ts right row (inclusive); (2,15) has none
    assert(got == Seq(
      Row(1L, 10L, "a", 100.0),
      Row(1L, 20L, "b", 200.0),
      Row(2L, 15L, "c", null),
      Row(3L, 5L, "d", null)))
  }

  test("AsOfJoin forward matches nearest at-or-after row per key") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "c"), (3L, 99L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 18L, 200.0), (2L, 5L, 300.0))
      .toDF("k", "t", "v")
    val got = AsOfJoin(left, right, "k", "t", "t", Map("v" -> "next_v"), forward = true)
      .orderBy("k", "t").collect().toSeq
    // (1,10) matches the equal-ts right row (inclusive); (1,20) has
    // nothing after it; (2,15)'s only right row is BEFORE it
    assert(got == Seq(
      Row(1L, 10L, "a", 100.0),
      Row(1L, 20L, "b", null),
      Row(2L, 15L, "c", null),
      Row(3L, 99L, "d", null)))
  }

  test("AsOfJoin: null timestamps match nothing on either side") {
    val left = Seq((1L, Some(10L), "a"), (1L, None, "b"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, Some(5L), 100.0), (1L, None, 999.0))
      .toDF("k", "t", "v")
    val got = AsOfJoin(left, right, "k", "t", "t", Map("v" -> "last_v"))
      .orderBy(col("tag")).collect().toSeq
    // null right row must never be carried; null left time matches nothing
    assert(got == Seq(Row(1L, 10L, "a", 100.0), Row(1L, null, "b", null)))
  }

  test("ngram shingles tolerate sub-3-word documents") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_short_docs").toString
    Seq((0L, "one two", "en", "src0", 7L), (1L, "a b c d e", "en", "src0", 9L),
        (2L, "a b c d e", "en", "src0", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // must not throw (ANSI array index) and must find the 1-2 dup pair
    val pairs = SparkEntry.queries("n_dedup_ngram_jaccard")(spark, tmp).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("AsOfJoin agrees with DuckDB-ASOF semantics on real events") {
    // re-derive the c_join_asof result with a per-row correlated max —
    // an independent (slow) formulation of the same semantics
    val ev = T(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click" && col("user_id") < 10)
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("pts"), col("value"))
    // at-or-before condition INSIDE the outer join so unmatched clicks
    // survive with nulls (the naive post-filter variant drops them)
    val viaJoin = clicks.join(purchases,
        col("user_id") === col("p_user") && col("pts") <= col("ts"), "left_outer")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_id"))
          .orderBy(col("pts").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("value"))
    val viaAsOf = AsOfJoin(clicks,
        purchases.withColumnRenamed("pts", "ts").withColumnRenamed("p_user", "user_id"),
        "user_id", "ts", "ts", Map("value" -> "value"))
      .select(col("user_id"), col("event_id"), col("value"))
    assert(viaAsOf.exceptAll(viaJoin).isEmpty && viaJoin.exceptAll(viaAsOf).isEmpty)
  }

  test("PositionalJoin zips by row order and pads the short side") {
    val a = Seq("x", "y", "z").toDF("a").orderBy("a")
    val b = Seq(1, 2).toDF("b").orderBy("b")
    val got = PositionalJoin(a, b).orderBy("pos").collect().toSeq
    assert(got == Seq(Row("x", 1, 0L), Row("y", 2, 1L), Row("z", null, 2L)))
  }

  test("minhash-LSH near-dup pairs are a high-recall subset of exact jaccard pairs") {
    val exact = SparkEntry.queries("n_dedup_ngram_jaccard")(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("n_dedup_minhash_lsh")(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH found non-pairs: ${lsh -- exact}")
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.8,
        s"recall ${lsh.size}/${exact.size} below 0.8")
  }

  test("ANN buckets achieve nonzero candidates and sane best_sim") {
    val rows = SparkEntry.queries("n_ann_lsh_buckets")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("bucket_candidates") > 0)
      val best = r.getAs[Double]("best_sim")
      assert(best >= -1.0 && best <= 1.0)
    }
  }

  test("IVF ANN: top-k within probed cells has high recall vs brute force") {
    val exact = SparkEntry.queries("n_cosine_topk_bruteforce")(spark, sf)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("n_ann_ivf")(spark, sf)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    // probing 4 of ~45 cells must still recover much of the true top-5
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall below 0.5 (${(ivf & exact).size}/${exact.size})")
  }

  test("media decode is REAL: javax.imageio round-trips the synthetic PNGs") {
    val feats = SparkEntry.queries("m_decode_features")(spark, sf).collect()
    assert(feats.nonEmpty)
    feats.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // decoded (not inferred) dimensions must equal the synth formula
      assert(r.getAs[Int]("width") == (8 + id % 9).toInt)
      assert(r.getAs[Int]("height") == (8 + id % 7).toInt)
      assert(r.getAs[Int]("channels") == 3)
      // per-channel means come from actual decoded pixels: recompute
      // the red mean from the pixel formula and compare exactly
      val (w, h) = ((8 + id % 9).toInt, (8 + id % 7).toInt)
      val sumR = (for (y <- 0 until h; x <- 0 until w)
        yield (id * 7 + x + y) % 256).sum
      val expMeanR = math.round(sumR.toDouble / (w * h) * 1e6) / 1e6
      assert(r.getAs[Double]("mean_r") == expMeanR)
    }
    // the decoder really parses bytes: corrupt payload must not decode
    intercept[Exception] {
      graft.operators.MediaDecode.decodeImage(Array[Byte](1, 2, 3)).getWidth
    }
  }

  test("connected components: chains collapse to min-label clusters") {
    import spark.implicits._
    // component {1..5} as a CHAIN (tests multi-step propagation),
    // component {10, 11}, singleton edges excluded by construction
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (10L, 11L))
      .toDF("u", "v")
    val labs = graft.operators.ConnectedComponents.labels(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(labs(_) == 1L))
    assert(labs(10L) == 10L && labs(11L) == 10L)
    // empty edge set (clean corpus, zero near-dup pairs) → zero
    // clusters, no crash (Σlabel over an empty frame is NULL)
    val none = graft.operators.ConnectedComponents.labels(
      Seq.empty[(Long, Long)].toDF("u", "v"))
    assert(none.count() == 0)
    Retained.release(spark)
  }

  test("media resize: 4x4 area thumbnail means stay within channel range") {
    val thumbs = SparkEntry.queries("m_resize_thumb")(spark, sf).collect()
    assert(thumbs.nonEmpty)
    thumbs.foreach { r =>
      assert(r.getAs[Int]("thumb_w") == 4 && r.getAs[Int]("thumb_h") == 4)
      val (mean, max) = (r.getAs[Double]("thumb_mean"), r.getAs[Double]("thumb_max"))
      assert(mean >= 0 && mean <= 255 && max >= mean && max <= 255)
    }
  }
}
