package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 sketch operators: the algorithmic guarantees beyond the
  * DuckDB hash check.
  *
  *   - Bloom: NO false negatives ever (every member hits 4/4 bits);
  *     the measured false-positive rate stays within sampling noise of
  *     the (1-e^(-kn/m))^k bound; the filter itself is exactly the
  *     64-lane bounded-state relation the scale story claims.
  *   - CMS: est >= true for every queried token (the one-sided
  *     guarantee that makes CMS usable as a pre-filter), and the
  *     sketch never holds more than d*w cells.
  *   - KMV: a non-full sketch returns the EXACT distinct count
  *     (the k>n regime at sf0.001); the estimate is within the
  *     textbook error envelope when full.
  */
class Round10Spec extends AnyFunSuite {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("n_bloom_filter: zero false negatives, fp rate near bound, 2 summary rows") {
    val rows = q("n_bloom_filter").collect()
    assert(rows.length == 2)
    val bySide = rows.map(r => r.getString(0) -> r).toMap
    val member = bySide("member")
    // the Bloom guarantee: every inserted key reports present
    assert(member.getLong(1) == member.getLong(2),
      "a member probe missed — Bloom filters cannot have false negatives")
    assert(member.getDouble(3) == 1.0)
    val non = bySide("non_member")
    // fp measured vs theoretical: with n~250, m=4032, k=4 the bound is
    // ~0.23%; allow generous sampling noise on 250 probes (binomial)
    assert(non.getDouble(3) <= 0.05,
      s"false-positive rate ${non.getDouble(3)} implausibly high")
    assert(non.getDouble(4) > 0.0 && non.getDouble(4) < 0.01)
  }

  test("n_bloom_filter: the filter relation is bounded state (<= 64 lanes)") {
    // rebuild the filter exactly as the query does and pin its size —
    // the broadcastable-state claim, asserted rather than narrated
    val d = T(spark, sf, "documents")
      .select(md5(col("text")).as("dg"), (col("doc_id") % 2).as("par"))
      .filter(col("par") === 0)
      .select(col("dg"), explode(array((0 until 4).map(lit): _*)).as("i"))
      .withColumn("h",
        conv(substring(md5(concat(lit("graft-bloom-"), col("i").cast("string"),
          lit(":"), col("dg"))), 1, 13), 16, 10).cast("bigint") % 4032)
      .select(expr("h div 63").as("lane"))
      .distinct().count()
    assert(d <= 64, s"filter spilled past 64 lanes: $d")
  }

  test("n_cms_freq: one-sided error (est >= true), sketch bounded by d*w cells") {
    val rows = q("n_cms_freq").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS under-counted ${r.getString(0)}: est ${r.getLong(2)} < true ${r.getLong(1)}")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
    // true counts descend with the declared tiebreak
    val keys = rows.map(r => (-r.getLong(1), r.getString(0))).toSeq
    assert(keys == keys.sorted)
    // the sketch relation itself: at most d*w = 1024 cells
    val cells = T(spark, sf, "documents")
      .select(explode(filter(split(col("text"), " "), w => length(w) > 0)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .select(col("tok"), explode(array((0 until 4).map(lit): _*)).as("i"))
      .withColumn("c",
        conv(substring(md5(concat(lit("graft-cms-"), col("i").cast("string"),
          lit(":"), col("tok"))), 1, 13), 16, 10).cast("bigint") % 256)
      .select("i", "c").distinct().count()
    assert(cells <= 1024, s"CMS spilled past 1024 cells: $cells")
  }

  test("n_kmv_distinct: exact when the sketch is not full; error bounded when it is") {
    val rows = q("n_kmv_distinct").collect()
    assert(rows.length == 1)
    val r = rows.head
    val trueD = r.getLong(1)
    if (trueD < 64) {
      // sf0.001 regime: 15 distinct users < k — KMV must be exact
      assert(r.getDouble(2) == trueD.toDouble, s"non-full sketch must be exact: $r")
      assert(r.getDouble(3) == 0.0)
    } else {
      // full-sketch regime: ~1/sqrt(k-1) expected, allow 4 sigma
      assert(r.getDouble(3) <= 0.5, s"KMV error implausible: $r")
    }
  }

  test("n_kmv_distinct: estimate reacts to cardinality (sf0.01 full-sketch regime)") {
    val rows = SparkEntry.queries("n_kmv_distinct")(spark, "/root/testdata/sf0.01").collect()
    val r = rows.head
    assert(r.getLong(1) > 64, "sf0.01 must exercise the full-sketch branch")
    assert(r.getDouble(3) <= 0.5, s"KMV full-sketch error implausible: $r")
    assert(r.getDouble(2) > 32.0 && r.getDouble(2) < 4 * r.getLong(1))
  }

  test("n_winnowing: the winnowing guarantee — every pair sharing a 7-token run shares a fingerprint") {
    // w=4 windows over k=4 grams: any shared run of >= w+k-1 = 7 tokens
    // must contribute at least one common fingerprint (Schleimer et al.
    // Theorem 1). Build the ground-truth 7-gram-sharing pairs and check
    // each against the fingerprint pair relation.
    val docs = T(spark, sf, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > 0).as("w"))
    val g7 = docs
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 6)).as("p"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until 7).map(k => element_at(col("w"), col("p") + k)): _*)
          .as("run"))
      .distinct()
    val truth = g7.as("x").join(g7.as("y"),
        col("x.run") === col("y.run") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db")).distinct()
    val fp = graft.queries.Round10Queries.winnowFingerprints(spark, sf)
    val fpPairs = fp.as("a").join(fp.as("b"),
        col("a.fph") === col("b.fph") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
    val truthN = truth.count()
    assert(truthN > 0, "fixture must contain at least one shared 7-token run")
    val missed = truth.join(fpPairs, Seq("da", "db"), "left_anti").count()
    assert(missed == 0,
      s"$missed of $truthN pairs with a shared 7-token run have no shared fingerprint")
  }

  test("n_winnowing: output shape — overlap in (0,1], shared bounded by min fingerprint count") {
    val rows = q("n_winnowing").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val (shared, nfpA, nfpB, ov) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(shared >= 1 && shared <= math.min(nfpA, nfpB))
      assert(ov > 0.0 && ov <= 1.0)
    }
    val ovs = rows.map(_.getDouble(5)).toSeq
    assert(ovs == ovs.sorted.reverse)
  }

  test("n_sorted_neighborhood: 20 ranked candidates, sims in [0,1], neighbors only") {
    val rows = q("n_sorted_neighborhood").collect()
    assert(rows.length == 20)
    val sims = rows.map(_.getDouble(2)).toSeq
    assert(sims == sims.sorted.reverse)
    assert(sims.forall(s0 => s0 >= 0.0 && s0 <= 1.0))
    rows.foreach(r => assert(r.getLong(0) != r.getLong(1)))
    // each record emits at most w=2 pairs — every pair distinct
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.distinct.size == pairs.size)
  }

  test("n_tfidf_cosine: candidate phase prunes; exact phase matches a brute-force dot") {
    val rows = q("n_tfidf_cosine").collect()
    assert(rows.length == 10)
    val cos = rows.map(_.getDouble(2)).toSeq
    assert(cos == cos.sorted.reverse)
    assert(cos.forall(c => c > 0.0 && c <= 1.0 + 1e-9))
    assert(cos.head >= 0.9, s"fixture near-dups should score >= 0.9, got ${cos.head}")
    // exactness of phase 2: recompute the top pair's cosine from FULL
    // weight vectors, independent of the candidate path
    val (da, db) = (rows.head.getLong(0), rows.head.getLong(1))
    val w8 = graft.queries.Round10Queries.tfidfWeights(spark, sf)
    val va = w8.filter(col("doc_id") === da)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    val vb = w8.filter(col("doc_id") === db)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    def norm(v: Map[String, Double]) =
      math.sqrt(v.values.map(x => BigDecimal(x * x)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
    val dot = va.keySet.intersect(vb.keySet).toSeq
      .map(k => BigDecimal(va(k) * vb(k)).setScale(8, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    val expected = dot / (norm(va) * norm(vb))
    assert(math.abs(cos.head - expected) < 1e-5,
      s"candidate-phase cosine ${cos.head} != brute-force $expected")
  }

  test("n_embed_quantize_sq: 64 dims, error bounded by half a quantization step") {
    val rows = q("n_embed_quantize_sq").collect()
    assert(rows.length == 64)
    // recompute each dim's scale and assert max_err <= scale/2 (+ the
    // 1e-6 the pre-floor rounding can add): the SQ8 guarantee
    val ranges = T(spark, sf, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "vf")))
      .groupBy("dim")
      .agg(((max(col("vf").cast("double")) - min(col("vf").cast("double"))) / 255.0)
        .as("scale"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val (dim, meanErr, maxErr) = (r.getInt(0), r.getDouble(1), r.getDouble(2))
      val bound = ranges(dim) / 2.0 + 1e-6
      assert(maxErr <= bound, s"dim $dim: max_err $maxErr > scale/2 $bound")
      assert(meanErr >= 0.0 && meanErr <= maxErr + 1e-9)
    }
  }

  test("n_fim_split: spans partition every doc; cuts are in range") {
    val rows = q("n_fim_split").collect()
    assert(rows.length == T(spark, sf, "documents")
      .filter(size(filter(split(col("text"), " "), w => length(w) > 0)) >= 4).count())
    rows.foreach { r =>
      def l(i: Int) = r.getAs[Number](i).longValue()
      val (n, lo, hi) = (l(1), l(2), l(3))
      val (lp, lm, ls) = (l(4), l(5), l(6))
      assert(lo >= 1 && lo <= hi && hi <= n - 1, s"cuts out of range: $r")
      assert(lp + lm + ls == n, s"spans don't partition: $r")
      assert(lp >= 1 && ls >= 1, "prefix and suffix are structurally non-empty")
      assert(r.getString(7).length == 32)
    }
  }

  test("n_minhash_eval: confusion counts reconcile; the b=4/r=1 screen is recall-heavy") {
    val r = SparkEntry.queries("n_minhash_eval")(spark, "/root/testdata/sf0.01")
      .collect().head
    val (nTruth, nCand, tp) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nTruth > 0 && nCand > 0)
    assert(tp <= math.min(nTruth, nCand))
    // 1-band-of-1-row x4: P(miss) = (1-s)^4 <= 6.25% at the tau=0.5
    // threshold — the screen must be recall-heavy and precision-poor
    assert(r.getDouble(4) >= 0.8, s"screen recall ${r.getDouble(4)} implausibly low")
    assert(r.getDouble(3) <= 0.5, s"a r=1 screen cannot be precise: $r")
    // f1 consistency with the counts
    val f1 = 2.0 * tp / (nCand + nTruth)
    assert(math.abs(r.getDouble(5) - f1) < 1e-6)
  }

  test("n_ann_recall: 20 probes, recall in range, index lifts over the random baseline") {
    val rows = SparkEntry.queries("n_ann_recall")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 499)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
    val avgRecall = rows.map(_.getDouble(2)).sum / rows.length
    val avgRandom = rows.map(_.getDouble(3)).sum / rows.length
    assert(avgRecall >= 2.0 * avgRandom,
      s"ANN recall $avgRecall does not lift over random $avgRandom")
  }

  test("n_time_decay_agg: the rescaling merge law — split halves rescaled to the global as-of reproduce the full counter") {
    val ev = T(spark, sf, "events")
    val tmax = ev.agg(max(unix_micros(col("ts")))).collect().head.getLong(0)
    val h = 604800000000.0
    def decayedCount(df: org.apache.spark.sql.DataFrame, asOf: Long): Double =
      df.select(sum(pow(lit(2.0),
        -(lit(asOf) - unix_micros(col("ts"))).cast("double") / h)))
        .collect().head.getDouble(0)
    // split on user parity; each half keeps (sum, its own as-of)
    val hA = ev.filter(col("user_id") % 2 === 0)
    val hB = ev.filter(col("user_id") % 2 === 1)
    val tA = hA.agg(max(unix_micros(col("ts")))).collect().head.getLong(0)
    val tB = hB.agg(max(unix_micros(col("ts")))).collect().head.getLong(0)
    val merged = decayedCount(hA, tA) * math.pow(2.0, -(tmax - tA) / h) +
      decayedCount(hB, tB) * math.pow(2.0, -(tmax - tB) / h)
    val full = decayedCount(ev, tmax)
    assert(math.abs(merged - full) < 1e-6,
      s"rescaled merge $merged != full $full — the half-life counter must be mergeable")
    // and the query output reconciles: decayed_count <= n always
    val rows = q("n_time_decay_agg").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= r.getLong(1)))
  }

  test("m_image_dhash_dedup: every 2x re-encode is a Hamming-0 twin; no false matches") {
    val rows = q("m_image_dhash_dedup").collect()
    assert(rows.length == 120, s"expected the 120 planted twins, got ${rows.length}")
    rows.foreach { r =>
      // scale invariance: grid-aligned dims make the 2x twin exact
      assert(r.getLong(1) == r.getLong(0) + 100000L,
        s"non-twin pair leaked through the threshold: $r")
      assert(r.getAs[Number](2).longValue() == 0L,
        s"twin must hash identically: $r")
    }
  }

  test("n_ccnet_buckets: three ordered buckets, monotone perplexity, shares reconcile") {
    val rows = q("n_ccnet_buckets").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("head", "middle", "tail"))
    val byName = rows.map(r => r.getString(0) -> r).toMap
    // the whole point of the split: head is the lowest-perplexity third
    assert(byName("head").getDouble(2) < byName("middle").getDouble(2))
    assert(byName("middle").getDouble(2) < byName("tail").getDouble(2))
    val nDocs = rows.map(_.getLong(1)).sum
    assert(nDocs == T(spark, sf, "documents")
      .filter(size(filter(split(col("text"), " "), w => length(w) > 0)) >= 2).count())
    val shareSum = rows.map(_.getDouble(4)).sum
    assert(math.abs(shareSum - 1.0) < 1e-5, s"bigram shares must sum to 1: $shareSum")
  }

  test("m_audio_fingerprint: every 2x re-encode is a Hamming-0 twin; no false matches") {
    val rows = q("m_audio_fingerprint").collect()
    assert(rows.length == 100, s"expected the 100 planted twins, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 100000L,
        s"non-twin pair leaked through the threshold: $r")
      assert(r.getAs[Number](2).longValue() == 0L,
        s"re-encoded clip must fingerprint identically: $r")
    }
  }

  test("m_video_dhash: every frame-rate-doubled re-encode is a full-overlap twin") {
    val rows = q("m_video_dhash").collect()
    assert(rows.length == 80, s"expected the 80 planted twins, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1) - 100000L,
        s"non-twin pair leaked through the threshold: $r")
      assert(r.getDouble(3) == 1.0,
        s"a doubled re-encode has the identical frame-hash set: $r")
    }
  }

  test("n_silhouette: scores in [-1,1], the label clustering is better than random") {
    val rows = SparkEntry.queries("n_silhouette")(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length == 10, "one row per embedding label")
    rows.foreach { r =>
      val sil = r.getDouble(2)
      assert(sil >= -1.0 && sil <= 1.0, s"silhouette out of range: $r")
    }
    assert(rows.map(_.getLong(1)).sum == 150)
    // the fixture labels ARE a real clustering: every cluster must sit
    // on the cohesive side (positive mean silhouette)
    assert(rows.forall(_.getDouble(2) > 0.0),
      "label clusters must be closer to their own centroid than to others")
  }

  test("n_bpe_fertility: one row per language; fertility bounded by chars above and 1 below") {
    val rows = q("n_bpe_fertility").collect()
    val langs = T(spark, sf, "documents").select(col("lang")).distinct().count()
    assert(rows.length == langs)
    rows.foreach { r =>
      val fert = r.getDouble(3)
      // a BPE tokenization has at least one token per word, at most
      // one per character; 3 merges on this corpus must compress some
      assert(fert >= 1.0, s"fertility below 1 is impossible: $r")
      assert(r.getLong(2) >= r.getLong(1))
    }
  }

  test("n_distinct_ngrams: 3 rows per source, ratios in (0,1], monotone in n") {
    val rows = q("n_distinct_ngrams").collect()
    val bySource = rows.groupBy(_.getString(0))
    bySource.foreach { case (src, rs) =>
      assert(rs.length == 3, s"$src must carry n=1..3")
      val byN = rs.map(r => r.getInt(1) -> r.getDouble(4)).toMap
      assert(byN.values.forall(v => v > 0.0 && v <= 1.0))
      // longer n-grams are strictly more diverse on natural-ish text
      assert(byN(1) < byN(2) && byN(2) < byN(3), s"$src ratios not monotone: $byN")
      rs.foreach(r => assert(r.getLong(3) <= r.getLong(2)))
    }
  }

  test("n_trending: 10 ranked keys, scores descend, decay bounded by raw counts") {
    val rows = SparkEntry.queries("n_trending")(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
    rows.foreach { r =>
      // each event contributes at most 1 (decay <= 1), at least > 0
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= r.getLong(1))
    }
  }
}
