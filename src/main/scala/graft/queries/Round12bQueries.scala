package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-12b batch — corpus-growth and ranking-agreement analytics
  * (reference scope: fb64/uquery-rs exposes arbitrary SQL over corpus
  * tables, src/core/duckdb.rs:87; these are the curation programs a
  * training-data team runs on that surface).
  *
  *   - n_heaps_law — the vocabulary-growth power-law fit V(N) = K·N^β
  *     over doubling ingestion checkpoints: the capacity-planning read
  *     (how fast does the token vocabulary grow as the crawl doubles?)
  *     and the companion to n_zipf_fit's rank-frequency exponent.
  *   - n_lm_transfer_matrix — the k×k cross-source unigram
  *     cross-entropy matrix H(eval | train): which source's language
  *     model transfers to which — the pairwise read behind DSIR/DoReMi
  *     style mixture design (those queries weight ONE target; this is
  *     the full transfer structure).
  *   - n_ndcg_eval — graded-relevance nDCG@10 for the semantic
  *     retrieval arm (exact label = grade 2, adjacent label = grade 1):
  *     the position-discounted metric n_retrieval_eval's binary
  *     P@5/MRR cannot see.
  *   - n_quality_rbo — rank-biased overlap (Webber et al. 2010)
  *     between the two quality scorers n_quality_kendall compares:
  *     tau-b weights every pair equally; RBO is top-weighted — the
  *     agreement that matters when only the TOP of the ranking
  *     survives a selection cut.
  */
object Round12bQueries extends QueryModule {

  /** Truncated-RBO depth weights p^(d-1) for p=0.9, pre-rendered to 8
    * decimals so BOTH engines consume identical literals — pow() is
    * only ~1-ulp accurate and differs between libm and the JVM, so a
    * runtime pow on either side could straddle a rounding boundary.
    */
  private val RboP = 0.9
  private val RboDepth = 50
  private lazy val rboWeights: Seq[java.math.BigDecimal] =
    (1 to RboDepth).map(d => new java.math.BigDecimal(math.pow(RboP, d - 1))
      .setScale(8, java.math.RoundingMode.HALF_UP))
  private def rboWeightValues: String =
    rboWeights.zipWithIndex.map { case (w, i) => s"(${i + 1},${w.toPlainString})" }
      .mkString(",")

  /** Whitespace token stream shared by the two corpus-statistics
    * queries (same split discipline as the LM ladder in
    * Round9bQueries).
    */
  // r15: spread the single-split doc scan so the token explode
  // parallelizes (guide §2.5)
  private def tokens(s: org.apache.spark.sql.SparkSession, dir: String) =
    T.par(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)

  override val queries: Seq[Q] = Seq(

    Q("n_heaps_law",
      "Heaps'-law vocabulary-growth fit V(N) = K*N^beta over doubling ingestion checkpoints (the capacity read before sizing a tokenizer vocab or estimating how much NEW vocabulary the next 10x of crawl brings): the vocabulary unit is the word 3-gram — the same chunk unit n_novelty_curve tracks — because the synthetic corpus's whole-word vocabulary saturates at 31 tokens in the first 25 docs (a degenerate flat curve; 3-gram types keep growing 1.4k -> 16k across sf0.01). Checkpoints double from 25 docs to the corpus max (O(log n) of them, derived from an in-DAG one-row max — never a driver-side count), cumulative vocabulary at each checkpoint counts 3-gram types by FIRST-occurrence doc (one gram-keyed min aggregate — the type-sized relation, not the corpus), cumulative volume by per-doc gram counts, and the log-log OLS fit runs on exact-decimal sums of 8-rounded operands so both engines reduce identical rationals; beta/ln_k get a +0.0 normalization so a degenerate zero slope cannot render -0.0 on one engine. Scale shape: two linear aggregates + an O(log n)-row broadcast inequality join; the fit reduces the checkpoint relation, never the corpus.",
      (s, dir) => {
        // r15: spread the single-split doc scan (guide §2.5)
        val tok = Retained(
          T.par(s, dir, "documents")
            .select(col("doc_id"),
              filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
            .select(col("doc_id"),
              slice(col("ws"), lit(1), size(col("ws")) - 2).as("a1"),
              slice(col("ws"), lit(2), size(col("ws")) - 2).as("a2"),
              slice(col("ws"), lit(3), size(col("ws")) - 2).as("a3"))
            .select(col("doc_id"),
              explode(arrays_zip(col("a1"), col("a2"), col("a3"))).as("p"))
            .select(col("doc_id"),
              concat_ws(" ", col("p.a1"), col("p.a2"), col("p.a3")).as("w")))
        val firsts = tok.groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
        val perdoc = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("ntok"))
        // r15 session 2: the O(log n) thresholds are a model (≤ a dozen
        // longs) — collect them once, then replace BOTH row-multiplying
        // inequality joins (type-relation × thresholds, doc-relation ×
        // thresholds) with a codegen CASE bucket (smallest threshold ≥
        // the key) + a driver-side cumulative sum over the ≤12 bucket
        // rows: count(fd <= t) ≡ Σ_{bucket b <= t} count(bucket = b)
        // exactly, because the buckets partition [1, max(doc_id)]. The
        // two bucket aggregates are independent jobs submitted
        // concurrently (guide §2.6); the 10-row OLS fit runs driver-side
        // with the same exact-decimal arithmetic (HALF_UP roundings,
        // BigDecimal sums, identical double ops, +0.0 normalization).
        val thrVals = T(s, dir, "documents")
          .agg(max(col("doc_id")).as("mx"))
          .select(col("mx"), explode(sequence(lit(0),
            (floor(log2(col("mx") / lit(25.0))) + 1).cast("int"))).as("i"))
          .select(expr("least(25L * shiftleft(1L, i), mx)").as("t"))
          .distinct().collect().map(_.getLong(0)).sorted
        def bucketOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          thrVals.init.foldRight(lit(thrVals.last): org.apache.spark.sql.Column)(
            (t, acc) => when(c <= t, lit(t)).otherwise(acc))
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val vtF = Future(firsts.groupBy(bucketOf(col("fd")).as("t"))
          .agg(count(lit(1)).as("c")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)
        val ntF = Future(perdoc.groupBy(bucketOf(col("doc_id")).as("t"))
          .agg(sum(col("ntok")).as("s")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)
        val vtB = Await.result(vtF, Duration.Inf)
        val ntB = Await.result(ntF, Duration.Inf)
        def r(x: Double, sc: Int): Double = java.math.BigDecimal.valueOf(x)
          .setScale(sc, java.math.RoundingMode.HALF_UP).doubleValue()
        var (cumT, cumN) = (0L, 0L)
        val curve = thrVals.map { t =>
          cumT += vtB.getOrElse(t, 0L); cumN += ntB.getOrElse(t, 0L)
          (t, cumN, cumT, r(math.log(cumN.toDouble), 8),
            r(math.log(cumT.toDouble), 8))
        }
        def dsum(xs: Iterable[Double], sc: Int): Double =
          xs.map(java.math.BigDecimal.valueOf(_)
              .setScale(sc, java.math.RoundingMode.HALF_UP))
            .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue()
        val n = curve.length.toDouble
        val sx = dsum(curve.map(_._4), 8)
        val sy = dsum(curve.map(_._5), 8)
        val sxy = dsum(curve.map(c => r(c._4 * c._5, 10)), 10)
        val sxx = dsum(curve.map(c => r(c._4 * c._4, 10)), 10)
        val slopeRaw = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        val beta = r(slopeRaw, 6) + 0.0
        val lnK = r((sy - slopeRaw * sx) / n, 6) + 0.0
        import s.implicits._
        curve.toSeq.map { case (t, ng, nty, _, _) => (t, ng, nty, beta, lnK) }
          .toDF("doc_cap", "n_grams", "n_types", "beta", "ln_k")
          .orderBy(col("doc_cap").asc_nulls_last)
      },
      Some("""WITH t3 AS (SELECT doc_id,
            list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws FROM documents),
        tok AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS w FROM (
            SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM t3) z),
        firsts AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
        perdoc AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
        mx AS (SELECT max(doc_id) AS mx FROM documents),
        thr AS (SELECT DISTINCT least(25 * (1 << i), mx) AS t FROM (
            SELECT mx, unnest(generate_series(0, CAST(floor(log2(mx / 25.0)) AS INT) + 1)) AS i
            FROM mx) z),
        vt AS (SELECT t, count(*) AS n_types FROM firsts JOIN thr ON fd <= t GROUP BY t),
        nt AS (SELECT t, CAST(sum(ntok) AS BIGINT) AS n_grams
               FROM perdoc JOIN thr ON doc_id <= t GROUP BY t),
        curve AS (SELECT nt.t AS doc_cap, n_grams, n_types,
            round(ln(CAST(n_grams AS DOUBLE)), 8) AS x,
            round(ln(CAST(n_types AS DOUBLE)), 8) AS y
          FROM nt JOIN vt ON nt.t = vt.t),
        f AS (SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(CAST(x AS DECIMAL(20,8))) AS DOUBLE) AS sx,
            CAST(sum(CAST(y AS DECIMAL(20,8))) AS DOUBLE) AS sy,
            CAST(sum(CAST(round(x * y, 10) AS DECIMAL(24,10))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(round(x * x, 10) AS DECIMAL(24,10))) AS DOUBLE) AS sxx
          FROM curve),
        f2 AS (SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw, n, sx, sy FROM f)
        SELECT doc_cap, n_grams, n_types,
          round(slope_raw, 6) + 0.0 AS beta,
          round((sy - slope_raw * sx) / n, 6) + 0.0 AS ln_k
        FROM curve CROSS JOIN f2
        ORDER BY doc_cap ASC NULLS LAST""")),

    Q("n_lm_transfer_matrix",
      "Cross-source language-model transfer matrix (the full pairwise structure behind DSIR/DoReMi mixture design, which weight only ONE target): per source an add-1-smoothed unigram LM over the shared corpus vocabulary, H(eval|train) = ln(N_train + V) - sum_w c_eval(w)*ln(c_train(w)+1) / N_eval — the OOV terms vanish algebraically (ln(0+1)=0), so the whole matrix reduces over the INNER token join; transfer_gap = H(eval|train) - H(eval|eval) is the price of training on the wrong source. Scale shape: one (source, token) count relation reused three ways, a token-keyed self-join whose amplification is #sources (k=20 here, never corpus-quadratic), and a broadcast k*k skeleton so source pairs sharing no vocabulary still surface.",
      (s, dir) => {
        val cnt = Retained(tokens(s, dir)
          .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))
        val totals = cnt.groupBy(col("source")).agg(sum(col("c")).as("nt"))
        // r15: the shared vocabulary size is derivable from the retained
        // (source, token) counts (distinct w across sources) — replaces
        // a second full corpus token explode with an aggregate over the
        // cache
        val vocab = cnt.agg(countDistinct(col("w")).cast("double").as("v"))
        val inner = cnt
          .select(col("source").as("train_source"), col("w"), col("c").as("ca"))
          .join(cnt.select(col("source").as("eval_source"), col("w"),
            col("c").as("cb")), Seq("w"))
          .withColumn("term", round(col("cb") * log(col("ca") + lit(1.0)), 8))
          .groupBy(col("train_source"), col("eval_source"))
          .agg(sum(col("term").cast(DecimalType(24, 8))).cast("double").as("sterm"))
        // r15: the k×k matrix assembly (cross skeleton, left-join of the
        // inner sums, diagonal self-entropy, gap) runs DRIVER-SIDE on
        // the collected k-row totals / k²-row inner / 1-row vocab
        // models (the parameter-server precedent) — was a crossJoin +
        // left join + diagonal self-join + sort over ≤400 rows across
        // ~5 tiny jobs. The corpus-scan parts (retained (source, token)
        // counts, the token-keyed self-join aggregate) stay distributed;
        // the three model collects are independent jobs submitted
        // concurrently (guide §2.6). Arithmetic reproduces the
        // relational form op-for-op: ce = round(ln(na + v) -
        // coalesce(sterm, 0)/nb, 6) on the same doubles, gap =
        // round(ce - ce_self, 6), HALF_UP rounding.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val innerF = Future(inner.collect()
          .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap)
        val totalsF = Future(totals.collect()
          .map(r => r.getString(0) -> r.getLong(1)))
        val vocabF = Future(vocab.collect().head.getDouble(0))
        val sterm = Await.result(innerF, Duration.Inf)
        val tot = Await.result(totalsF, Duration.Inf)
        val v = Await.result(vocabF, Duration.Inf)
        def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        def ce(tr: String, na: Long, ev: String, nb: Long): Double =
          r6(math.log(na.toDouble + v)
            - sterm.getOrElse((tr, ev), 0.0) / nb.toDouble)
        val rows = for ((tr, na) <- tot; (ev, nb) <- tot) yield
          (tr, ev, nb, ce(tr, na, ev, nb),
            r6(ce(tr, na, ev, nb) - ce(ev, nb, ev, nb)))
        import s.implicits._
        rows.toSeq
          .toDF("train_source", "eval_source", "n_tokens_eval",
            "cross_entropy", "transfer_gap")
          .orderBy(col("train_source").asc_nulls_last,
            col("eval_source").asc_nulls_last)
      },
      Some("""WITH tok AS (SELECT doc_id, source, w FROM (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents) z
          WHERE len(w) > 0),
        cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
        totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS nt FROM cnt GROUP BY source),
        vocab AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM tok),
        inner_j AS (SELECT a.source AS train_source, b.source AS eval_source,
            CAST(sum(CAST(round(b.c * ln(a.c + 1.0), 8) AS DECIMAL(24,8))) AS DOUBLE) AS sterm
          FROM cnt a JOIN cnt b ON a.w = b.w
          GROUP BY a.source, b.source),
        skel AS (SELECT ta.source AS train_source, ta.nt AS na,
            tb.source AS eval_source, tb.nt AS nb
          FROM totals ta CROSS JOIN totals tb),
        h AS (SELECT skel.train_source, skel.eval_source, skel.nb,
            round(ln(CAST(skel.na AS DOUBLE) + v)
              - coalesce(sterm, 0.0) / CAST(skel.nb AS DOUBLE), 6) AS cross_entropy
          FROM skel LEFT JOIN inner_j
            ON skel.train_source = inner_j.train_source
           AND skel.eval_source = inner_j.eval_source
          CROSS JOIN vocab),
        diag AS (SELECT eval_source, cross_entropy AS h_self FROM h
                 WHERE train_source = eval_source)
        SELECT h.train_source, h.eval_source,
          h.nb AS n_tokens_eval, h.cross_entropy,
          round(h.cross_entropy - diag.h_self, 6) AS transfer_gap
        FROM h JOIN diag ON h.eval_source = diag.eval_source
        ORDER BY h.train_source ASC NULLS LAST, h.eval_source ASC NULLS LAST""")),

    Q("n_ndcg_eval",
      "Graded-relevance nDCG@10 for the semantic retrieval arm (the position-discounted metric n_retrieval_eval's binary P@5/MRR cannot see): 5 probes rank the corpus by exact cosine, relevance grades 2 (exact label match) / 1 (adjacent label — the near-class credit a graded judgment gives) / 0, DCG terms (2^g - 1)/log2(rank+1) as CASE literals (no runtime pow), and the ideal DCG is computed analytically from the per-probe grade counts via a 10-position explode — no second ranking pass. Scale shape: probes broadcast against the corpus (the n_cosine_topk shape), grade counts are one keyed aggregate, IDCG is 10 rows per probe.",
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        val probes = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("embedding").as("qv"))
        val graded = Retained(
          emb.join(broadcast(probes), col("vec_id") =!= col("qid"))
            .withColumn("rel", when(col("label") === col("qlabel"), 2)
              .when(abs(col("label") - col("qlabel")) === 1, 1).otherwise(0)))
        val wq = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc_nulls_last, col("vec_id").asc_nulls_last)
        val dcg = graded
          .withColumn("score",
            round(SimilarityQueries.cosine("qv", "embedding"), 6))
          .withColumn("rk", row_number().over(wq)).filter(col("rk") <= 10)
          .withColumn("g", round(
            when(col("rel") === 2, 3.0).when(col("rel") === 1, 1.0)
              .otherwise(0.0) / log2(col("rk") + lit(1.0)), 8))
          .groupBy(col("qid"))
          .agg(round(sum(col("g").cast(DecimalType(18, 8))).cast("double"), 6)
            .as("dcg"))
        val ideal = graded.groupBy(col("qid"))
          .agg(sum((col("rel") === 2).cast("long")).as("n_rel2"),
            sum((col("rel") === 1).cast("long")).as("n_rel1"))
          .select(col("qid"), col("n_rel2"), col("n_rel1"),
            explode(sequence(lit(1), lit(10))).as("i"))
          .withColumn("g", round(
            when(col("i") <= col("n_rel2"), 3.0)
              .when(col("i") <= col("n_rel2") + col("n_rel1"), 1.0)
              .otherwise(0.0) / log2(col("i") + lit(1.0)), 8))
          .groupBy(col("qid"), col("n_rel2"), col("n_rel1"))
          .agg(round(sum(col("g").cast(DecimalType(18, 8))).cast("double"), 6)
            .as("idcg"))
        dcg.join(ideal, Seq("qid"))
          .select(col("qid").as("vec_id"), col("n_rel2"), col("n_rel1"),
            col("dcg"), col("idcg"),
            round(col("dcg") / col("idcg"), 6).as("ndcg"))
          .orderBy(col("vec_id").asc_nulls_last)
      },
      Some(s"""WITH pr AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
              FROM embeddings WHERE vec_id < 5),
        graded AS (SELECT pr.qid, pr.qlabel, e.vec_id, e.embedding, pr.qv,
            CASE WHEN e.label = pr.qlabel THEN 2
                 WHEN abs(e.label - pr.qlabel) = 1 THEN 1 ELSE 0 END AS rel
          FROM embeddings e CROSS JOIN pr WHERE e.vec_id <> pr.qid),
        ranked AS (SELECT qid, rel,
            row_number() OVER (PARTITION BY qid ORDER BY
              round(list_sum(list_transform(list_zip(qv, embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
              DESC NULLS LAST, vec_id ASC NULLS LAST) AS rk
          FROM graded),
        dcg AS (SELECT qid,
            round(CAST(sum(CAST(round(
              (CASE WHEN rel = 2 THEN 3.0 WHEN rel = 1 THEN 1.0 ELSE 0.0 END)
                / log2(rk + 1.0), 8) AS DECIMAL(18,8))) AS DOUBLE), 6) AS dcg
          FROM ranked WHERE rk <= 10 GROUP BY qid),
        cnts AS (SELECT qid,
            CAST(sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel2,
            CAST(sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel1
          FROM graded GROUP BY qid),
        ideal AS (SELECT qid, n_rel2, n_rel1,
            round(CAST(sum(CAST(round(
              (CASE WHEN i <= n_rel2 THEN 3.0
                    WHEN i <= n_rel2 + n_rel1 THEN 1.0 ELSE 0.0 END)
                / log2(i + 1.0), 8) AS DECIMAL(18,8))) AS DOUBLE), 6) AS idcg
          FROM (SELECT qid, n_rel2, n_rel1,
                  unnest(generate_series(1, 10)) AS i FROM cnts) z
          GROUP BY qid, n_rel2, n_rel1)
        SELECT dcg.qid AS vec_id, ideal.n_rel2, ideal.n_rel1,
          dcg.dcg, ideal.idcg, round(dcg.dcg / ideal.idcg, 6) AS ndcg
        FROM dcg JOIN ideal ON dcg.qid = ideal.qid
        ORDER BY vec_id ASC NULLS LAST""")),

    Q("n_quality_rbo",
      s"Rank-biased overlap (Webber et al. 2010, p=$RboP, truncated at depth $RboDepth) between the SAME two quality scorers n_quality_kendall compares (mean word length vs type-token ratio): tau-b weights every pair equally, RBO is top-weighted — the agreement that matters when only the top of the ranking survives a selection cut. Each doc's intersection entry depth is max(rank_A, rank_B), the depth-d overlap counts docs with entry <= d, and the geometric weights p^(d-1) are pre-rendered 8-decimal literals consumed identically by both engines (runtime pow is ~1-ulp engine-dependent). Scale shape: rankings over the bounded evaluation slice (the n_quality_kendall contract — at corpus scale a fixed-size sample), a constant-depth ($RboDepth-row) weight relation, and the overlap join touches only docs whose BOTH ranks are <= $RboDepth.",
      (s, dir) => {
        val scored = T(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
          .select(col("doc_id"),
            round(expr("aggregate(ws, 0L, (a, w) -> a + length(w))")
              .cast("double") / size(col("ws")), 6).as("s1"),
            round(size(array_distinct(col("ws"))).cast("double")
              / size(col("ws")), 6).as("s2"))
        // bounded 300-row slice: constant-pmod window = the audited
        // single-partition convention (WarnAuditSpec)
        val wA = Window.partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("s1").desc_nulls_last, col("doc_id").asc_nulls_last)
        val wB = Window.partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("s2").desc_nulls_last, col("doc_id").asc_nulls_last)
        val entry = scored
          .withColumn("ra", row_number().over(wA))
          .withColumn("rb", row_number().over(wB))
          .withColumn("md", greatest(col("ra"), col("rb")))
          .filter(col("md") <= RboDepth)
          .select(col("md"))
        val one = scored.agg(count(lit(1)).as("n_docs"))
        val weights = typedLit(rboWeights.map(_.doubleValue))
        val terms = one
          .select(col("n_docs"), explode(sequence(lit(1), lit(RboDepth))).as("d"))
          .join(entry, col("md") <= col("d"), "left")
          .groupBy(col("n_docs"), col("d")).agg(count(col("md")).as("xd"))
          .withColumn("term", round(
            element_at(weights, col("d").cast("int")) * col("xd") / col("d"), 8))
        terms.groupBy(col("n_docs"))
          .agg(max(when(col("d") === RboDepth, col("xd"))).as("x_depth"),
            round(lit(0.1)
              * sum(col("term").cast(DecimalType(18, 8))).cast("double"), 6)
              .as("rbo"))
          .select(lit(RboDepth).as("depth"), lit(RboP).as("p"),
            col("n_docs"), col("x_depth").as("overlap_at_depth"),
            round(col("x_depth").cast("double") / RboDepth, 6)
              .as("agreement_at_depth"),
            col("rbo"))
      },
      Some(s"""WITH scored AS (SELECT doc_id,
            round(CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws), 6) AS s1,
            round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS s2
          FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
                FROM documents WHERE doc_id < 300) z),
        rk AS (SELECT doc_id,
            row_number() OVER (ORDER BY s1 DESC NULLS LAST, doc_id ASC NULLS LAST) AS ra,
            row_number() OVER (ORDER BY s2 DESC NULLS LAST, doc_id ASC NULLS LAST) AS rb
          FROM scored),
        entry AS (SELECT greatest(ra, rb) AS md FROM rk WHERE greatest(ra, rb) <= $RboDepth),
        one AS (SELECT count(*) AS n_docs FROM scored),
        wt(d, w) AS (VALUES $rboWeightValues),
        terms AS (SELECT one.n_docs, wt.d,
            CAST(count(entry.md) AS BIGINT) AS xd,
            round(CAST(wt.w AS DOUBLE) * count(entry.md) / wt.d, 8) AS term
          FROM one CROSS JOIN wt
          LEFT JOIN entry ON entry.md <= wt.d
          GROUP BY one.n_docs, wt.d, wt.w)
        SELECT $RboDepth AS depth, CAST($RboP AS DOUBLE) AS p, n_docs,
          max(CASE WHEN d = $RboDepth THEN xd END) AS overlap_at_depth,
          round(CAST(max(CASE WHEN d = $RboDepth THEN xd END) AS DOUBLE) / $RboDepth, 6)
            AS agreement_at_depth,
          round(CAST(0.1 AS DOUBLE) * CAST(sum(CAST(term AS DECIMAL(18,8))) AS DOUBLE), 6) AS rbo
        FROM terms GROUP BY n_docs""")))
}
