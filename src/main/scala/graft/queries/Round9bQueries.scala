package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-9 additions, second batch — the retrieval / representation
  * corner of the LLM-data-pipeline surface:
  *
  *   - n_bm25_topk: lexical retrieval (Okapi BM25, the Lucene/
  *     Elasticsearch default scorer) — document statistics are
  *     token-keyed aggregates, the query's term set broadcasts, and the
  *     final ranking is a TakeOrderedAndProject. The shape that scales:
  *     nothing materializes per (doc × query-term) beyond the posting
  *     rows the score actually needs.
  *   - n_pca_power: top principal component by distributed power
  *     iteration — the O(d)-driver-state answer to the covariance
  *     route's d² bound (n_embed_covariance's documented limit): no
  *     d×d matrix ever exists; each pass is one map-side dot product
  *     and one dimension-keyed exact aggregate, with the d-vector
  *     re-entering as literals (parameter-server shape, like
  *     n_quality_logreg / n_kmeans_lloyd).
  *   - n_ann_pq: product-quantization ANN — the codebook compresses
  *     each 64-dim vector to 8 one-byte codes (32× smaller than
  *     float32), probes precompute per-subspace distance tables, and
  *     the scan is a hash join on (subspace, code) + an exact-decimal
  *     sum: no vector arithmetic per candidate. Completes the ANN
  *     family (brute force / LSH / IVF / PQ).
  *   - n_bpe_encode: apply the trained BPE merge rule
  *     (Round9Queries.trainMerges — train once, memoized) to tokenize
  *     the corpus: the merge rewrites run once per DISTINCT word over
  *     the vocab relation, and documents just sum token counts through
  *     a token-keyed join — the corpus text itself is never rewritten.
  *   - n_rand_proj: Johnson–Lindenstrauss ±1 projection with a
  *     portable md5-derived sign matrix — map-only sketching before
  *     ANN/clustering, no RNG state to ship.
  *   - n_bigram_lm: add-1-smoothed bigram LM perplexity — the model is
  *     a token-keyed aggregate relation joined back to the doc's
  *     bigram stream; it never collects to the driver.
  *
  * Reference scope: fb64/uquery-rs exposes arbitrary SQL over its
  * corpus tables (src/core/duckdb.rs:87); these queries are the
  * training-data-pipeline surface the builder prompt adds on top.
  */
object Round9bQueries extends QueryModule {

  /** Squared L2 distance between two double-array columns: a
    * left-to-right fold with double accumulation — the same
    * deterministic evaluation order DuckDB's list_sum applies, so a
    * post-fold round(…, 6) is cross-engine stable (the established
    * cosine-kernel discipline, CosineSpec).
    */
  private def l2sq(a: String, b: String): Column =
    expr(s"""aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)),
      0D, (acc, v) -> acc + v)""")

  /** Spark's round() semantics on the driver: BigDecimal.valueOf
    * (shortest decimal representation) + HALF_UP — byte-identical to
    * what round(col, n) produces in the plan, so driver-side weight
    * updates re-enter the next pass exactly as the oracle's CTE chain
    * computes them.
    */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  override val queries: Seq[Q] = Seq(
    Q("n_bm25_topk",
      "Okapi BM25 lexical retrieval (k1=1.2, b=0.75): doc-frequency and length statistics are token-keyed aggregates, the query's term set (doc 0's distinct words) broadcasts against the posting relation, per-term contributions are fixed-scale decimals summed exactly, and the ranking is a top-10 TakeOrderedAndProject.",
      (s, dir) => {
        // r15: spread the single-split doc scan so tokenize+explode
        // parallelize (guide §2.5)
        val docs = T.par(s, dir, "documents")
          .select(col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("words"))
          .withColumn("dl", size(col("words")))
        // corpus stats: one row, broadcast — avgdl's sum is an exact
        // int64, divided once in double (identical on both engines)
        val stats = docs.agg(count(lit(1)).as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        // the posting relation IS the inverted index — retained per
        // session like the dedup fixtures: build once, query many
        val tf = Retained(docs
          .select(col("doc_id"), col("dl"), explode(col("words")).as("w"))
          .groupBy(col("doc_id"), col("dl"), col("w"))
          .agg(count(lit(1)).as("tf")))
        val qterms = docs.filter(col("doc_id") === 0)
          .select(explode(col("words")).as("w")).distinct()
        // document frequency: tf is already distinct per (doc, term).
        // r15 (guide §2.3): aggregate df only for the probe terms (a
        // semi-filter on the retained posting relation) instead of the
        // full ~4M-term vocabulary — df for surviving terms is
        // unchanged (it still counts all docs).
        val dfreq = tf.join(broadcast(qterms), "w")
          .groupBy(col("w")).agg(count(lit(1)).as("df"))
        tf.join(broadcast(qterms), "w")
          .join(broadcast(dfreq), "w")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 8))
          .withColumn("contrib", round(
            col("idf") * (col("tf").cast("double") * 2.2)
              / (col("tf").cast("double")
                + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))), 8))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_terms"),
            round(sum(col("contrib").cast(DecimalType(20, 8))).cast("double"), 6).as("score"))
          .orderBy(col("score").desc_nulls_last, col("doc_id").asc_nulls_last)
          .limit(10)
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS words FROM documents),
        dl AS (SELECT doc_id, len(words) AS dl FROM d),
        st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        tf AS (SELECT t.doc_id, dl.dl, t.w, count(*) AS tf
               FROM (SELECT doc_id, unnest(words) AS w FROM d) t JOIN dl ON t.doc_id = dl.doc_id
               GROUP BY t.doc_id, dl.dl, t.w),
        dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        q AS (SELECT DISTINCT unnest(words) AS w FROM d WHERE doc_id = 0),
        sc AS (SELECT tf.doc_id,
            round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 8)
              * (CAST(tf AS DOUBLE) * 2.2)
              / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS raw
          FROM tf JOIN q ON tf.w = q.w JOIN dfq ON tf.w = dfq.w CROSS JOIN st)
        SELECT doc_id, count(*) AS n_terms,
          round(CAST(sum(CAST(round(raw, 8) AS DECIMAL(20,8))) AS DOUBLE), 6) AS score
        FROM sc GROUP BY doc_id
        ORDER BY score DESC NULLS LAST, doc_id ASC NULLS LAST LIMIT 10""")),

    Q("n_pca_power",
      "Top principal component by 2 rounds of distributed power iteration (v0 = e_0): per-row centered dot products and dimension-keyed updates are fixed-scale decimals summed order-independently (exact allreduce); the d-vector lives driver-side and re-enters each pass as literals — O(d) state, no d×d matrix ever materializes (the scale-out answer to n_embed_covariance's d² bound).",
      (s, dir) => {
        // r15: spread the single-split scan — every pass below runs
        // per-row HOF dot/center CPU straight off it (guide §2.5)
        val e = T.par(s, dir, "embeddings").select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        // centering vector: one dimension-keyed aggregate, O(d) driver
        // state; the row count rides along in the SAME pass (count per
        // dim == corpus rows) instead of a second full-scan job
        val muRows = e.select(posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("dim"))
          .agg(round(avg(col("x")), 6).as("mu"), count(lit(1)).as("n"))
          .orderBy(col("dim")).collect()
        val mu = muRows.map(_.getDouble(1))
        val d = mu.length
        val muLit = array(mu.map(lit).toSeq: _*)
        var v = Array.tabulate(d)(i => if (i == 0) 1.0d else 0.0d)
        var lambda = 0.0d
        val nRows = muRows.head.getLong(2)
        for (_ <- 1 to 2) {
          val vLit = array(v.map(lit).toSeq: _*)
          // s[dim] = Σ_rows (xc·v) * xc[dim], every term an exact decimal
          val sRows = e
            .withColumn("xc", zip_with(col("v"), muLit, (a, b) => a - b))
            .withColumn("dot", round(aggregate(
              zip_with(col("xc"), vLit, (a, b) => a * b),
              lit(0.0d), (acc, x) => acc + x), 6))
            .select(col("dot"), posexplode(col("xc")).as(Seq("dim", "x")))
            .groupBy(col("dim"))
            .agg(round(sum(round(col("dot") * col("x"), 8).cast(DecimalType(30, 8)))
              .cast("double"), 6).as("sd"))
            .orderBy(col("dim")).collect().map(_.getDouble(1))
          // normalize driver-side with the engines' own arithmetic:
          // norm² = Σ round(sd², 12) summed exactly (order-free)
          val norm2 = sRows.map(sd => java.math.BigDecimal.valueOf(sd * sd)
              .setScale(12, java.math.RoundingMode.HALF_UP))
            .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
          val norm = math.sqrt(norm2.doubleValue())
          v = sRows.map(sd => round6(sd / norm))
          lambda = round6(norm / nRows.toDouble)
        }
        import s.implicits._
        val loading = v.zipWithIndex.map { case (x, i) => (i, x) }.toSeq
          .toDF("dim", "loading")
        val muDf = mu.zipWithIndex.map { case (x, i) => (i, x) }.toSeq
          .toDF("dim", "mu")
        muDf.join(loading, "dim")
          .withColumn("lambda", lit(lambda))
          .orderBy(col("dim").asc_nulls_last)
      },
      Some(pcaOracle)),

    Q("n_ann_pq",
      "Product-quantization ANN: 8 subspaces × 16 codewords (codebook = the first 16 vectors' subvectors) compress each vector to 8 codes; a FIXED probe batch (first 200 of the vec_id % 50 slice — query load is independent of corpus size) precomputes per-subspace distance tables, the candidate scan is a hash join on (subspace, code) + exact-decimal ADC sum — no vector math per candidate — then the 20-candidate ADC shortlist reranks exactly by true cosine to a top-5 (the standard ADC+rerank retrieval pipeline).",
      (s, dir) => {
        // r15: spread — the 16k-row × 16-codeword interpreted l2sq
        // encode fan below is the query's CPU (guide §2.5)
        val e = T.par(s, dir, "embeddings").select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val subs = e.select(col("vec_id"),
          posexplode(expr("transform(sequence(0, 7), s -> slice(v, s * 8 + 1, 8))"))
            .as(Seq("ss", "sub")))
        val cb = subs.filter(col("vec_id") < 16)
          .select(col("ss"), col("vec_id").cast("int").as("code"), col("sub").as("cvec"))
        // encode: nearest codeword per (vector, subspace); min(struct)
        // = (dist asc, code asc) argmin, no window needed. The code
        // relation IS the PQ index — retained per session like the
        // dedup fixtures: build once, probe many.
        val codes = Retained(subs.join(broadcast(cb), "ss")
          .withColumn("dist", round(l2sq("sub", "cvec"), 6))
          .groupBy(col("vec_id"), col("ss"))
          .agg(min(struct(col("dist"), col("code"))).as("m"))
          .select(col("vec_id"), col("ss"), col("m.code").as("code")))
        // fixed probe workload (first 200 probe ids — no-op at every
        // real fixture size, ≤40 probes): retrieval query load is
        // independent of corpus size; an uncapped % slice scales WITH
        // the corpus and turns the ADC join quadratic (the
        // n_mmr_rerank precedent, round-14 100× fence)
        val probes = e.filter(col("vec_id") % 50 === 0)
          .orderBy(col("vec_id")).limit(200)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        // asymmetric distance tables: 8×16 rows per probe, broadcast
        val ptab = probes
          .select(col("qid"),
            posexplode(expr("transform(sequence(0, 7), s -> slice(qv, s * 8 + 1, 8))"))
              .as(Seq("ss", "qsub")))
          .join(broadcast(cb), "ss")
          .select(col("qid"), col("ss"), col("code"),
            round(l2sq("qsub", "cvec"), 6).as("pd"))
        val adc = codes.join(broadcast(ptab), Seq("ss", "code"))
          .filter(col("vec_id") =!= col("qid"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(round(sum(col("pd").cast(DecimalType(20, 6))).cast("double"), 6).as("adc"))
        val wAdc = Window.partitionBy(col("qid"))
          .orderBy(col("adc").asc_nulls_last, col("vec_id").asc_nulls_last)
        val shortlist = adc.withColumn("crk", row_number().over(wAdc))
          .filter(col("crk") <= 20)
        val wSim = Window.partitionBy(col("qid"))
          .orderBy(col("true_sim").desc_nulls_last, col("vec_id").asc_nulls_last)
        e.select(col("vec_id"), col("v").as("cv"))
          .join(broadcast(shortlist.join(broadcast(probes), "qid")), "vec_id")
          .withColumn("true_sim", round(SimilarityQueries.cosine("qv", "cv"), 6))
          .withColumn("rk", row_number().over(wSim)).filter(col("rk") <= 5)
          .select(col("qid"), col("rk"), col("vec_id"), col("adc"), col("true_sim"))
          .orderBy(col("qid").asc_nulls_last, col("rk").asc_nulls_last)
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        subs AS (SELECT vec_id, CAST(s AS INT) AS ss, v[s * 8 + 1 : s * 8 + 8] AS sub
                 FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) t),
        cb AS (SELECT ss, CAST(vec_id AS INT) AS code, sub AS cvec FROM subs WHERE vec_id < 16),
        d2 AS (SELECT s.vec_id, s.ss, cb.code,
            round(list_sum(list_transform(list_zip(s.sub, cb.cvec),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6) AS dist
          FROM subs s JOIN cb ON s.ss = cb.ss),
        codes AS (SELECT vec_id, ss, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, ss ORDER BY dist ASC, code ASC) AS rn FROM d2) t
          WHERE rn = 1),
        probes AS (SELECT vec_id AS qid, v AS qv FROM e
                   WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 200),
        ptab AS (SELECT p.qid, cb.ss, cb.code,
            round(list_sum(list_transform(list_zip(p.qv[cb.ss * 8 + 1 : cb.ss * 8 + 8], cb.cvec),
              p2 -> (CAST(p2[1] AS DOUBLE) - CAST(p2[2] AS DOUBLE)) * (CAST(p2[1] AS DOUBLE) - CAST(p2[2] AS DOUBLE)))), 6) AS pd
          FROM probes p CROSS JOIN cb),
        adc AS (SELECT t.qid, c.vec_id,
            round(CAST(sum(CAST(pd AS DECIMAL(20,6))) AS DOUBLE), 6) AS adc
          FROM codes c JOIN ptab t ON c.ss = t.ss AND c.code = t.code
          WHERE c.vec_id <> t.qid GROUP BY t.qid, c.vec_id),
        shortlist AS (SELECT qid, vec_id, adc FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc ASC NULLS LAST, vec_id ASC NULLS LAST) AS crk FROM adc) t
          WHERE crk <= 20),
        rr AS (SELECT sl.qid, sl.vec_id, sl.adc,
            round(
              list_sum(list_transform(list_zip(p.qv, e.v), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(p.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(e.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS true_sim
          FROM shortlist sl JOIN probes p ON sl.qid = p.qid JOIN e ON sl.vec_id = e.vec_id)
        SELECT qid, CAST(rn AS INT) AS rk, vec_id, adc, true_sim FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY true_sim DESC NULLS LAST, vec_id ASC NULLS LAST) AS rn FROM rr) t
        WHERE rn <= 5
        ORDER BY qid ASC NULLS LAST, rk ASC NULLS LAST""")),

    Q("n_bpe_encode",
      "Tokenize the corpus with the trained BPE rule (train once — Round9Queries.trainMerges is memoized — apply many): the 3 merge rewrites run once per DISTINCT word over the retained vocab relation, documents sum token counts through a token-keyed join, and the corpus text itself is never rewritten or shuffled.",
      (s, dir) => {
        val merges = Round9Queries.trainMerges(s, dir)
        val wordToks = merges.foldLeft(Round9Queries.bpeVocab(s, dir)) {
          case (df, (_, l, r, _, _)) =>
            df.withColumn("spaced", Round9Queries.applyMerge(col("spaced"), l, r))
        }.select(col("w"), size(split(col("spaced"), " ")).as("n_toks"))
        T(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), col("n_chars"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .join(wordToks, "w")
          .groupBy(col("doc_id"), col("n_chars"))
          .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_tokens"))
          .select(col("doc_id"), col("n_words"), col("n_tokens"),
            round(col("n_chars").cast("double") / col("n_tokens"), 6).as("chars_per_token"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some(bpeEncodeOracle)),

    Q("n_rand_proj",
      "Johnson–Lindenstrauss random projection 64→16 dims: the ±1/√k sign matrix derives from portable md5 parity (same matrix on any engine/cluster — no RNG state to ship), lives as k×d literals (a broadcast in cluster terms), and projection is one map-only fused fold per output dim — the cheap whitening/sketching step before ANN or clustering.",
      (s, dir) => {
        val k = 16
        val sign = jlSigns(k, 64)
        val e = T(s, dir, "embeddings").filter(col("vec_id") < 50)
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val projected = e.select(col("vec_id") +: (0 until k).map { j =>
          val srow = array(sign(j).map(lit).toSeq: _*)
          round(aggregate(zip_with(col("v"), srow, (x, sg) => x * sg),
            lit(0.0d), (acc, x) => acc + x) / 4.0, 6).as(s"y$j")
        }: _*)
        projected.select(col("vec_id"),
          posexplode(array((0 until k).map(j => col(s"y$j")): _*)).as(Seq("j", "y")))
          .orderBy(col("vec_id").asc_nulls_last, col("j").asc_nulls_last)
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings WHERE vec_id < 50),
        sg AS (SELECT j, i,
            CASE WHEN strpos('01234567', substr(md5('jl_' || j || '_' || i), 1, 1)) > 0
                 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS sgn
          FROM (SELECT unnest(generate_series(0, 15)) AS j) a
          CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) b),
        rows_ AS (SELECT j, list(sgn ORDER BY i) AS srow FROM sg GROUP BY j)
        SELECT e.vec_id, CAST(r.j AS INT) AS j,
          round(list_sum(list_transform(list_zip(e.v, r.srow),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / 4.0, 6) AS y
        FROM e CROSS JOIN rows_ r
        ORDER BY e.vec_id ASC NULLS LAST, j ASC NULLS LAST""")),

    Q("n_bigram_lm",
      "Bigram language-model scoring with add-1 smoothing (the n-gram rung between the unigram LM and BPE): bigram and unigram counts are token-keyed aggregates, the per-doc score joins the doc's bigram stream back to the model relation (co-partitioned on the bigram key — the model never collects), and per-doc mean negative log-prob is an exact fixed-scale decimal sum.",
      (s, dir) => {
        val big = bigramStream(s, dir)
        val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        val uc = big.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
        // vocab size stays inside the DAG as a one-row broadcast aggregate
        // (not a plan-build-time .count(), which would run a second full
        // corpus scan per invocation — even for explain-only plans)
        val vocab = broadcast(T(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .agg(countDistinct(col("w")).cast("double").as("vsz")))
        big.join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
          .crossJoin(vocab)
          .withColumn("nll", round(-log(
            (col("cb") + 1.0) / (col("cu") + col("vsz"))), 8))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(col("nll").cast(DecimalType(20, 8))).cast("double")
              / count(lit(1)), 6).as("avg_nll"))
          .filter(col("doc_id") < 100)
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws FROM documents),
        vs AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(ws) AS w FROM t)),
        big AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM (
            SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM t) x),
        bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
        uc AS (SELECT w1, count(*) AS cu FROM big GROUP BY w1),
        sc AS (SELECT big.doc_id,
            round(-ln((cb + 1.0) / (cu + CAST(v AS DOUBLE))), 8) AS nll
          FROM big JOIN bc ON big.w1 = bc.w1 AND big.w2 = bc.w2
          JOIN uc ON big.w1 = uc.w1 CROSS JOIN vs)
        SELECT doc_id, count(*) AS n_bigrams,
          round(CAST(sum(CAST(nll AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_nll
        FROM sc WHERE doc_id < 100
        GROUP BY doc_id ORDER BY doc_id ASC NULLS LAST"""))) ++
    extraQueries ++ budgetQueries ++ fuzzyQueries ++ shuffleQueries ++ rerankQueries

  private val blocklistRows: Seq[(String, String, Int)] = Seq(
    ("slow", "perf", 1), ("crash", "stability", 3), ("hash", "crypto", 2),
    ("big", "size", 1), ("malware", "security", 3))

  private lazy val extraQueries: Seq[Q] = Seq(
    Q("n_blocklist_filter",
      "Blocklist gating (the bad-words filter every corpus-cleaning pipeline runs): the term list broadcasts against the token stream, per-doc hit counts / severity sums / hit rates are one partial-combined aggregate, and the gate is hit_rate > 5% or any severity-3 term. At 100 TB the list is always the tiny side — the scan is one pass over tokens.",
      (s, dir) => {
        import s.implicits._
        val bl = blocklistRows.toDF("term", "category", "severity")
        val toks = T(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
        val nTok = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks"))
        val hits = toks.join(broadcast(bl), col("w") === col("term"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("hits"),
            countDistinct(col("term")).as("n_matched_terms"),
            sum(col("severity").cast("long")).as("sev_sum"),
            max(col("severity")).as("max_sev"))
        nTok.join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_toks"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            coalesce(col("n_matched_terms"), lit(0L)).as("n_matched_terms"),
            coalesce(col("sev_sum"), lit(0L)).as("sev_sum"),
            round(coalesce(col("hits"), lit(0L)).cast("double") / col("n_toks"), 6).as("hit_rate"),
            coalesce(col("max_sev"), lit(0)).as("max_sev"))
          .withColumn("blocked", col("hit_rate") > 0.05 || col("max_sev") >= 3)
          .drop("max_sev")
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some(s"""WITH bl AS (SELECT * FROM (VALUES
          ('slow', 'perf', 1), ('crash', 'stability', 3), ('hash', 'crypto', 2),
          ('big', 'size', 1), ('malware', 'security', 3)) v(term, category, severity)),
        t AS (SELECT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id < 200) x WHERE len(w) > 0),
        nt AS (SELECT doc_id, count(*) AS n_toks FROM t GROUP BY doc_id),
        h AS (SELECT doc_id, count(*) AS hits,
            count(DISTINCT term) AS n_matched_terms,
            CAST(sum(severity) AS BIGINT) AS sev_sum,
            max(severity) AS max_sev
          FROM t JOIN bl ON t.w = bl.term GROUP BY doc_id)
        SELECT nt.doc_id, nt.n_toks,
          COALESCE(h.hits, 0) AS hits,
          COALESCE(h.n_matched_terms, 0) AS n_matched_terms,
          COALESCE(h.sev_sum, 0) AS sev_sum,
          round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / nt.n_toks, 6) AS hit_rate,
          (round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / nt.n_toks, 6) > 0.05
           OR COALESCE(h.max_sev, 0) >= 3) AS blocked
        FROM nt LEFT JOIN h ON nt.doc_id = h.doc_id
        ORDER BY nt.doc_id ASC NULLS LAST""")),

    Q("n_lm_heldout",
      "Held-out (out-of-fold) bigram LM scoring — the decontaminated form of n_bigram_lm: the model trains on even doc_ids only and scores odd ones, so no document is scored by counts it contributed to (the self-memorization bias a real perplexity filter must avoid); unseen bigrams flow through the add-1 floor via LEFT joins, and the OOV-bigram share is reported alongside the NLL.",
      (s, dir) => {
        val big = bigramStream(s, dir)
        val train = big.filter(col("doc_id") % 2 === 0)
        val bc = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        val uc = train.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
        // train-fold vocab as an in-DAG one-row broadcast aggregate (no
        // plan-build-time .count() — see n_bigram_lm)
        val vocab = broadcast(T(s, dir, "documents")
          .filter(col("doc_id") % 2 === 0)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .agg(countDistinct(col("w")).cast("double").as("vsz")))
        big.filter(col("doc_id") % 2 === 1 && col("doc_id") < 200)
          .join(bc, Seq("w1", "w2"), "left")
          .join(uc, Seq("w1"), "left")
          .crossJoin(vocab)
          .withColumn("nll", round(-log(
            (coalesce(col("cb"), lit(0L)) + 1.0)
              / (coalesce(col("cu"), lit(0L)) + col("vsz"))), 8))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(col("nll").cast(DecimalType(20, 8))).cast("double")
              / count(lit(1)), 6).as("avg_nll"),
            round(sum(when(col("cb").isNull, 1L).otherwise(0L)).cast("double")
              / count(lit(1)), 6).as("oov_rate"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws FROM documents),
        big AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM (
            SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM t) x),
        vs AS (SELECT count(DISTINCT w) AS v FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE doc_id % 2 = 0) x
          WHERE len(w) > 0),
        bc AS (SELECT w1, w2, count(*) AS cb FROM big WHERE doc_id % 2 = 0 GROUP BY w1, w2),
        uc AS (SELECT w1, count(*) AS cu FROM big WHERE doc_id % 2 = 0 GROUP BY w1),
        sc AS (SELECT big.doc_id,
            round(-ln((COALESCE(bc.cb, 0) + 1.0) / (COALESCE(uc.cu, 0) + CAST(v AS DOUBLE))), 8) AS nll,
            CASE WHEN bc.cb IS NULL THEN 1 ELSE 0 END AS oov
          FROM big LEFT JOIN bc ON big.w1 = bc.w1 AND big.w2 = bc.w2
          LEFT JOIN uc ON big.w1 = uc.w1 CROSS JOIN vs
          WHERE big.doc_id % 2 = 1 AND big.doc_id < 200)
        SELECT doc_id, count(*) AS n_bigrams,
          round(CAST(sum(CAST(nll AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_nll,
          round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
        FROM sc GROUP BY doc_id ORDER BY doc_id ASC NULLS LAST""")))

  private lazy val budgetQueries: Seq[Q] = Seq(
    Q("n_token_budget",
      "Quality-ranked corpus selection under a global token budget (the data-mixing step: fill 20k training tokens with the best docs first): docs order by a rounded uniqueness score, the running token total is a TWO-LEVEL cumsum — per-score-band window + tiny band-offset broadcast, no single-partition global window (bands are monotone in the score, so band-local order composes to the global order) — and a doc survives iff it fits entirely.",
      (s, dir) => {
        val budget = 20000L
        // r15: spread — the triple split() per row is the scan CPU
        val d = T.par(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"),
            round(size(array_distinct(split(col("text"), " "))).cast("double")
              / size(split(col("text"), " ")), 6).as("score"))
          // band is monotone in score: score1 > score2 => band1 <= band2,
          // so (band asc, score desc, doc_id asc) IS the global order
          .withColumn("band", lit(40) - floor(col("score") * 40).cast("int"))
        val wBand = Window.partitionBy(col("band"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = d.withColumn("wcum", sum(col("n_tokens")).over(wBand))
        // band offsets: one row per band; keyed with the constant-pmod
        // trick so the zero-unkeyed-window invariant holds (seq_packing)
        val oWin = Window.partitionBy(pmod(col("band"), lit(1)))
          .orderBy(col("band"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val offsets = d.groupBy(col("band")).agg(sum(col("n_tokens")).as("btot"))
          .withColumn("boff", sum(col("btot")).over(oWin) - col("btot"))
          .select(col("band"), col("boff"))
        local.join(broadcast(offsets), "band")
          .withColumn("cum", col("boff") + col("wcum"))
          .filter(col("cum") <= budget)
          .select(col("doc_id"), col("score"), col("n_tokens"), col("cum"))
          .orderBy(col("cum").asc_nulls_last, col("doc_id").asc_nulls_last)
      },
      Some("""WITH d AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
            round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')), 6) AS score
          FROM documents),
        c AS (SELECT doc_id, score, n_tokens,
            sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM d)
        SELECT doc_id, score, n_tokens, CAST(cum AS BIGINT) AS cum FROM c WHERE cum <= 20000
        ORDER BY cum ASC NULLS LAST, doc_id ASC NULLS LAST""")),

    Q("n_novelty_curve",
      "Novel-content curve per ingestion batch (is each new crawl still adding anything?): a 3-word chunk is NOVEL in the doc where its digest first appears (min doc_id — one gram-keyed aggregate, digests on the wire, never text); per 50-doc batch, the novel-chunk share is the marginal value of that crawl — the curve a dedup-aware sampler reads before paying for processing.",
      (s, dir) => {
        // r15: chunk+md5 explode ran inside the single-split scan stage
        // (guide §2.5) — spread the 5k-row doc scan first (measured
        // 1.06 → 0.68 s at sf0.1 for this shape)
        val ch = T.par(s, dir, "documents")
          .select(col("doc_id"), posexplode(expr(
            "transform(sequence(0, cast(ceil(size(split(text, ' ')) / 3.0) as int) - 1), c -> array_join(slice(split(text, ' '), c * 3 + 1, 3), ' '))")))
          .toDF("doc_id", "cidx", "chunk")
          .select(col("doc_id"), md5(col("chunk")).as("dg"))
        val first = ch.groupBy(col("dg")).agg(min(col("doc_id")).as("first_doc"))
        ch.join(first, "dg")
          .withColumn("batch", (col("doc_id") / 50).cast("long"))
          .groupBy(col("batch"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"),
            round(sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .cast("double") / count(lit(1)), 6).as("novelty_rate"))
          .orderBy(col("batch").asc_nulls_last)
      },
      Some("""WITH ch AS (SELECT doc_id,
            md5(array_to_string(ws[c * 3 + 1 : c * 3 + 3], ' ')) AS dg
          FROM (SELECT doc_id, string_split(text, ' ') AS ws,
                  unnest(generate_series(0, CAST(ceil(len(string_split(text, ' ')) / 3.0) AS INT) - 1)) AS c
                FROM documents) t),
        f AS (SELECT dg, min(doc_id) AS first_doc FROM ch GROUP BY dg)
        SELECT CAST(ch.doc_id // 50 AS BIGINT) AS batch,
          count(*) AS n_chunks,
          CAST(sum(CASE WHEN f.first_doc = ch.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          round(CAST(sum(CASE WHEN f.first_doc = ch.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty_rate
        FROM ch JOIN f ON ch.dg = f.dg
        GROUP BY 1 ORDER BY batch ASC NULLS LAST""")))

  private lazy val fuzzyQueries: Seq[Q] = Seq(
    Q("n_fuzzy_join_edit1",
      "Fuzzy entity-resolution self-join, exact at edit distance ≤ 1: SymSpell deletion-neighborhood blocking — every name emits itself plus its single-deletion variants as md5 keys, any distance-1 pair (insert/delete/substitute) provably shares a key, candidates are only key-sharing pairs (never all-pairs), and a row-local levenshtein verifies. Keys shuffle as 16-byte digests; a mass-duplicate-name corpus should run exact dedup first (a hot key spawns f² candidates — the documented precondition, like the dedup family's DF caps).",
      (s, dir) => {
        // r15: the 25×-per-name deletion-variant explode + md5 ran in
        // the single-split scan stage — spread first (guide §2.5)
        val c = T.par(s, dir, "customer")
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        // r15: retain — the self-join broadcasts one side (no exchange
        // reuse), so unretained BOTH sides re-run the 25x-per-name
        // deletion explode + md5 + distinct
        val vars = Retained(
          c.select(col("id"), col("name"), explode(expr(
            """array_union(array(name),
              transform(sequence(1, length(name)),
                i -> concat(substring(name, 1, i - 1),
                            substring(name, i + 1, length(name) - i))))""")).as("v"))
          .select(col("id"), col("name"), md5(col("v")).as("k"))
          .distinct())
        val a = vars.select(col("id").as("id_a"), col("name").as("name_a"), col("k"))
        val b = vars.select(col("id").as("id_b"), col("name").as("name_b"), col("k"))
        // verify BEFORE the pair-dedup: the row-local levenshtein is
        // cheaper than shuffling name payloads into distinct, and the
        // surviving relation is bare 16-byte id pairs
        a.join(b, "k").filter(col("id_a") < col("id_b"))
          .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
          .select(col("id_a"), col("id_b"))
          .distinct()
          .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last)
      },
      Some("""WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        v AS (SELECT DISTINCT id, name, md5(d) AS k FROM (
            SELECT id, name, unnest(list_distinct(list_append(
              list_transform(generate_series(1, len(name)),
                i -> substr(name, 1, i - 1) || substr(name, i + 1, len(name) - i)),
              name))) AS d
          FROM c) t),
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b
          FROM v a JOIN v b ON a.k = b.k AND a.id < b.id)
        SELECT id_a, id_b FROM cand WHERE levenshtein(name_a, name_b) <= 1
        ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""")))

  private lazy val shuffleQueries: Seq[Q] = Seq(
    Q("n_epoch_shuffle",
      "Deterministic multi-epoch data ordering (each training epoch must see the corpus in a DIFFERENT but replayable order): per epoch, shard = portable md5 of (epoch, doc_id) — no RNG state, any engine/cluster/restart reproduces the identical plan — with per-epoch shard balance and the epoch-over-epoch movement count proving the orders decorrelate; assignment is map-only, the only shuffles are the 8-group rollup and the doc-keyed epoch self-join.",
      (s, dir) => {
        val d = T(s, dir, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
        val a = Retained(d
          .withColumn("epoch", explode(expr("array(1, 2, 3)")))
          .withColumn("shard", pmod(expr(
            "CAST(conv(substr(md5(concat(epoch, '_', doc_id)), 1, 8), 16, 10) AS BIGINT)"),
            lit(8L))))
        val balance = a.groupBy(col("epoch"), col("shard"))
          .agg(count(lit(1)).as("n"), sum(col("n_toks")).as("t"))
          .groupBy(col("epoch"))
          .agg(sum(col("n")).as("n_docs"),
            min(col("n")).as("min_shard_docs"),
            max(col("n")).as("max_shard_docs"))
        val moved = a.select(col("doc_id"), col("epoch"), col("shard"))
          .join(a.select(col("doc_id"), (col("epoch") + 1).as("epoch"),
            col("shard").as("prev_shard")), Seq("doc_id", "epoch"))
          .groupBy(col("epoch"))
          .agg(sum(when(col("shard") =!= col("prev_shard"), 1L).otherwise(0L)).as("n_moved"))
        balance.join(moved, Seq("epoch"), "left")
          .select(col("epoch"), col("n_docs"), col("min_shard_docs"),
            col("max_shard_docs"), col("n_moved"))
          .orderBy(col("epoch").asc_nulls_last)
      },
      Some("""WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
        a AS (SELECT doc_id, n_toks, epoch,
            list_reduce(list_transform(range(1, 9),
              i -> CAST(strpos('0123456789abcdef',
                substr(md5(epoch || '_' || doc_id), i, 1)) - 1 AS BIGINT)),
              (x, y) -> x * 16 + y) % 8 AS shard
          FROM d CROSS JOIN (SELECT unnest([1, 2, 3]) AS epoch) e),
        bal AS (SELECT epoch, CAST(sum(n) AS BIGINT) AS n_docs,
            CAST(min(n) AS BIGINT) AS min_shard_docs, CAST(max(n) AS BIGINT) AS max_shard_docs
          FROM (SELECT epoch, shard, count(*) AS n FROM a GROUP BY epoch, shard) t
          GROUP BY epoch),
        mv AS (SELECT c.epoch,
            CAST(sum(CASE WHEN c.shard <> p.shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
          FROM a c JOIN a p ON c.doc_id = p.doc_id AND p.epoch = c.epoch - 1
          GROUP BY c.epoch)
        SELECT bal.epoch, bal.n_docs, bal.min_shard_docs, bal.max_shard_docs, mv.n_moved
        FROM bal LEFT JOIN mv ON bal.epoch = mv.epoch
        ORDER BY bal.epoch ASC NULLS LAST""")))

  private lazy val rerankQueries: Seq[Q] = Seq(
    Q("n_mmr_rerank",
      "Maximal-Marginal-Relevance diversified top-5 (λ=0.7) over each probe's cosine top-20 shortlist: the greedy loop unrolls as five relational steps — each step anti-joins the selected set, takes the max pair-similarity to it, and argmaxes the rounded MMR score — so BOTH engines run the identical declarative chain (no driver state at all). Candidate generation is the distributed part (a FIXED probe workload × corpus scan — linear); the rerank touches only q×20 rows regardless of corpus size — the standard retrieval/diverse-sampling shape.",
      (s, dir) => {
        val lam = 0.7d
        // r15: spread the single-split scan; the probe-scoring and
        // pair-similarity loops below are the CPU (guide §2.5)
        val e = T.par(s, dir, "embeddings").select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        // the probe WORKLOAD is fixed (first 200 probe ids): production
        // rerank load is the number of user queries, independent of
        // corpus size — an uncapped `% 150` slice scales WITH the
        // corpus and turns candidate generation quadratic (the round-14
        // 100× fence caught exactly that: a >78 GB window-sort spill).
        // LIMIT 200 is a no-op at every real fixture size (≤14 probes)
        val probes = e.filter(col("vec_id") % 150 === 0)
          .orderBy(col("vec_id")).limit(200)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val wq = Window.partitionBy(col("qid"))
          .orderBy(col("simq").desc_nulls_last, col("vec_id").asc_nulls_last)
        // the shortlist RANK runs over (qid, vec_id, simq) only — the
        // 64-dim vector re-joins AFTER the top-20 cut, so the window
        // sort moves ~30-byte rows instead of carrying the embedding
        // through the shuffle (the other 100×-fence spill amplifier)
        val cand = Retained(
          e.join(broadcast(probes), col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id"),
              round(SimilarityQueries.cosine("qv", "v"), 6).as("simq"))
            .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 20)
            .drop("rn")
            .join(e, Seq("vec_id"))
            .select(col("qid"), col("vec_id"), col("simq"), col("v")))
        val pairs = cand.select(col("qid"), col("vec_id").as("ca"), col("v").as("va"))
          .join(cand.select(col("qid"), col("vec_id").as("cb"), col("v").as("vb")), "qid")
          .filter(col("ca") =!= col("cb"))
          .select(col("qid"), col("ca"), col("cb"),
            round(SimilarityQueries.cosine("va", "vb"), 6).as("sab"))
        // r15: the greedy 5-step selection runs DRIVER-SIDE on the
        // collected shortlist model (≤200 probes × 20 candidates, pure
        // scalars — the n_pref_bradley_terry parameter-server
        // precedent): the relational unroll planned five window rounds
        // with a cache barrier per step (~12 tiny jobs of scheduling
        // floor on q×20 rows). Candidate generation and the pair-
        // similarity relation — the corpus-scan parts — stay
        // distributed. Arithmetic reproduces the relational form
        // op-for-op: round(x, 6) is BigDecimal.valueOf HALF_UP
        // (Spark's Round on double), mmr = simq*0.7 and
        // simq*0.7 - 0.3*ms in the same double ops (lit(0.3), never
        // 1.0-lam: the IEEE value of 1.0-0.7 is 0.30000000000000004
        // while the oracle spells 0.3), max(sab) and the argmax mirror
        // Spark's double ordering via Double.compare (NaN-largest,
        // -0.0 < 0.0), tie-break vec_id ascending; a candidate with no
        // pair to the selected set drops out exactly like the old
        // inner join on ms.
        def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val candRows = cand.select(col("qid"), col("vec_id"), col("simq"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        val simTo = pairs.collect()
          .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
          .toMap
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
        candRows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (qid, cs) =>
          var selected = List.empty[Long]
          for (step <- 1 to 5) {
            val scored = cs.iterator
              .filter(c => !selected.contains(c._2))
              .flatMap { case (_, vid, simq) =>
                if (step == 1) Iterator((vid, r6(simq * lam)))
                else {
                  val sims = selected.flatMap(sb => simTo.get((qid, vid, sb)))
                  if (sims.isEmpty) Iterator.empty
                  else {
                    val ms = sims.reduce((a, b) =>
                      if (java.lang.Double.compare(a, b) >= 0) a else b)
                    Iterator((vid, r6(simq * lam - 0.3 * ms)))
                  }
                }
              }.toSeq
            if (scored.nonEmpty) {
              val best = scored.reduce { (x, y) =>
                val c = java.lang.Double.compare(x._2, y._2)
                if (c > 0 || (c == 0 && x._1 < y._1)) x else y
              }
              picked += ((qid, step, best._1, best._2))
              selected = best._1 :: selected
            }
          }
        }
        import s.implicits._
        picked.toSeq.toDF("qid", "step", "vec_id", "mmr")
          .orderBy(col("qid").asc_nulls_last, col("step").asc_nulls_last)
      },
      Some(mmrOracle)),

    Q("n_logreg_calibration",
      "Reliability diagram for the trained quality classifier (the evaluation step a production gate needs before its scores become sampling weights): score every doc with the memoized trained weights (train once — Round9Queries.trainLogreg — evaluate many), bin predicted probabilities into deciles, and compare each bin's mean prediction against its actual positive rate; the per-bin gap is the calibration error term of ECE.",
      (s, dir) => {
        val w = Round9Queries.trainLogreg(s, dir)
        val p = Round9Queries.logregP(w)
        Round9Queries.logregFeatures(s, dir)
          .select(col("y"), round(expr(p), 6).as("p"))
          .withColumn("bin", least(floor(col("p") * 10).cast("int"), lit(9)))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("p").cast(DecimalType(20, 6))).cast("double")
              / count(lit(1)), 6).as("mean_p"),
            round(sum(col("y")) / count(lit(1)), 6).as("frac_pos"))
          .withColumn("gap", round(abs(col("mean_p") - col("frac_pos")), 6))
          .orderBy(col("bin").asc_nulls_last)
      },
      Some(s"""WITH ${Round9Queries.logregChainSql},
        scored AS (SELECT y, round(${Round9Queries.logregPfSql}, 6) AS p
          FROM f CROSS JOIN w3s),
        b AS (SELECT LEAST(CAST(floor(p * 10) AS INT), 9) AS bin, p, y FROM scored)
        SELECT bin, count(*) AS n,
          round(CAST(sum(CAST(p AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mean_p,
          round(sum(y) / count(*), 6) AS frac_pos,
          round(abs(round(CAST(sum(CAST(p AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6)
            - round(sum(y) / count(*), 6)), 6) AS gap
        FROM b GROUP BY bin ORDER BY bin ASC NULLS LAST""")),

    Q("n_zipf_fit",
      "Zipf rank-frequency diagnostic: token frequencies (one token-keyed aggregate), ranks over the VOCAB relation (constant-keyed window — the vocab is orders of magnitude smaller than the corpus, the documented place a keyed single-partition window is the design), and the log-log OLS slope/intercept from exact fixed-scale decimal sums — the corpus-health check (natural text ≈ −1; a broken scrape drifts).",
      (s, dir) => {
        val freq = T(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("f"))
        val wRank = Window.partitionBy(pmod(length(col("w")), lit(1)))
          .orderBy(col("f").desc, col("w").asc)
        val pts = freq.withColumn("r", row_number().over(wRank))
          .select(round(log(col("r").cast("double")), 8).as("x"),
            round(log(col("f").cast("double")), 8).as("y"),
            col("f"), col("r"))
        def dsum(c: org.apache.spark.sql.Column) =
          sum(round(c, 8).cast(DecimalType(30, 8))).cast("double")
        pts.agg(
          count(lit(1)).as("n_vocab"),
          dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
          dsum(col("x") * col("x")).as("sxx"), dsum(col("x") * col("y")).as("sxy"),
          sum(col("f")).as("n_tokens"),
          sum(when(col("r") <= 10, col("f")).otherwise(0L)).as("top10"))
          .select(col("n_vocab"),
            round((col("n_vocab") * col("sxy") - col("sx") * col("sy"))
              / (col("n_vocab") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"),
            round((col("sy") - (col("n_vocab") * col("sxy") - col("sx") * col("sy"))
              / (col("n_vocab") * col("sxx") - col("sx") * col("sx")) * col("sx"))
              / col("n_vocab"), 6).as("intercept"),
            round(col("top10").cast("double") / col("n_tokens"), 6).as("top10_share"))
      },
      Some("""WITH freq AS (SELECT w, count(*) AS f FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
          WHERE len(w) > 0 GROUP BY w),
        pts AS (SELECT round(ln(CAST(r AS DOUBLE)), 8) AS x,
            round(ln(CAST(f AS DOUBLE)), 8) AS y, f, r
          FROM (SELECT w, f, row_number() OVER (ORDER BY f DESC, w ASC) AS r FROM freq) t),
        s AS (SELECT count(*) AS n_vocab,
            CAST(sum(CAST(round(x, 8) AS DECIMAL(30,8))) AS DOUBLE) AS sx,
            CAST(sum(CAST(round(y, 8) AS DECIMAL(30,8))) AS DOUBLE) AS sy,
            CAST(sum(CAST(round(x * x, 8) AS DECIMAL(30,8))) AS DOUBLE) AS sxx,
            CAST(sum(CAST(round(x * y, 8) AS DECIMAL(30,8))) AS DOUBLE) AS sxy,
            CAST(sum(f) AS BIGINT) AS n_tokens,
            CAST(sum(CASE WHEN r <= 10 THEN f ELSE 0 END) AS BIGINT) AS top10
          FROM pts)
        SELECT n_vocab,
          round((n_vocab * sxy - sx * sy) / (n_vocab * sxx - sx * sx), 6) AS zipf_slope,
          round((sy - (n_vocab * sxy - sx * sy) / (n_vocab * sxx - sx * sx) * sx) / n_vocab, 6) AS intercept,
          round(CAST(top10 AS DOUBLE) / n_tokens, 6) AS top10_share
        FROM s"""))
  )

  /** The MMR oracle: the identical five unrolled greedy steps as CTEs —
    * candidate top-20, pairwise sims, then each step anti-joins the
    * union of prior picks, maxes the pair sim to it, and argmaxes the
    * rounded score with the same (mmr DESC, vec_id ASC) tie-break.
    */
  private lazy val mmrOracle: String = {
    val cos = (a: String, b: String) =>
      s"""round(
        list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"""
    def step(i: Int, selRel: String) =
      s"""s$i AS (SELECT qid, $i AS step, vec_id, mmr FROM (
          SELECT c.qid, c.vec_id,
            round(c.simq * 0.7 - 0.3 * ms.ms, 6) AS mmr,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY round(c.simq * 0.7 - 0.3 * ms.ms, 6) DESC NULLS LAST, c.vec_id ASC) AS rn
          FROM c JOIN (SELECT p.qid, p.ca, max(p.sab) AS ms
              FROM p JOIN $selRel sl ON p.qid = sl.qid AND p.cb = sl.vec_id
              GROUP BY p.qid, p.ca) ms
            ON c.qid = ms.qid AND c.vec_id = ms.ca
          WHERE NOT EXISTS (SELECT 1 FROM $selRel sl2
            WHERE sl2.qid = c.qid AND sl2.vec_id = c.vec_id)) t
        WHERE rn = 1)"""
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 150 = 0
        ORDER BY vec_id LIMIT 200),
      c AS (SELECT qid, vec_id, simq, v FROM (
          SELECT q.qid, e.vec_id, ${cos("q.qv", "e.v")} AS simq, e.v,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY ${cos("q.qv", "e.v")} DESC NULLS LAST, e.vec_id ASC) AS rn
          FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) t
        WHERE rn <= 20),
      p AS (SELECT a.qid, a.vec_id AS ca, b.vec_id AS cb, ${cos("a.v", "b.v")} AS sab
        FROM c a JOIN c b ON a.qid = b.qid AND a.vec_id <> b.vec_id),
      s1 AS (SELECT qid, 1 AS step, vec_id, mmr FROM (
          SELECT qid, vec_id, round(simq * 0.7, 6) AS mmr,
            row_number() OVER (PARTITION BY qid
              ORDER BY round(simq * 0.7, 6) DESC NULLS LAST, vec_id ASC) AS rn
          FROM c) t WHERE rn = 1),
      sel1 AS (SELECT qid, vec_id FROM s1),
      ${step(2, "sel1")},
      sel2 AS (SELECT qid, vec_id FROM s1 UNION ALL SELECT qid, vec_id FROM s2),
      ${step(3, "sel2")},
      sel3 AS (SELECT qid, vec_id FROM sel2 UNION ALL SELECT qid, vec_id FROM s3),
      ${step(4, "sel3")},
      sel4 AS (SELECT qid, vec_id FROM sel3 UNION ALL SELECT qid, vec_id FROM s4),
      ${step(5, "sel4")}
      SELECT qid, step, vec_id, mmr FROM (
        SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s5) u
      ORDER BY qid ASC NULLS LAST, step ASC NULLS LAST"""
  }

  /** The per-doc bigram stream, shared (via the plan-idempotent retain)
    * by in-sample and held-out LM scoring.
    */
  // r15: spread the single-split doc scan so the bigram explode
  // parallelizes (guide §2.5)
  private[queries] def bigramStream(s: SparkSession, dir: String): DataFrame =
    Retained(
      T.par(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
        .select(col("doc_id"),
          slice(col("ws"), lit(1), size(col("ws")) - 1).as("la"),
          slice(col("ws"), lit(2), size(col("ws")) - 1).as("ra"))
        .select(col("doc_id"), explode(arrays_zip(col("la"), col("ra"))).as("p"))
        .select(col("doc_id"), col("p.la").as("w1"), col("p.ra").as("w2")))

  /** The JL sign matrix: entry (j, i) is +1 when the first hex digit of
    * md5("jl_<j>_<i>") is 0–7, else −1 — a fair coin that any engine
    * reproduces from the same string (no RNG state, no seed shipping;
    * the same portability trick as n_shard_assign / n_priority_sample).
    */
  private def jlSigns(k: Int, d: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k, d) { (j, i) =>
      val hex = md.digest(s"jl_${j}_${i}".getBytes("UTF-8"))
      // first hex digit = high nibble of byte 0
      if (((hex(0) >> 4) & 0xf) < 8) 1.0d else -1.0d
    }
  }

  /** The oracle unrolls the identical centering + two power-iteration
    * passes as CTEs — every rounding point and promotion matches the
    * Spark side, so the driver-side literals re-enter bit-identically.
    */
  private lazy val pcaOracle: String = {
    // per-dim update pass: dots per row (exact decimal per-term sums),
    // then dimension-keyed exact aggregate
    def pass(vRel: String, dotRel: String, sRel: String) =
      s"""$dotRel AS (SELECT x.vec_id,
            round(CAST(sum(CAST(round(x.xc * $vRel.vv, 10) AS DECIMAL(30,10))) AS DOUBLE), 6) AS dot
          FROM xcd x JOIN $vRel ON x.dim = $vRel.dim GROUP BY x.vec_id),
        $sRel AS (SELECT x.dim,
            round(CAST(sum(CAST(round(d.dot * x.xc, 8) AS DECIMAL(30,8))) AS DOUBLE), 6) AS sd
          FROM xcd x JOIN $dotRel d ON x.vec_id = d.vec_id GROUP BY x.dim)"""
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      n AS (SELECT count(*) AS n_rows FROM e),
      exp0 AS (SELECT vec_id, CAST(pos AS INT) AS dim, x FROM (
          SELECT vec_id, unnest(v) AS x, unnest(generate_series(0, len(v) - 1)) AS pos FROM e) t),
      mu AS (SELECT dim, round(avg(x), 6) AS mu FROM exp0 GROUP BY dim),
      xcd AS (SELECT e0.vec_id, e0.dim, e0.x - mu.mu AS xc FROM exp0 e0 JOIN mu ON e0.dim = mu.dim),
      v0 AS (SELECT CAST(i AS INT) AS dim, CASE WHEN i = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS vv
             FROM (SELECT unnest(generate_series(0, 63)) AS i) t),
      ${pass("v0", "dot1", "s1")},
      n1 AS (SELECT sqrt(CAST(sum(CAST(round(sd * sd, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS norm FROM s1),
      v1 AS (SELECT dim, round(sd / norm, 6) AS vv FROM s1 CROSS JOIN n1),
      ${pass("v1", "dot2", "s2")},
      n2 AS (SELECT sqrt(CAST(sum(CAST(round(sd * sd, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS norm FROM s2),
      v2 AS (SELECT dim, round(sd / norm, 6) AS loading FROM s2 CROSS JOIN n2),
      lam AS (SELECT round(norm / n_rows, 6) AS lambda FROM n2 CROSS JOIN n)
      SELECT mu.dim, mu.mu, v2.loading, lam.lambda
      FROM mu JOIN v2 ON mu.dim = v2.dim CROSS JOIN lam
      ORDER BY mu.dim ASC NULLS LAST"""
  }

  /** The oracle re-trains the 3 merges over the same vocab chain as
    * n_bpe_train (with the source word carried through every rewrite)
    * and applies the resulting per-word token counts to documents —
    * character-identical merge selection and replace() semantics.
    */
  private lazy val bpeEncodeOracle: String = {
    def rewrite(prev: String, m: String) =
      s"""(SELECT w, trim(replace(replace(' ' || spaced || ' ',
           ' ' || $m.l || ' ' || $m.r || ' ', ' ' || $m.l || $m.r || ' '),
           ' ' || $m.l || ' ' || $m.r || ' ', ' ' || $m.l || $m.r || ' ')) AS spaced, cnt
         FROM $prev CROSS JOIN $m)"""
    def pairs(rel: String, p: String) =
      s"""$p AS (SELECT toks[i] AS l, toks[i + 1] AS r, cnt FROM (
           SELECT toks, cnt, unnest(generate_series(1, len(toks) - 1)) AS i
           FROM (SELECT string_split(spaced, ' ') AS toks, cnt FROM $rel) t0) t1)"""
    def best(p: String, m: String) =
      s"""$m AS (SELECT l, r FROM $p GROUP BY l, r
           ORDER BY CAST(sum(cnt) AS BIGINT) DESC, l ASC, r ASC LIMIT 1)"""
    s"""WITH v0 AS (
        SELECT w, array_to_string(string_split(w, ''), ' ') AS spaced, cnt
        FROM (SELECT w, count(*) AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
              WHERE len(w) > 0 GROUP BY w)),
      ${pairs("v0", "p1")}, ${best("p1", "m1")},
      v1 AS ${rewrite("v0", "m1")},
      ${pairs("v1", "p2")}, ${best("p2", "m2")},
      v2 AS ${rewrite("v1", "m2")},
      ${pairs("v2", "p3")}, ${best("p3", "m3")},
      v3 AS ${rewrite("v2", "m3")},
      tokw AS (SELECT w, len(string_split(spaced, ' ')) AS n_toks FROM v3),
      dw AS (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS w
             FROM documents WHERE doc_id < 100)
      SELECT d.doc_id, count(*) AS n_words, CAST(sum(t.n_toks) AS BIGINT) AS n_tokens,
        round(CAST(max(d.n_chars) AS DOUBLE) / sum(t.n_toks), 6) AS chars_per_token
      FROM dw d JOIN tokw t ON d.w = t.w
      WHERE len(d.w) > 0
      GROUP BY d.doc_id
      ORDER BY d.doc_id ASC NULLS LAST"""
  }

  /** The same re-trained v0→tokw CTE prefix with a per-LANGUAGE tail —
    * the n_bpe_fertility oracle.
    */
  private[queries] lazy val bpeFertilityOracle: String = {
    val prefix = bpeEncodeOracle.substring(0,
      bpeEncodeOracle.indexOf("dw AS ("))
    s"""${prefix}dw AS (SELECT lang, unnest(string_split(text, ' ')) AS w
             FROM documents)
      SELECT d.lang, count(*) AS n_words, CAST(sum(t.n_toks) AS BIGINT) AS n_tokens,
        round(CAST(sum(t.n_toks) AS DOUBLE) / count(*), 6) AS fertility
      FROM dw d JOIN tokw t ON d.w = t.w
      WHERE len(d.w) > 0
      GROUP BY d.lang
      ORDER BY d.lang ASC NULLS LAST"""
  }
}
