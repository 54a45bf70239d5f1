package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 additions to the LLM-data-pipeline surface.
  *
  *   - n_knn_join_topk: the batched retrieval workload (every query row
  *     gets its top-k corpus neighbors — the RAG / hard-negative-mining
  *     join). The scale shape is the mergeable
  *     [[graft.operators.TopKByScore]] aggregate: each partition
  *     reduces its candidates to at most k entries BEFORE the shuffle,
  *     so the wire carries q·k summary rows where the window-rank
  *     formulation (n_cosine_topk_bruteforce) shuffles and sorts all
  *     q·n scored pairs. Same answer, spec-proven (Round9Spec).
  *   - n_kmeans_lloyd: two Lloyd iterations of cosine k-means over the
  *     embedding corpus — the clustering model SemDeDup-style dedup and
  *     IVF ANN assume as an offline input, expressed as the distributed
  *     training loop itself: broadcast centroids, map-only argmax
  *     assignment, dimension-exploded mean recompute (the layout that
  *     scales to billions of vectors), reassign, report.
  *   - n_char_entropy: byte-entropy gibberish signal via the codegen'd
  *     [[graft.functions.CharEntropy]] kernel — row-local, no per-char
  *     explode.
  *   - n_bpe_train: BPE tokenizer training (3 merge steps) over the
  *     word-frequency vocab — pair counting is an aggregate over vocab
  *     entries weighted by count (the corpus is scanned once to build
  *     the vocab, never again), the argmax merge rule is O(1) driver
  *     state, and merges apply as anchored two-pass string rewrites
  *     with identical replace() semantics on both engines.
  *   - n_quality_logreg: a fastText-style quality-classifier trained by
  *     full-batch gradient descent — per-doc gradient contributions are
  *     fixed-scale decimals summed order-independently (exact
  *     allreduce), weights live on the driver and re-enter each pass as
  *     literals (the parameter-server shape: O(features) driver state,
  *     never O(rows)). Three unrolled iterations, bit-identical to the
  *     oracle's CTE chain.
  *
  * Reference scope: fb64/uquery-rs exposes arbitrary SQL over its
  * corpus tables (src/core/duckdb.rs:87); these queries are the
  * training-data-pipeline surface the builder prompt adds on top.
  */
object Round9Queries extends QueryModule {

  /** Exact mean of a per-row double rounded to `scale` digits first:
    * both engines sum identical DECIMALs (order-independent), divide
    * once in double. The cross-engine-stable mean for values that are
    * themselves double-valued (sims, losses, gradients).
    */
  private def meanExact(c: org.apache.spark.sql.Column, scale: Int, digits: Int) =
    round(sum(round(c, scale).cast(org.apache.spark.sql.types.DecimalType(20, scale)))
      .cast("double") / count(lit(1)), digits)

  override val queries: Seq[Q] = Seq(
    Q("n_knn_join_topk",
      "Batched k-NN similarity join with a FIXED probe batch (first 200 of the vec_id % 50 slice — retrieval query load is independent of corpus size, the n_mmr_rerank precedent): each probe gets its cosine top-10 via a mergeable per-partition top-k aggregate — the shuffle carries q·k summaries, not the q·n scored pairs a window sort would move; candidate generation is fixed-probes × corpus = linear.",
      (s, dir) => {
        import s.implicits._
        // r15: spread measured and LOST (0.599 -> 0.682 min-of-3): the
        // codegen cosine kernel is cheap enough that shipping 256-dim
        // arrays through the exchange outweighs the parallelism
        val emb = T(s, dir, "embeddings")
        // no-op at every real fixture size (≤40 probes); caps the pair
        // space linearly at scale — see SCALE.md round-15
        val probes = emb.filter(col("vec_id") % 50 === 0)
          .orderBy(col("vec_id")).limit(200)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val scored = emb.join(broadcast(probes), col("vec_id") =!= col("qid"))
          .select(col("qid"),
            round(SimilarityQueries.cosine("qv", "embedding"), 6).as("sim"),
            col("vec_id"))
          .as[(Long, Double, Long)]
        val topk = graft.operators.TopKByScore(10)
        scored.groupByKey(_._1).mapValues(t => (t._2, t._3))
          .agg(topk.toColumn.name("summary"))
          .toDF("qid", "summary")
          .select(col("qid"), posexplode(col("summary")))
          .select(col("qid"), (col("pos") + 1).cast("int").as("rk"),
            col("col._2").as("vec_id"), col("col._1").as("sim"))
          .orderBy(col("qid").asc_nulls_last, col("rk").asc_nulls_last)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 200),
        scored AS (
          SELECT qid, vec_id,
            round(
              list_sum(list_transform(list_zip(qv, embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
          FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
        ranked AS (
          SELECT qid, vec_id, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC NULLS LAST, vec_id ASC NULLS LAST) AS rk
          FROM scored)
        SELECT qid, CAST(rk AS INT) AS rk, vec_id, sim FROM ranked WHERE rk <= 10
        ORDER BY qid ASC NULLS LAST, rk ASC NULLS LAST""")),

    Q("n_kmeans_lloyd",
      "Two Lloyd iterations of cosine k-means (k=8, deterministic low-id seeds): broadcast centroids, map-only argmax assignment, dimension-exploded mean recompute, reassign — per-cell sizes and mean member similarity after the update step.",
      (s, dir) => {
        // r15: spread the single-split scan and use the fused codegen
        // cosine kernel (bit-identical accumulation; CosineSpec) in
        // place of the interpreted HOF — the k×n scoring loop is the
        // query's CPU (guide §2.5 + §4.1)
        val e = T.par(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val init = e.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("int").as("cell"), col("embedding").as("cvec"))
        def assign(cents: DataFrame): DataFrame = {
          val w = Window.partitionBy(col("vec_id"))
            .orderBy(col("simr").desc, col("cell").asc)
          e.crossJoin(broadcast(cents))
            .withColumn("simr", round(SimilarityQueries.cosine("embedding", "cvec"), 6))
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("cell"), col("vec_id"), col("embedding"), col("simr"))
        }
        // mean recompute in the dimension-exploded layout (same shape as
        // n_label_centroids): rounds each component so the reassignment
        // ranks identical values on both engines
        val cents1 = assign(init)
          .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("cell"), col("dim"))
          .agg(round(avg(col("x")), 6).as("c"))
          .groupBy(col("cell"))
          .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").as("cvec"))
        assign(cents1)
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_vecs"),
            meanExact(col("simr"), 6, 6).as("mean_sim"))
          .orderBy(col("cell").asc_nulls_last)
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cvec
               FROM e WHERE vec_id < 8),
        s1 AS (SELECT e.vec_id, c0.cell, e.embedding,
            round(
              list_sum(list_transform(list_zip(e.embedding, c0.cvec),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(c0.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS simr
          FROM e CROSS JOIN c0),
        a1 AS (SELECT vec_id, cell, embedding FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY simr DESC, cell ASC) AS rn FROM s1) t
          WHERE rn = 1),
        d1 AS (SELECT cell, CAST(pos AS INT) AS dim, round(avg(CAST(x AS DOUBLE)), 6) AS c
          FROM (SELECT cell, unnest(embedding) AS x,
                  unnest(generate_series(0, len(embedding) - 1)) AS pos FROM a1) t
          GROUP BY cell, pos),
        c1 AS (SELECT cell, list(c ORDER BY dim ASC) AS cvec FROM d1 GROUP BY cell),
        s2 AS (SELECT e.vec_id, c1.cell,
            round(
              list_sum(list_transform(list_zip(e.embedding, c1.cvec),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(c1.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS simr
          FROM e CROSS JOIN c1),
        a2 AS (SELECT vec_id, cell, simr FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY simr DESC, cell ASC) AS rn FROM s2) t
          WHERE rn = 1)
        SELECT cell, count(*) AS n_vecs,
          round(CAST(sum(CAST(round(simr, 6) AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mean_sim
        FROM a2 GROUP BY cell ORDER BY cell ASC NULLS LAST""")),

    Q("n_bpe_train",
      "BPE tokenizer training, 3 merge steps: pair frequencies aggregate over the word-frequency VOCAB (the classic formulation — the corpus text is scanned once to build it, never again), the argmax merge rule lives driver-side (O(merges) state, the parameter-server shape), and merges apply as anchored string rewrites identical on both engines. Exact integer counts + lexicographic ties = bit-deterministic.",
      (s, dir) => {
        import s.implicits._
        // the train query always runs the real loop (its cost IS the
        // benchmark claim)
        trainLoop(s, dir).toDF("step", "l_tok", "r_tok", "merged", "freq")
          .orderBy(col("step").asc_nulls_last)
      },
      Some("""WITH v0 AS (
          SELECT array_to_string(string_split(w, ''), ' ') AS spaced, cnt
          FROM (SELECT w, count(*) AS cnt
                FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
                WHERE len(w) > 0 GROUP BY w)),
        p1 AS (SELECT toks[i] AS l, toks[i + 1] AS r, cnt FROM (
            SELECT toks, cnt, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM (SELECT string_split(spaced, ' ') AS toks, cnt FROM v0) t0) t1),
        m1 AS (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS freq FROM p1 GROUP BY l, r
               ORDER BY freq DESC, l ASC, r ASC LIMIT 1),
        v1 AS (SELECT trim(replace(replace(' ' || spaced || ' ',
                 ' ' || m1.l || ' ' || m1.r || ' ', ' ' || m1.l || m1.r || ' '),
                 ' ' || m1.l || ' ' || m1.r || ' ', ' ' || m1.l || m1.r || ' ')) AS spaced, cnt
               FROM v0 CROSS JOIN m1),
        p2 AS (SELECT toks[i] AS l, toks[i + 1] AS r, cnt FROM (
            SELECT toks, cnt, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM (SELECT string_split(spaced, ' ') AS toks, cnt FROM v1) t0) t1),
        m2 AS (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS freq FROM p2 GROUP BY l, r
               ORDER BY freq DESC, l ASC, r ASC LIMIT 1),
        v2 AS (SELECT trim(replace(replace(' ' || spaced || ' ',
                 ' ' || m2.l || ' ' || m2.r || ' ', ' ' || m2.l || m2.r || ' '),
                 ' ' || m2.l || ' ' || m2.r || ' ', ' ' || m2.l || m2.r || ' ')) AS spaced, cnt
               FROM v1 CROSS JOIN m2),
        p3 AS (SELECT toks[i] AS l, toks[i + 1] AS r, cnt FROM (
            SELECT toks, cnt, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM (SELECT string_split(spaced, ' ') AS toks, cnt FROM v2) t0) t1),
        m3 AS (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS freq FROM p3 GROUP BY l, r
               ORDER BY freq DESC, l ASC, r ASC LIMIT 1)
        SELECT CAST(step AS INT) AS step, l_tok, r_tok, l_tok || r_tok AS merged, freq FROM (
          SELECT 1 AS step, l AS l_tok, r AS r_tok, freq FROM m1
          UNION ALL SELECT 2, l, r, freq FROM m2
          UNION ALL SELECT 3, l, r, freq FROM m3) u
        ORDER BY step ASC NULLS LAST""")),

    Q("n_char_entropy",
      "Byte-entropy quality signal (the compression-ratio-style gibberish detector): Shannon entropy of each document's UTF-8 bytes via the codegen'd CharEntropy kernel — one fused row-local loop, no per-char explode; gate at < 3.0 bits. Oracle computes character entropy, identical on this ASCII corpus.",
      (s, dir) =>
        T(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"),
            round(graft.functions.CharEntropy(col("text")), 6).as("char_entropy"))
          .withColumn("low_entropy", col("char_entropy") < 3.0)
          .orderBy(col("doc_id").asc_nulls_last),
      Some("""WITH freq AS (
          SELECT doc_id, ch, count(*) AS c
          FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
                FROM documents WHERE doc_id < 100) t
          GROUP BY doc_id, ch),
        tot AS (SELECT doc_id, sum(c) AS n FROM freq GROUP BY doc_id),
        h AS (SELECT f.doc_id,
            round(-sum((f.c / CAST(t.n AS DOUBLE)) * log2(f.c / CAST(t.n AS DOUBLE))), 6) AS char_entropy
          FROM freq f JOIN tot t ON f.doc_id = t.doc_id
          GROUP BY f.doc_id)
        SELECT doc_id, char_entropy, (char_entropy < 3.0) AS low_entropy
        FROM h ORDER BY doc_id ASC NULLS LAST""")),

    Q("n_quality_logreg",
      "Quality-classifier training: 3 full-batch GD iterations of logistic regression (predict the char-length quality gate from token-level features) — per-doc gradient contributions as fixed-scale decimals summed order-independently (exact allreduce), O(features) driver state.",
      (s, dir) => {
        val feats = logregFeatures(s, dir)
        // the train query always runs the real loop (its cost IS the
        // benchmark claim)
        val w = trainLogregLoop(s, dir)
        val p = logregP(w)
        feats.agg(
          lit(w._1).as("w0"), lit(w._2).as("w1"), lit(w._3).as("w2"),
          count(lit(1)).as("n_docs"),
          round(sum(when(expr(s"if($p >= 0.5, 1.0D, 0.0D)") === col("y"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("accuracy"),
          meanExact(expr(s"-(y * ln($p) + (1.0 - y) * ln(1.0 - $p))"), 8, 6).as("log_loss"))
      },
      Some(logregOracle)))

  /** Features from the token stream only (scaled word count +
    * uniqueness ratio, the n_quality_score spelling); label is the
    * n_chars >= 300 length gate the quality battery applies. Shared by
    * the trainer and the calibration evaluator.
    */
  private[queries] def logregFeatures(s: SparkSession, dir: String): DataFrame =
    // r15: spread the single-split scan — the tokenize + distinct-ratio
    // feature chain re-runs per GD iteration and per consumer (§2.5)
    T.par(s, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .select(
        when(col("n_chars") >= 300, 1.0d).otherwise(0.0d).as("y"),
        round(size(col("words")).cast("double") / 100.0d, 6).as("x1"),
        round(size(array_distinct(col("words"))).cast("double") / size(col("words")), 6).as("x2"))

  /** The sigmoid spelling, character-identical on both engines. */
  private[queries] def logregP(w: (Double, Double, Double)): String =
    s"(1.0/(1.0 + exp(-((${w._1}) + (${w._2}) * x1 + (${w._3}) * x2))))"

  /** 3 unrolled GD steps, lr=1. Weights cross the driver as rounded
    * doubles whose SQL literal round-trips exactly — the oracle's CTE
    * chain computes the identical sequence.
    */
  private[queries] def trainLogregLoop(s: SparkSession, dir: String)
      : (Double, Double, Double) = {
    val feats = logregFeatures(s, dir)
    var w = (0.0d, 0.0d, 0.0d)
    for (_ <- 1 to 3) {
      val p = logregP(w)
      val row = feats.agg(
        round(lit(w._1) - meanGrad(expr(s"$p - y")), 8).as("nw0"),
        round(lit(w._2) - meanGrad(expr(s"($p - y) * x1")), 8).as("nw1"),
        round(lit(w._3) - meanGrad(expr(s"($p - y) * x2")), 8).as("nw2")).head()
      w = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    }
    w
  }

  /** Trained weights, memoized until the session's release: train
    * once, evaluate many within a query. */
  private[queries] def trainLogreg(s: SparkSession, dir: String)
      : (Double, Double, Double) =
    Retained.memo(s, ("logreg.weights", dir))(trainLogregLoop(s, dir))

  /** The word-frequency vocab in char-spaced form, with the source word
    * carried: one corpus scan, retained for reuse by the training loop
    * AND the encoder (train once, apply many — the tokenizer lifecycle).
    */
  private[queries] def bpeVocab(s: SparkSession, dir: String): DataFrame =
    Retained(
      T(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(col("w"), array_join(split(col("w"), ""), " ").as("spaced"),
          col("cnt")))

  /** Anchored two-pass merge rewrite: ' l r ' -> ' lr ' on the space-
    * padded sequence. One replace() pass (left-to-right, non-
    * overlapping, both engines' semantics) consumes the shared boundary
    * space in runs, so the second pass catches the even-position merges
    * — both engines run the identical two passes, so results match even
    * on degenerate runs where textbook greedy BPE would need a third
    * (documented).
    */
  private[queries] def applyMerge(spaced: org.apache.spark.sql.Column,
      l: String, r: String): org.apache.spark.sql.Column = {
    val pat = lit(s" $l $r ")
    val rep = lit(s" $l$r ")
    val padded = concat(lit(" "), spaced, lit(" "))
    btrim(call_function("replace",
      call_function("replace", padded, pat, rep), pat, rep))
  }

  /** The 3-step BPE training loop: pair frequencies are an exact-integer
    * aggregate over vocab entries weighted by count, the argmax merge
    * rule is O(merges) driver state. Memoized per (session, dir) until
    * the session's release, so the encoder applies the trained rule
    * without re-running the loop — how a trained tokenizer is reused
    * downstream.
    */
  private[queries] def trainMerges(s: SparkSession, dir: String)
      : Seq[(Int, String, String, String, Long)] =
    Retained.memo(s, ("bpe.merges", dir))(trainLoop(s, dir))

  private def trainLoop(s: SparkSession, dir: String)
      : Seq[(Int, String, String, String, Long)] = {
    var cur = bpeVocab(s, dir)
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (step <- 1 to 3) {
      val withToks = cur.withColumn("toks", split(col("spaced"), " "))
        .withColumn("la", slice(col("toks"), lit(1), size(col("toks")) - 1))
        .withColumn("ra", slice(col("toks"), lit(2), size(col("toks")) - 1))
      val best = withToks
        .select(col("cnt"), explode(arrays_zip(col("la"), col("ra"))).as("p"))
        .groupBy(col("p.la").as("l"), col("p.ra").as("r"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("l").asc, col("r").asc)
        .limit(1).head()
      val (l, r, f) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((step, l, r, l + r, f))
      cur = cur.withColumn("spaced", applyMerge(col("spaced"), l, r))
    }
    merges.toSeq
  }

  /** Exact mean-gradient: per-row contribution rounded to 8 digits,
    * summed as DECIMAL (order-independent), divided once in double —
    * both engines see identical operands at every step.
    */
  private def meanGrad(c: org.apache.spark.sql.Column) =
    sum(round(c, 8).cast(org.apache.spark.sql.types.DecimalType(20, 8)))
      .cast("double") / count(lit(1))

  /** The shared oracle chain: features + the same 3 unrolled GD steps
    * as CTEs; every arithmetic spelling (promotion order, rounding
    * points) matches the Spark side character-for-character where
    * weights appear. The training oracle and the calibration oracle
    * both build on this prefix.
    */
  private[queries] lazy val logregChainSql: String = {
    def p(w0: String, w1: String, w2: String) =
      s"(1.0/(1.0 + exp(-(($w0) + ($w1) * x1 + ($w2) * x2))))"
    def grad(w0: String, w1: String, w2: String, mul: String) =
      s"CAST(sum(CAST(round((${p(w0, w1, w2)} - y)$mul, 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*)"
    def step(prev: String, next: String) =
      s"""$next AS (SELECT
            round(w0 - (${grad("w0", "w1", "w2", "")}), 8) AS w0,
            round(w1 - (${grad("w0", "w1", "w2", " * x1")}), 8) AS w1,
            round(w2 - (${grad("w0", "w1", "w2", " * x2")}), 8) AS w2
          FROM f CROSS JOIN $prev GROUP BY w0, w1, w2)"""
    s"""f AS (SELECT
          CASE WHEN n_chars >= 300 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y,
          round(CAST(len(words) AS DOUBLE) / 100.0, 6) AS x1,
          round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6) AS x2
        FROM (SELECT n_chars, string_split(text, ' ') AS words FROM documents) t),
      w0s AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1, CAST(0 AS DOUBLE) AS w2),
      ${step("w0s", "w1s")},
      ${step("w1s", "w2s")},
      ${step("w2s", "w3s")}"""
  }

  /** The sigmoid over the chain's final weights, SQL side. A def, not
    * a val: the query registry (declared earlier) forces the oracle
    * strings during object construction, before later vals initialize.
    */
  private[queries] def logregPfSql: String =
    "(1.0/(1.0 + exp(-((w0) + (w1) * x1 + (w2) * x2))))"

  private lazy val logregOracle: String = {
    val pf = logregPfSql
    s"""WITH $logregChainSql
      SELECT w0, w1, w2, count(*) AS n_docs,
        round(CAST(sum(CASE WHEN (CASE WHEN $pf >= 0.5 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) = y
              THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy,
        round(CAST(sum(CAST(round(-(y * ln($pf) + (1.0 - y) * ln(1.0 - $pf)), 8) AS DECIMAL(20,8))) AS DOUBLE)
          / count(*), 6) AS log_loss
      FROM f CROSS JOIN w3s GROUP BY w0, w1, w2
      ORDER BY w0 ASC NULLS LAST"""
  }
}
