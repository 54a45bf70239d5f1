package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 seventh batch — mixture-design forensics (reference
  * scope: fb64/uquery-rs exposes arbitrary SQL over corpus tables,
  * src/core/duckdb.rs:87; these are the curation programs built on
  * that surface):
  *
  *   - n_loo_domain_influence — leave-one-out domain influence: each
  *     source's bits-per-token under the full unigram LM vs under the
  *     LM trained WITHOUT it (computable from the SAME two aggregates
  *     — no retraining pass), the data-Shapley-lite signal behind
  *     "does the mixture actually need this source".
  *   - n_quality_kendall — Kendall tau-b rank agreement between two
  *     document quality scorers — the check before trusting a cheap
  *     filter as a proxy for an expensive one.
  *   - n_mixture_epochs — repetition planning per token budget: how
  *     many epochs of each source a budget implies at its mixture
  *     weight, flagging the >4-epoch repetition cliff (Muennighoff et
  *     al. 2023, "Scaling Data-Constrained Language Models").
  */
object Round11gQueries extends QueryModule {

  override val queries: Seq[Q] = Seq(

    Q("n_loo_domain_influence",
      "Leave-one-out domain influence (data-Shapley-lite; the 'does the corpus need this source' signal behind mixture ablations): each source's held-in bits-per-token under the add-one-smoothed GLOBAL unigram LM versus under the LM with the source REMOVED — computed from the same token-keyed aggregates (loo count = global count minus domain count; no second training pass), influence = bpt_loo - bpt_in (high = the rest of the corpus cannot model this source; ~0 = redundant). Per-token log2 terms round to 6 and weight by exact integer counts into decimal sums, so both engines accumulate identical rationals. Scale shape: one corpus scan to the (source, token) relation, the global model is the token-keyed rollup of that SAME relation (co-partitioned join back on the token key, never broadcast — vocab is huge at 100 TB), vocab size rides along as a one-row broadcast; everything partial-aggregates.",
      (s, dir) => {
        // r15: spread the single-split doc scan (guide §2.5)
        val dt = T.par(s, dir, "documents")
          .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
          .filter(length(col("w")) > 0)
        val domTok = Retained(
          dt.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_dw")))
        val model = domTok.groupBy(col("w")).agg(sum(col("c_dw")).as("c_w"))
        val domTot = Retained(
          domTok.groupBy(col("source"))
            .agg(sum(col("c_dw")).cast("bigint").as("t_d")))
        val glob = domTot.agg(sum(col("t_d")).cast("bigint").as("t"))
          .crossJoin(broadcast(
            model.agg(count(lit(1)).cast("bigint").as("v"))))
        // full model: p(w) = (c_w + 1) / (t + v); leave-one-out model:
        // p(w) = (c_w - c_dw + 1) / (t - t_d + v) — both readable off
        // the SAME (source, token) relation, decimal-exact sums
        val scored = domTok.join(model, Seq("w"))
          .join(broadcast(domTot), Seq("source"))
          .crossJoin(broadcast(glob))
          .select(col("source"), col("t_d"),
            (col("c_dw") * round(log2((col("c_w") + 1).cast("double")
              / (col("t") + col("v"))), 6).cast(DecimalType(28, 6)))
              .as("term_in"),
            (col("c_dw") * round(log2((col("c_w") - col("c_dw") + 1).cast("double")
              / (col("t") - col("t_d") + col("v"))), 6).cast(DecimalType(28, 6)))
              .as("term_loo"))
          .groupBy(col("source"))
          .agg(max(col("t_d")).as("n_tokens"),
            sum(col("term_in")).as("s_in"), sum(col("term_loo")).as("s_loo"))
        scored
          .select(col("source"), col("n_tokens"),
            round(-col("s_in").cast("double") / col("n_tokens"), 6).as("bpt_in"),
            round(-col("s_loo").cast("double") / col("n_tokens"), 6).as("bpt_loo"))
          .withColumn("influence", round(col("bpt_loo") - col("bpt_in"), 6))
          .withColumn("verdict",
            when(col("influence") >= 0.5, "load_bearing")
              .when(col("influence") >= 0.1, "useful")
              .otherwise("redundant"))
          .orderBy(col("source").asc_nulls_last)
      },
      Some("""WITH dt AS (
          SELECT source, w FROM (
            SELECT source, unnest(string_split(lower(text), ' ')) AS w FROM documents) t
          WHERE len(w) > 0),
        domtok AS (SELECT source, w, count(*) AS c_dw FROM dt GROUP BY source, w),
        model AS (SELECT w, sum(c_dw) AS c_w FROM domtok GROUP BY w),
        domtot AS (SELECT source, CAST(sum(c_dw) AS BIGINT) AS t_d FROM domtok GROUP BY source),
        gl AS (SELECT (SELECT CAST(sum(t_d) AS BIGINT) FROM domtot) AS t,
                       (SELECT CAST(count(*) AS BIGINT) FROM model) AS v),
        scored AS (
          SELECT d.source, dt2.t_d,
            sum(d.c_dw * CAST(round(log2(CAST(m.c_w + 1 AS DOUBLE) / (g.t + g.v)), 6) AS DECIMAL(28,6))) AS s_in,
            sum(d.c_dw * CAST(round(log2(CAST(m.c_w - d.c_dw + 1 AS DOUBLE) / (g.t - dt2.t_d + g.v)), 6) AS DECIMAL(28,6))) AS s_loo
          FROM domtok d
          JOIN model m USING (w)
          JOIN domtot dt2 ON d.source = dt2.source
          CROSS JOIN gl g
          GROUP BY d.source, dt2.t_d)
        SELECT source, t_d AS n_tokens,
          round(-CAST(s_in AS DOUBLE) / t_d, 6) AS bpt_in,
          round(-CAST(s_loo AS DOUBLE) / t_d, 6) AS bpt_loo,
          round(round(-CAST(s_loo AS DOUBLE) / t_d, 6)
            - round(-CAST(s_in AS DOUBLE) / t_d, 6), 6) AS influence,
          CASE WHEN round(round(-CAST(s_loo AS DOUBLE) / t_d, 6)
                 - round(-CAST(s_in AS DOUBLE) / t_d, 6), 6) >= 0.5 THEN 'load_bearing'
               WHEN round(round(-CAST(s_loo AS DOUBLE) / t_d, 6)
                 - round(-CAST(s_in AS DOUBLE) / t_d, 6), 6) >= 0.1 THEN 'useful'
               ELSE 'redundant' END AS verdict
        FROM scored
        ORDER BY source ASC NULLS LAST""")),

    Q("n_quality_kendall",
      "Kendall tau-b rank agreement between two quality scorers (the check a pipeline runs before trusting a cheap filter as a proxy for an expensive one): scorer A = mean word length, scorer B = type-token ratio, both row-local over the doc_id < 300 evaluation slice; every unordered doc pair classifies as concordant / discordant / tied-in-A / tied-in-B from exact 6-rounded scores, and tau_b = (C - D) / sqrt((C + D + Tx) * (C + D + Ty)). Scale shape: scoring is one row-local pass; the pair relation carries only (id, s1, s2) scalars over the bounded evaluation slice (at corpus scale the slice is a fixed-size sample — pair count is slice-quadratic by definition of the statistic, never corpus-quadratic).",
      (s, dir) => {
        val scored = Retained(
          T(s, dir, "documents").filter(col("doc_id") < 300)
            .select(col("doc_id"),
              filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
            .select(col("doc_id"),
              round(expr("aggregate(ws, 0L, (a, w) -> a + length(w))")
                .cast("double") / size(col("ws")), 6).as("s1"),
              round(size(array_distinct(col("ws"))).cast("double")
                / size(col("ws")), 6).as("s2")))
        val a = scored.select(col("doc_id").as("ia"), col("s1").as("x1"),
          col("s2").as("y1"))
        val b = scored.select(col("doc_id").as("ib"), col("s1").as("x2"),
          col("s2").as("y2"))
        val pairs = a.join(b, col("ia") < col("ib"))
          .select(
            when(col("x1") === col("x2"), 0)
              .otherwise(when(col("y1") === col("y2"), 0)
                .otherwise(when((col("x1") < col("x2")) === (col("y1") < col("y2")), 1)
                  .otherwise(-1))).as("cd"),
            (col("x1") === col("x2")).cast("int").as("tx"),
            (col("y1") === col("y2")).cast("int").as("ty"))
        pairs.agg(
            count(lit(1)).cast("bigint").as("n_pairs"),
            sum(when(col("cd") === 1, 1).otherwise(0)).cast("bigint").as("concordant"),
            sum(when(col("cd") === -1, 1).otherwise(0)).cast("bigint").as("discordant"),
            sum(col("tx")).cast("bigint").as("ties_a"),
            sum(col("ty")).cast("bigint").as("ties_b"))
          .withColumn("tau_b", round(
            (col("concordant") - col("discordant")).cast("double")
              / sqrt((col("concordant") + col("discordant") + col("ties_a")).cast("double")
                * (col("concordant") + col("discordant") + col("ties_b")).cast("double")), 6))
      },
      Some("""WITH scored AS (
          SELECT doc_id,
            round(CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws), 6) AS s1,
            round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS s2
          FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
                FROM documents WHERE doc_id < 300)),
        pairs AS (
          SELECT CASE WHEN a.s1 = b.s1 THEN 0
                      WHEN a.s2 = b.s2 THEN 0
                      WHEN (a.s1 < b.s1) = (a.s2 < b.s2) THEN 1 ELSE -1 END AS cd,
                 CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END AS tx,
                 CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END AS ty
          FROM scored a JOIN scored b ON a.doc_id < b.doc_id),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_pairs,
            CAST(sum(CASE WHEN cd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
            CAST(sum(CASE WHEN cd = -1 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
            CAST(sum(tx) AS BIGINT) AS ties_a,
            CAST(sum(ty) AS BIGINT) AS ties_b
          FROM pairs)
        SELECT n_pairs, concordant, discordant, ties_a, ties_b,
          round(CAST(concordant - discordant AS DOUBLE)
            / sqrt(CAST(concordant + discordant + ties_a AS DOUBLE)
                 * CAST(concordant + discordant + ties_b AS DOUBLE)), 6) AS tau_b
        FROM agg""")),

    Q("n_mixture_epochs",
      "Repetition planning per token budget (Muennighoff et al. 2023, 'Scaling Data-Constrained Language Models' — repeated data stops helping after ~4 epochs): sources draw at TEMPERATURE-smoothed mixture weights q_d proportional to p_d^0.3 (the XLM-R recipe — proportional weights would make epochs identical across sources by construction), so for each training budget (10^4, 10^5, 10^6 tokens) the allocation implies epochs = budget * q_d / source_tokens — low-resource sources hit the >4-epoch repetition cliff FIRST, exactly the phenomenon the planning table exists to surface. Scale shape: the corpus reduces to the per-source token-count relation in one partial-combined aggregate; the smoothing and the plan are arithmetic on #sources x 3 rows with totals broadcast in-DAG.",
      (s, dir) => {
        import s.implicits._
        val tok = T(s, dir, "documents")
          .select(col("source"),
            size(filter(split(col("text"), " "), w => length(w) > 0))
              .cast("bigint").as("n"))
          .groupBy(col("source")).agg(sum(col("n")).cast("bigint").as("tokens"))
        val tot = tok.agg(sum(col("tokens")).cast("bigint").as("total"))
        val p = Retained(
          tok.crossJoin(broadcast(tot))
            .withColumn("p", round(col("tokens").cast("double") / col("total"), 6))
            .withColumn("q_raw", round(pow(col("p"), 0.3), 6)))
        val z = p.agg(
          sum(col("q_raw").cast(DecimalType(18, 6))).cast("double").as("z"))
        val budgets = Seq(10000L, 100000L, 1000000L).toDF("budget")
        p.crossJoin(broadcast(z)).crossJoin(broadcast(budgets))
          .withColumn("weight", round(col("q_raw") / col("z"), 6))
          .withColumn("allocated", round(col("budget") * col("weight"), 2))
          .withColumn("epochs",
            round(col("budget") * col("weight") / col("tokens"), 6))
          .withColumn("verdict",
            when(col("epochs") > 4.0, "repetition_cliff")
              .when(col("epochs") > 1.0, "repeats")
              .otherwise("fresh"))
          .select(col("budget"), col("source"), col("tokens"), col("weight"),
            col("allocated"), col("epochs"), col("verdict"))
          .orderBy(col("budget").asc_nulls_last, col("source").asc_nulls_last)
      },
      Some("""WITH tok AS (
          SELECT source,
            CAST(sum(len(list_filter(string_split(text, ' '), w -> len(w) > 0))) AS BIGINT) AS tokens
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM tok),
        p AS (SELECT source, tokens,
                round(CAST(tokens AS DOUBLE) / total, 6) AS p,
                round(pow(round(CAST(tokens AS DOUBLE) / total, 6), 0.3), 6) AS q_raw
              FROM tok CROSS JOIN tot),
        z AS (SELECT CAST(sum(CAST(q_raw AS DECIMAL(18,6))) AS DOUBLE) AS z FROM p),
        b AS (SELECT CAST(unnest([10000, 100000, 1000000]) AS BIGINT) AS budget)
        SELECT budget, source, tokens,
          round(q_raw / z.z, 6) AS weight,
          round(budget * round(q_raw / z.z, 6), 2) AS allocated,
          round(budget * round(q_raw / z.z, 6) / tokens, 6) AS epochs,
          CASE WHEN round(budget * round(q_raw / z.z, 6) / tokens, 6) > 4.0
               THEN 'repetition_cliff'
               WHEN round(budget * round(q_raw / z.z, 6) / tokens, 6) > 1.0
               THEN 'repeats' ELSE 'fresh' END AS verdict
        FROM p CROSS JOIN z CROSS JOIN b
        ORDER BY budget ASC NULLS LAST, source ASC NULLS LAST"""))
  )
}
