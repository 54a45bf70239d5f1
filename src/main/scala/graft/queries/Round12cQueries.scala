package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-12c batch — statistical rigor for pipeline decisions
  * (reference scope: fb64/uquery-rs exposes arbitrary SQL over corpus
  * tables, src/core/duckdb.rs:87; these are the uncertainty/tail
  * programs a data team runs before trusting a filter or a metric).
  *
  *   - n_conformal_quality_gate — split-conformal quality gate: a
  *     distribution-free threshold with a finite-sample coverage
  *     guarantee (Vovk et al.; the modern answer to "where do I set
  *     the quality cutoff?"), exact order-statistic threshold from a
  *     bounded calibration slice.
  *   - n_hill_tail_fit — the Hill MLE for the power-law tail exponent
  *     of 3-gram frequencies at several tail depths: the
  *     maximum-likelihood complement to n_zipf_fit's OLS slope (OLS on
  *     log-log ranks is biased in the tail; Hill is the estimator a
  *     careful corpus-health check uses).
  *   - n_bootstrap_ci — percentile-bootstrap confidence interval for
  *     the mean document quality score with MD5-seeded DETERMINISTIC
  *     resampling (the same portable construction every sketch in the
  *     repo uses), so both engines draw identical resamples: the
  *     uncertainty a dashboard should print next to any corpus metric.
  */
object Round12cQueries extends QueryModule {

  /** Uniqueness-ratio quality score (the n_token_budget scorer):
    * distinct-token share, rounded to 6 so both engines rank and sum
    * identical operands.
    */
  private def scored(s: org.apache.spark.sql.SparkSession, dir: String) =
    T(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
      .select(col("doc_id"),
        round(size(array_distinct(col("ws"))).cast("double")
          / size(col("ws")), 6).as("s"))

  private val ScoreSql =
    """round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)"""

  override val queries: Seq[Q] = Seq(

    Q("n_conformal_quality_gate",
      "Split-conformal quality gate (distribution-free, finite-sample coverage guarantee): the doc_id<200 calibration slice ranks by the uniqueness quality score, the threshold is the exact k-th LARGEST calibration score with k = ceil((n_cal+1)*(1-alpha)) at alpha=0.1 computed in INTEGER arithmetic ((9*(n+1)+9) DIV 10 — never a double ceil that can straddle an exact multiple), and every apply-slice doc flags iff its score falls below the threshold; under exchangeability the flag rate concentrates near alpha, which the output reports next to the guarantee inputs. Scale shape: the calibration slice is bounded by contract (at corpus scale a fixed-size sample — the n_quality_kendall convention), the threshold relation is ONE row broadcast against the linear apply scan.",
      (s, dir) => {
        val sc = Retained(scored(s, dir))
        val cal = sc.filter(col("doc_id") < 200)
        val kRel = cal.agg(count(lit(1)).as("n_cal"))
          .withColumn("k", expr("CAST((9 * (n_cal + 1) + 9) DIV 10 AS BIGINT)"))
        val wCal = Window.partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("s").desc_nulls_last, col("doc_id").asc_nulls_last)
        val thr = cal.withColumn("r", row_number().over(wCal))
          .crossJoin(broadcast(kRel))
          .filter(col("r") === col("k"))
          .select(col("n_cal"), col("k"), col("s").as("threshold"))
        scored(s, dir).filter(col("doc_id") >= 200)
          .crossJoin(broadcast(thr))
          .groupBy(col("n_cal"), col("k"), col("threshold"))
          .agg(count(lit(1)).as("n_apply"),
            sum((col("s") < col("threshold")).cast("long")).as("n_flagged"))
          .select(lit(0.1).as("alpha"), col("n_cal"), col("k"),
            col("threshold"), col("n_apply"), col("n_flagged"),
            round(col("n_flagged").cast("double") / col("n_apply"), 6)
              .as("flag_rate"))
      },
      Some(s"""WITH sc AS (SELECT doc_id, $ScoreSql AS s FROM (
            SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
            FROM documents) z),
        cal AS (SELECT doc_id, s FROM sc WHERE doc_id < 200),
        kr AS (SELECT count(*) AS n_cal,
            CAST((9 * (count(*) + 1) + 9) // 10 AS BIGINT) AS k FROM cal),
        thr AS (SELECT kr.n_cal, kr.k, r.s AS threshold FROM (
            SELECT s, row_number() OVER (ORDER BY s DESC NULLS LAST, doc_id ASC NULLS LAST) AS r
            FROM cal) r CROSS JOIN kr WHERE r.r = kr.k)
        SELECT CAST(0.1 AS DOUBLE) AS alpha, thr.n_cal, thr.k, thr.threshold,
          count(*) AS n_apply,
          CAST(sum(CASE WHEN sc.s < thr.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
          round(CAST(sum(CASE WHEN sc.s < thr.threshold THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS flag_rate
        FROM sc CROSS JOIN thr WHERE sc.doc_id >= 200
        GROUP BY thr.n_cal, thr.k, thr.threshold""")),

    Q("n_hill_tail_fit",
      "Hill MLE for the power-law tail exponent of 3-gram frequencies at tail depths k in (10, 20, 40): alpha_hat(k) = k / sum_{i<=k}(ln f_(i) - ln f_(k+1)) over the frequency order statistics — the maximum-likelihood complement to n_zipf_fit's OLS slope (OLS on log-log ranks is tail-biased; comparing the two IS the diagnostic). Ranks run over the VOCAB relation (constant-keyed window — the documented place a single-partition window is the design: the type vocabulary is orders of magnitude smaller than the corpus), log terms round to 8 before exact-decimal summation. Scale shape: one gram-keyed count aggregate, a k<=40-row tail slice joined to a 3-row depth relation.",
      (s, dir) => {
        // r15: spread the single-split scan so the 3-gram zip explode
        // parallelizes (guide §2.5 — the n_heaps_law shape)
        val freq = T.par(s, dir, "documents")
          .select(col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
          .select(
            slice(col("ws"), lit(1), size(col("ws")) - 2).as("a1"),
            slice(col("ws"), lit(2), size(col("ws")) - 2).as("a2"),
            slice(col("ws"), lit(3), size(col("ws")) - 2).as("a3"))
          .select(explode(arrays_zip(col("a1"), col("a2"), col("a3"))).as("p"))
          .select(concat_ws(" ", col("p.a1"), col("p.a2"), col("p.a3")).as("g"))
          .groupBy(col("g")).agg(count(lit(1)).as("f"))
        val wRank = Window.partitionBy(pmod(length(col("g")), lit(1)))
          .orderBy(col("f").desc_nulls_last, col("g").asc_nulls_last)
        val ranked = Retained(
          freq.withColumn("r", row_number().over(wRank)).filter(col("r") <= 41)
            .select(col("r"), col("f"),
              round(log(col("f").cast("double")), 8).as("lnf")))
        val ks = broadcast(ranked.sparkSession.range(1)
          .select(explode(typedLit(Seq(10, 20, 40))).as("k")))
        val cut = ranked.join(ks, col("r") === col("k") + 1)
          .select(col("k"), col("f").as("f_cut"), col("lnf").as("ln_cut"))
        ranked.join(broadcast(cut), col("r") <= col("k"))
          .groupBy(col("k"), col("f_cut"), col("ln_cut"))
          .agg(sum(col("lnf").cast(DecimalType(20, 8))).cast("double").as("sln"))
          .select(col("k"), col("f_cut"),
            round(col("k") / (col("sln") - col("k") * col("ln_cut")), 6)
              .as("alpha_hill"))
          .orderBy(col("k").asc_nulls_last)
      },
      Some("""WITH t3 AS (SELECT list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
            FROM documents),
        tok AS (SELECT ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g FROM (
            SELECT ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM t3) z),
        freq AS (SELECT g, count(*) AS f FROM tok GROUP BY g),
        ranked AS (SELECT r, f, round(ln(CAST(f AS DOUBLE)), 8) AS lnf FROM (
            SELECT f, g, row_number() OVER (ORDER BY f DESC NULLS LAST, g ASC NULLS LAST) AS r
            FROM freq) z WHERE r <= 41),
        ks AS (SELECT unnest([10, 20, 40]) AS k),
        cut AS (SELECT ks.k, ranked.f AS f_cut, ranked.lnf AS ln_cut
                FROM ranked JOIN ks ON ranked.r = ks.k + 1)
        SELECT cut.k, cut.f_cut,
          round(cut.k / (CAST(sum(CAST(ranked.lnf AS DECIMAL(20,8))) AS DOUBLE)
            - cut.k * cut.ln_cut), 6) AS alpha_hill
        FROM ranked JOIN cut ON ranked.r <= cut.k
        GROUP BY cut.k, cut.f_cut, cut.ln_cut
        ORDER BY k ASC NULLS LAST""")),

    Q("n_bootstrap_ci",
      "Percentile-bootstrap confidence interval for the mean quality score with DETERMINISTIC MD5-seeded resampling: B=50 resamples over the doc_id<300 evaluation slice, draw (b, j) picks doc md5('boot:b:j') mod 300 (the repo's portable hash construction — both engines draw IDENTICAL resamples, the only way a bootstrap can be oracle-checked cross-engine), resample means from exact-decimal sums, CI = nearest-rank 2.5%/97.5% order statistics of the 50 means (ranks 2 and 49), bootstrap SE from exact-decimal sum/sum-of-squares. Scale shape: the slice is a fixed-size evaluation sample by contract, the draws relation is B*n rows of (b, idx) integers, resample means reduce to a 50-row relation.",
      (s, dir) => {
        val sc = scored(s, dir).filter(col("doc_id") < 300)
        val one = sc.agg(count(lit(1)).as("n_docs"),
          round(sum(col("s").cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 6).as("mean_full"))
        val draws = one.select(col("n_docs"), col("mean_full"),
            explode(sequence(lit(0), lit(49))).as("b"))
          .select(col("n_docs"), col("mean_full"), col("b"),
            explode(sequence(lit(0), lit(299))).as("j"))
          .withColumn("doc_id", expr(
            """CAST(conv(substr(md5(concat('boot:', CAST(b AS STRING), ':',
               CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT) % 300"""))
        val means = draws.join(sc, Seq("doc_id"))
          .groupBy(col("n_docs"), col("mean_full"), col("b"))
          .agg(round(sum(col("s").cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 6).as("m"))
        val wM = Window.partitionBy(pmod(col("b"), lit(1)))
          .orderBy(col("m").asc_nulls_last, col("b").asc_nulls_last)
        means.withColumn("r", row_number().over(wM))
          .groupBy(col("n_docs"), col("mean_full"))
          .agg(count(lit(1)).as("n_boot"),
            max(when(col("r") === 2, col("m"))).as("ci_lo"),
            max(when(col("r") === 49, col("m"))).as("ci_hi"),
            sum(col("m").cast(DecimalType(18, 6))).cast("double").as("sm"),
            sum(round(col("m") * col("m"), 10).cast(DecimalType(24, 10)))
              .cast("double").as("sm2"))
          .select(col("n_docs"), col("n_boot"), col("mean_full"),
            col("ci_lo"), col("ci_hi"),
            round(sqrt((col("sm2") - col("sm") * col("sm") / col("n_boot"))
              / (col("n_boot") - 1)), 6).as("se_boot"))
      },
      Some(s"""WITH sc AS (SELECT doc_id, $ScoreSql AS s FROM (
            SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
            FROM documents) z WHERE doc_id < 300),
        one AS (SELECT count(*) AS n_docs,
            round(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_full
          FROM sc),
        draws AS (SELECT n_docs, mean_full, b, j,
            list_reduce(list_transform(range(1, 9),
              i -> CAST(strpos('0123456789abcdef',
                substr(md5('boot:' || b || ':' || j), i, 1)) - 1 AS BIGINT)),
              (a, c) -> a * 16 + c) % 300 AS doc_id
          FROM one, (SELECT unnest(generate_series(0, 49)) AS b) bb,
            (SELECT unnest(generate_series(0, 299)) AS j) jj),
        means AS (SELECT n_docs, mean_full, b,
            round(CAST(sum(CAST(sc.s AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS m
          FROM draws JOIN sc ON draws.doc_id = sc.doc_id
          GROUP BY n_docs, mean_full, b),
        rk AS (SELECT n_docs, mean_full, m,
            row_number() OVER (ORDER BY m ASC NULLS LAST, b ASC NULLS LAST) AS r
          FROM means)
        SELECT n_docs, count(*) AS n_boot, mean_full,
          max(CASE WHEN r = 2 THEN m END) AS ci_lo,
          max(CASE WHEN r = 49 THEN m END) AS ci_hi,
          round(sqrt((CAST(sum(CAST(round(m * m, 10) AS DECIMAL(24,10))) AS DOUBLE)
              - CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE)
                * CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) / count(*))
            / (count(*) - 1)), 6) AS se_boot
        FROM rk GROUP BY n_docs, mean_full""")))
}
