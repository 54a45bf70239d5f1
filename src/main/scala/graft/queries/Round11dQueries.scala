package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 fourth batch — the human-feedback / provenance tiers a
  * training-data pipeline runs around its corpus tables (reference
  * scope: fb64/uquery-rs exposes arbitrary SQL over corpus tables,
  * src/core/duckdb.rs:87; these are the curation programs built on
  * that surface):
  *
  *   - n_pref_bradley_terry — Bradley–Terry strength estimation over
  *     pairwise preference outcomes (the RLHF preference-data fit;
  *     Hunter 2004 MM iterations), with deterministic exact-decimal
  *     accumulation so both engines converge to identical strengths.
  *   - n_kappa_agreement — Cohen's kappa between two rule annotators:
  *     the chance-corrected agreement a labeling pipeline reports
  *     before trusting auto-labels.
  *   - n_domain_gate_apply — per-source reputation rollup (dup rate,
  *     short-doc fraction, length score) to a keep / downsample /
  *     drop decision, APPLIED back to the corpus via a broadcast of
  *     the domain verdicts — the C4/RefinedWeb domain-gate shape.
  *   - n_turn_structure — dialogue-log structure QA: role runs, turn
  *     counts, monologue maxima and strict-alternation flags per
  *     conversation — the validity battery instruction-tuning data
  *     passes before formatting.
  *   - n_lang_sampling_temp — exponentiated-smoothing language
  *     sampling (the XLM-R / mBERT α-recipe, Conneau et al. 2020):
  *     q_l ∝ p_l^α with α = 0.3, upsampling multipliers and expected
  *     post-sampling document mass per language.
  */
object Round11dQueries extends QueryModule {

  /** Deterministic per-row keep-hash for downsampling (the
    * n_kmv_distinct 52-bit construction, distinct salt). */
  private def h52(salt: String, key: Column): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 13), 16, 10)
      .cast("bigint")

  override val queries: Seq[Q] = Seq(

    Q("n_pref_bradley_terry",
      "Bradley-Terry preference-strength fit (Hunter 2004 MM algorithm — the model under RLHF preference data, Elo and arena leaderboards): comparisons are consecutive same-user event pairs where the higher value wins (ties dropped), pair outcomes aggregate to win/game counts per ordered item pair, then two MM iterations p_i <- w_i / sum_j n_ij/(p_i+p_j) from p=1, each denominator an exact-decimal sum of 6-rounded terms so accumulation order cannot drift the fit between engines, strengths normalized to sum 1. Scale shape: the comparison log reduces to the k^2 pair-count relation in one partial-combined aggregate (items << comparisons — here 5 event types vs all event pairs); the MM iterations run entirely on that k^2 relation, so at 100 TB the corpus is scanned once and the fit costs k^2-row joins.",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
        val comps = T(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .filter(col("prev_type").isNotNull
            && col("prev_type") =!= col("event_type")
            && col("value") =!= col("prev_value"))
          .select(
            when(col("value") > col("prev_value"), col("event_type"))
              .otherwise(col("prev_type")).as("winner"),
            when(col("value") > col("prev_value"), col("prev_type"))
              .otherwise(col("event_type")).as("loser"))
        // the k^2 pair-count relation: ONE distributed aggregate
        // (items << comparisons — 5 event types), collected as the
        // model. r15: the MM fit now runs DRIVER-SIDE on that k²-row
        // model (k² ≤ 25) — the parameter-server shape n_bpe_train and
        // the IVF centroids already use — replacing ~12 tiny
        // broadcast/shuffle stages whose scheduling dominated the
        // query (3.7 s → ~1 s at sf0.1; guide §1.2: fix the
        // distributed algorithm first). Arithmetic reproduces the
        // relational form operation-for-operation: 6-rounding is
        // BigDecimal HALF_UP (Spark's round), denominators/totals sum
        // exact scale-6 decimals (order-free), divisions are the same
        // double ops — bit-identical to the previous plan and to the
        // unchanged DuckDB oracle.
        val pwRows = comps.groupBy(col("winner"), col("loser"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val games = scala.collection.mutable.Map.empty[(String, String), Long]
        pwRows.foreach { case (wn, ls, n) =>
          games((wn, ls)) = games.getOrElse((wn, ls), 0L) + n
          games((ls, wn)) = games.getOrElse((ls, wn), 0L) + n
        }
        val wins = pwRows.groupBy(_._1).map { case (a, xs) => a -> xs.map(_._3).sum }
        val items = games.keys.map(_._1).toSeq.distinct.sorted
        val gamesTot = items.map(a =>
          a -> games.collect { case ((x, _), g) if x == a => g }.sum).toMap
        def exactSum(xs: Iterable[Double]): Double =
          xs.map(java.math.BigDecimal.valueOf(_).setScale(6, java.math.RoundingMode.HALF_UP))
            .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue()
        def step(p: Map[String, Double]): Map[String, Double] =
          items.map { a =>
            val den = exactSum(games.toSeq.collect {
              case ((x, b), g) if x == a => r6(g.toDouble / (p(a) + p(b))) })
            a -> r6(wins.getOrElse(a, 0L).toDouble / den)
          }.toMap
        val p2 = step(step(items.map(_ -> 1.0d).toMap))
        val ptot = exactSum(items.map(p2))
        val ranked = items
          .map(a => (a, wins.getOrElse(a, 0L), gamesTot(a), r6(p2(a) / ptot)))
          .sortBy { case (a, _, _, st) => (-st, a) }
          .zipWithIndex
          .map { case ((a, w0, g0, st), i) => (a, w0, g0, st, i + 1) }
        import s.implicits._
        ranked.toDF("item", "wins", "games", "strength", "rank")
          .orderBy(col("rank").asc_nulls_last)
      },
      Some("""WITH ev AS (
          SELECT user_id, ts, event_id, event_type, value,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS prev_type,
            lag(value)      OVER (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS prev_value
          FROM events),
        comps AS (
          SELECT CASE WHEN value > prev_value THEN event_type ELSE prev_type END AS winner,
                 CASE WHEN value > prev_value THEN prev_type ELSE event_type END AS loser
          FROM ev
          WHERE prev_type IS NOT NULL AND prev_type <> event_type AND value <> prev_value),
        pw AS (SELECT winner, loser, count(*) AS n FROM comps GROUP BY winner, loser),
        games AS (SELECT a, b, sum(n) AS g FROM (
            SELECT winner AS a, loser AS b, n FROM pw
            UNION ALL SELECT loser AS a, winner AS b, n FROM pw) GROUP BY a, b),
        base AS (SELECT g.a, CAST(sum(g.g) AS BIGINT) AS games,
                   CAST(coalesce(any_value(w.w), 0) AS BIGINT) AS w
                 FROM games g LEFT JOIN (
                   SELECT winner AS a, CAST(sum(n) AS BIGINT) AS w FROM pw GROUP BY winner) w
                   ON g.a = w.a
                 GROUP BY g.a),
        p0 AS (SELECT a, 1.0::DOUBLE AS p FROM base),
        p1 AS (SELECT t.a, round(b.w / t.den, 6) AS p FROM (
                 SELECT g.a, CAST(sum(CAST(round(g.g / (pa.p + pb.p), 6) AS DECIMAL(18,6))) AS DOUBLE) AS den
                 FROM games g JOIN p0 pa ON g.a = pa.a JOIN p0 pb ON g.b = pb.a
                 GROUP BY g.a) t JOIN base b ON t.a = b.a),
        p2 AS (SELECT t.a, round(b.w / t.den, 6) AS p FROM (
                 SELECT g.a, CAST(sum(CAST(round(g.g / (pa.p + pb.p), 6) AS DECIMAL(18,6))) AS DOUBLE) AS den
                 FROM games g JOIN p1 pa ON g.a = pa.a JOIN p1 pb ON g.b = pb.a
                 GROUP BY g.a) t JOIN base b ON t.a = b.a),
        tot AS (SELECT CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS ptot FROM p2)
        SELECT p2.a AS item, b.w AS wins, b.games,
          round(p2.p / tot.ptot, 6) AS strength,
          CAST(row_number() OVER (ORDER BY round(p2.p / tot.ptot, 6) DESC NULLS LAST, p2.a ASC NULLS LAST) AS INTEGER) AS rank
        FROM p2 CROSS JOIN tot JOIN base b ON p2.a = b.a
        ORDER BY rank ASC NULLS LAST""")),

    Q("n_kappa_agreement",
      "Cohen's kappa between two rule annotators (the chance-corrected inter-annotator agreement a labeling pipeline reports before trusting auto-labels): annotator A flags docs with n_chars >= 300, annotator B flags docs with >= 50 words, the 2x2 confusion rolls up in one aggregate and kappa = (po - pe) / (1 - pe) computes from exact integer counts — observed agreement, chance agreement, marginal positive rates all reported. Scale shape: classification is row-local, the confusion matrix is a 4-counter partial-combined aggregate — one corpus scan, O(1) state, no shuffle wider than one row.",
      (s, dir) => {
        val lab = T(s, dir, "documents").select(
          (col("n_chars") >= 300).cast("int").as("a"),
          (size(filter(split(col("text"), " "), w => length(w) > 0)) >= 50)
            .cast("int").as("b"))
        val m = lab.agg(
          count(lit(1)).as("n"),
          sum(col("a") * col("b")).cast("bigint").as("n11"),
          sum(col("a") * (lit(1) - col("b"))).cast("bigint").as("n10"),
          sum((lit(1) - col("a")) * col("b")).cast("bigint").as("n01"),
          sum((lit(1) - col("a")) * (lit(1) - col("b"))).cast("bigint").as("n00"))
        m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
            round((col("n11") + col("n00")).cast("double") / col("n"), 6)
              .as("po"),
            round(((col("n11") + col("n10")) * (col("n11") + col("n01"))
              + (col("n01") + col("n00")) * (col("n10") + col("n00")))
              .cast("double") / (col("n") * col("n")), 6).as("pe"))
          .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
            col("po"), col("pe"),
            round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6)
              .as("kappa"),
            round((col("n11") + col("n10")).cast("double") / col("n"), 6)
              .as("rate_a"),
            round((col("n11") + col("n01")).cast("double") / col("n"), 6)
              .as("rate_b"))
      },
      Some("""WITH lab AS (
          SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
                 CASE WHEN len(list_filter(string_split(text, ' '), w -> len(w) > 0)) >= 50
                      THEN 1 ELSE 0 END AS b
          FROM documents),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(a * b) AS BIGINT) AS n11,
                CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
                CAST(sum((1 - a) * b) AS BIGINT) AS n01,
                CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
              FROM lab),
        s AS (SELECT n, n11, n10, n01, n00,
                round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po,
                round(CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
                  / (n * n), 6) AS pe
              FROM m)
        SELECT n, n11, n10, n01, n00, po, pe,
          round((po - pe) / (1.0 - pe), 6) AS kappa,
          round(CAST(n11 + n10 AS DOUBLE) / n, 6) AS rate_a,
          round(CAST(n11 + n01 AS DOUBLE) / n, 6) AS rate_b
        FROM s""")),

    Q("n_domain_gate_apply",
      "Per-domain reputation gate (the C4/RefinedWeb source-level curation step): each source rolls up to doc count, exact-dup rate (1 - distinct text digests / docs), short-doc fraction and a length score, combines to a 0-1 reputation, maps to a keep / downsample / drop verdict, and the verdict is APPLIED back to the corpus — downsampled domains keep the deterministic half of their docs by keep-hash, dropped domains keep none — reporting kept counts and the realized retention per domain. Scale shape: the rollup is one partial-combined aggregate to a domains-cardinality relation (sources << docs), the verdict relation broadcasts back for the apply pass, and only digests ever shuffle — document bodies stay put.",
      (s, dir) => {
        val d = T(s, dir, "documents")
        val rep = Retained(
          d.groupBy(col("source")).agg(
            count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_distinct"),
            sum((col("n_chars") < 200).cast("int")).cast("bigint").as("n_short"),
            sum(col("n_chars").cast(DecimalType(18, 0))).cast("double")
              .as("sum_chars"))
          .select(col("source"), col("n_docs"),
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_docs"), 6)
              .as("dup_rate"),
            round(col("n_short").cast("double") / col("n_docs"), 6)
              .as("short_frac"),
            round(least(col("sum_chars") / col("n_docs") / 400.0, lit(1.0)), 6)
              .as("len_score")))
        val verdict = rep.select(col("source"),
            round(lit(0.5) * (lit(1.0) - col("dup_rate"))
              + lit(0.3) * (lit(1.0) - col("short_frac"))
              + lit(0.2) * col("len_score"), 6).as("reputation"))
          .withColumn("verdict",
            when(col("reputation") >= 0.88, "keep")
              .when(col("reputation") >= 0.82, "downsample")
              .otherwise("drop"))
        val kept = d.join(broadcast(verdict), Seq("source"))
          .filter(col("verdict") === "keep"
            || (col("verdict") === "downsample"
              && h52("graft-domain:", col("doc_id")) % 2 === 0))
          .groupBy(col("source")).agg(count(lit(1)).as("kept"))
        rep.join(verdict, Seq("source")).join(kept, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("dup_rate"),
            col("short_frac"), col("len_score"), col("reputation"),
            col("verdict"), coalesce(col("kept"), lit(0L)).as("kept_docs"),
            round(coalesce(col("kept"), lit(0L)).cast("double")
              / col("n_docs"), 6).as("retention"))
          .orderBy(col("source").asc_nulls_last)
      },
      Some("""WITH rep AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 6) AS dup_rate,
            round(CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS short_frac,
            round(least(CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / count(*) / 400.0, 1.0), 6) AS len_score
          FROM documents GROUP BY source),
        v AS (SELECT source, n_docs, dup_rate, short_frac, len_score,
                round(0.5 * (1.0 - dup_rate) + 0.3 * (1.0 - short_frac) + 0.2 * len_score, 6) AS reputation
              FROM rep),
        v2 AS (SELECT *, CASE WHEN reputation >= 0.88 THEN 'keep'
                              WHEN reputation >= 0.82 THEN 'downsample'
                              ELSE 'drop' END AS verdict
               FROM v),
        kept AS (SELECT d.source, CAST(count(*) AS BIGINT) AS kept
                 FROM documents d JOIN v2 ON d.source = v2.source
                 WHERE v2.verdict = 'keep'
                    OR (v2.verdict = 'downsample'
                        AND CAST(concat('0x', substr(md5('graft-domain:' || CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 2 = 0)
                 GROUP BY d.source)
        SELECT v2.source, v2.n_docs, v2.dup_rate, v2.short_frac, v2.len_score,
          v2.reputation, v2.verdict,
          CAST(coalesce(kept.kept, 0) AS BIGINT) AS kept_docs,
          round(CAST(coalesce(kept.kept, 0) AS DOUBLE) / v2.n_docs, 6) AS retention
        FROM v2 LEFT JOIN kept ON v2.source = kept.source
        ORDER BY v2.source ASC NULLS LAST""")),

    Q("n_turn_structure",
      "Dialogue-log structure QA (the validity battery instruction-tuning data passes before chat-template formatting): each user's event stream is a conversation, event types map to speaker roles (click/view/signup -> 'user', purchase/error -> 'assistant'), and per conversation the battery reports event count, turn count (role-change islands), longest same-role monologue per side, opening/closing roles and the strict-alternation flag. Scale shape: role mapping is row-local; runs and turns come from one lag window + one island aggregate over conversation-bounded partitions — the corpus shuffles once on conversation id, text never moves.",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
        val roled = T(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type").isin("click", "view", "signup"), "user")
              .otherwise("assistant").as("role"))
          .withColumn("chg",
            (lag(col("role"), 1).over(w).isNull
              || lag(col("role"), 1).over(w) =!= col("role")).cast("int"))
          .withColumn("island", sum(col("chg")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val runs = roled.groupBy(col("user_id"), col("island"), col("role"))
          .agg(count(lit(1)).as("run_len"))
        runs.groupBy(col("user_id")).agg(
            sum(col("run_len")).cast("bigint").as("n_events"),
            count(lit(1)).cast("int").as("n_turns"),
            max(when(col("role") === "user", col("run_len")).otherwise(0L))
              .cast("bigint").as("max_user_run"),
            max(when(col("role") === "assistant", col("run_len")).otherwise(0L))
              .cast("bigint").as("max_assistant_run"),
            min(struct(col("island"), col("role"))).getField("role")
              .as("opens_with"),
            max(struct(col("island"), col("role"))).getField("role")
              .as("closes_with"),
            (max(col("run_len")) === 1).cast("int").as("strict_alternation"))
          .orderBy(col("user_id").asc_nulls_last)
      },
      Some("""WITH roled AS (
          SELECT user_id, ts, event_id,
            CASE WHEN event_type IN ('click','view','signup') THEN 'user' ELSE 'assistant' END AS role
          FROM events),
        chg AS (SELECT user_id, ts, event_id, role,
                  CASE WHEN lag(role) OVER w IS NULL OR lag(role) OVER w <> role THEN 1 ELSE 0 END AS chg
                FROM roled
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)),
        isl AS (SELECT user_id, role,
                  sum(chg) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM chg),
        runs AS (SELECT user_id, island, role, count(*) AS run_len
                 FROM isl GROUP BY user_id, island, role)
        SELECT user_id, CAST(sum(run_len) AS BIGINT) AS n_events,
          CAST(count(*) AS INTEGER) AS n_turns,
          CAST(coalesce(max(CASE WHEN role = 'user' THEN run_len END), 0) AS BIGINT) AS max_user_run,
          CAST(coalesce(max(CASE WHEN role = 'assistant' THEN run_len END), 0) AS BIGINT) AS max_assistant_run,
          arg_min(role, island) AS opens_with,
          arg_max(role, island) AS closes_with,
          CAST(CASE WHEN max(run_len) = 1 THEN 1 ELSE 0 END AS INTEGER) AS strict_alternation
        FROM runs GROUP BY user_id
        ORDER BY user_id ASC NULLS LAST""")),

    Q("n_lang_sampling_temp",
      "Exponentiated-smoothing language sampling (Conneau et al. 2020, the XLM-R multinomial alpha-recipe; mBERT and mT5 use the same construction): per-language document shares p_l exponentiate to q_l proportional to p_l^alpha (alpha = 0.3), normalized by an exact-decimal sum of 6-rounded terms, yielding the upsampling multiplier q_l/p_l low-resource languages receive and each language's expected document mass after sampling the corpus size once. Scale shape: the corpus reduces to the per-language count relation in one partial-combined aggregate (languages << docs); the total is a one-row aggregate broadcast back in-DAG; the smoothing itself is arithmetic on a languages-cardinality relation.",
      (s, dir) => {
        val cnt = T(s, dir, "documents")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val tot = cnt.agg(sum(col("n_docs")).cast("bigint").as("total"))
        val p = Retained(
          cnt.crossJoin(broadcast(tot))
            .withColumn("p", round(col("n_docs").cast("double") / col("total"), 6))
            .withColumn("q_raw", round(pow(col("p"), 0.3), 6)))
        val z = p.agg(
          sum(col("q_raw").cast(DecimalType(18, 6))).cast("double").as("z"))
        p.crossJoin(broadcast(z))
          .select(col("lang"), col("n_docs"), col("total"), col("p"),
            round(col("q_raw") / col("z"), 6).as("q"),
            round(col("q_raw") / col("z") / col("p"), 6).as("upsample_mult"),
            round(col("q_raw") / col("z") * col("total"), 2)
              .as("expected_docs"))
          .orderBy(col("lang").asc_nulls_last)
      },
      Some("""WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
        tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM cnt),
        p AS (SELECT lang, n_docs, total,
                round(CAST(n_docs AS DOUBLE) / total, 6) AS p,
                round(pow(round(CAST(n_docs AS DOUBLE) / total, 6), 0.3), 6) AS q_raw
              FROM cnt CROSS JOIN tot),
        z AS (SELECT CAST(sum(CAST(q_raw AS DECIMAL(18,6))) AS DOUBLE) AS z FROM p)
        SELECT lang, n_docs, total, p,
          round(q_raw / z.z, 6) AS q,
          round(q_raw / z.z / p, 6) AS upsample_mult,
          round(q_raw / z.z * total, 2) AS expected_docs
        FROM p CROSS JOIN z
        ORDER BY lang ASC NULLS LAST"""))
  )
}
