package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 ninth batch — preference-data and robust-statistics
  * forensics (reference scope: fb64/uquery-rs exposes arbitrary SQL
  * over corpus tables, src/core/duckdb.rs:87):
  *
  *   - n_pref_consistency — transitivity audit of pairwise preference
  *     outcomes: majority-direction edges between items, count of
  *     cyclic triads (A beats B beats C beats A) vs transitive ones —
  *     the consistency check run on RLHF preference data before
  *     fitting Bradley–Terry (a fit over cyclic preferences is
  *     garbage-in).
  *   - n_trimmed_stats — 10% two-sided trimmed means of document
  *     length per language vs the raw mean — the robust-statistics
  *     pass that stops a handful of giant documents from skewing
  *     quality cutoffs.
  */
object Round11iQueries extends QueryModule {

  override val queries: Seq[Q] = Seq(

    Q("n_pref_consistency",
      "Preference-transitivity audit (the garbage-in check before any Bradley-Terry/Elo fit — a preference relation with many cyclic triads cannot be summarized by scalar strengths): comparisons are the n_pref_bradley_terry outcome pairs (consecutive same-user events, higher value wins, ties dropped), each unordered item pair gets a MAJORITY direction (wins one way vs the other; exact ties drop), and every item triple with all three majority edges classifies as transitive or CYCLIC — reporting both counts and the violation rate. Scale shape: the comparison log reduces to the k^2 pair-majority relation in one aggregate; the triad enumeration is a 3-way join over that k-item relation (k = 5 event types here; at any realistic item count the triad space is k^3 over a model-sized relation, never corpus-sized).",
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
        // unordered-pair majority direction: lo/hi + net wins for lo
        val maj = Retained(comps
          .select(least(col("winner"), col("loser")).as("lo"),
            greatest(col("winner"), col("loser")).as("hi"),
            when(col("winner") < col("loser"), 1).otherwise(-1).as("d"))
          .groupBy(col("lo"), col("hi"))
          .agg(sum(col("d")).as("net"))
          .filter(col("net") =!= 0)
          .select(
            when(col("net") > 0, col("lo")).otherwise(col("hi")).as("src"),
            when(col("net") > 0, col("hi")).otherwise(col("lo")).as("dst")))
        val e = maj.select(col("src"), col("dst"))
        // a directed 3-cycle a→b→c→a counts once (a = the smallest
        // endpoint); a transitive triple a→b→c with a→c counts once
        // (roles fixed by the directions)
        val cyc = e.as("e1")
          .join(e.as("e2"), col("e1.dst") === col("e2.src"))
          .join(e.as("e3"), col("e2.dst") === col("e3.src")
            && col("e3.dst") === col("e1.src"))
          .filter(col("e1.src") < col("e2.src") && col("e1.src") < col("e3.src"))
          .agg(count(lit(1)).cast("bigint").as("cyclic_triads"))
        val trans = e.as("e1")
          .join(e.as("e2"), col("e1.dst") === col("e2.src"))
          .join(e.as("e3"), col("e1.src") === col("e3.src")
            && col("e2.dst") === col("e3.dst"))
          .agg(count(lit(1)).cast("bigint").as("transitive_triads"))
        val edges = e.agg(count(lit(1)).cast("bigint").as("n_edges"))
        edges.crossJoin(broadcast(cyc)).crossJoin(broadcast(trans))
          .select(col("n_edges"), col("cyclic_triads"), col("transitive_triads"),
            round(col("cyclic_triads").cast("double")
              / greatest(col("cyclic_triads") + col("transitive_triads"), lit(1L)),
              6).as("violation_rate"),
            when(col("cyclic_triads") === 0, "consistent")
              .otherwise("cyclic_preferences").as("verdict"))
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
        maj AS (
          SELECT CASE WHEN net > 0 THEN lo ELSE hi END AS src,
                 CASE WHEN net > 0 THEN hi ELSE lo END AS dst
          FROM (SELECT least(winner, loser) AS lo, greatest(winner, loser) AS hi,
                  sum(CASE WHEN winner < loser THEN 1 ELSE -1 END) AS net
                FROM comps GROUP BY 1, 2)
          WHERE net <> 0),
        cyc AS (
          SELECT CAST(count(*) AS BIGINT) AS cyclic_triads
          FROM maj e1 JOIN maj e2 ON e1.dst = e2.src
               JOIN maj e3 ON e2.dst = e3.src AND e3.dst = e1.src
          WHERE e1.src < e2.src AND e1.src < e3.src),
        trans AS (
          SELECT CAST(count(*) AS BIGINT) AS transitive_triads
          FROM maj e1 JOIN maj e2 ON e1.dst = e2.src
               JOIN maj e3 ON e1.src = e3.src AND e2.dst = e3.dst),
        edges AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM maj)
        SELECT n_edges, cyclic_triads, transitive_triads,
          round(CAST(cyclic_triads AS DOUBLE)
            / greatest(cyclic_triads + transitive_triads, 1), 6) AS violation_rate,
          CASE WHEN cyclic_triads = 0 THEN 'consistent'
               ELSE 'cyclic_preferences' END AS verdict
        FROM edges, cyc, trans""")),

    Q("n_trimmed_stats",
      "Robust per-language length statistics (the winsorization pass before length-based quality cutoffs — a handful of giant documents otherwise drags every mean): per language, the 10% two-sided TRIMMED mean of n_chars (drop floor(n/10) rows from each end of the keyed sort, exact-decimal mean of the middle) next to the raw mean, with the relative shift the trim induces. Scale shape: one keyed rank window per language (bounded per-language state), exact-integer sums — no global sort, no collect.",
      (s, dir) => {
        val d = T(s, dir, "documents").select(col("lang"), col("n_chars"))
        val win = Window.partitionBy(col("lang"))
          .orderBy(col("n_chars").asc_nulls_last)
        val ranked = Retained(
          d.withColumn("rk", row_number().over(win))
            .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang")))))
        val trimmed = ranked
          .filter(col("rk") > expr("n div 10")
            && col("rk") <= col("n") - expr("n div 10"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast("bigint").as("kept"),
            round(sum(col("n_chars").cast(DecimalType(18, 0))).cast("double")
              / count(lit(1)), 6).as("trimmed_mean"))
        val raw = d.groupBy(col("lang"))
          .agg(count(lit(1)).cast("bigint").as("n_docs"),
            round(sum(col("n_chars").cast(DecimalType(18, 0))).cast("double")
              / count(lit(1)), 6).as("raw_mean"))
        raw.join(trimmed, Seq("lang"))
          .withColumn("shift", round(
            (col("trimmed_mean") - col("raw_mean")) / col("raw_mean"), 6))
          .select(col("lang"), col("n_docs"), col("kept"), col("raw_mean"),
            col("trimmed_mean"), col("shift"))
          .orderBy(col("lang").asc_nulls_last)
      },
      Some("""WITH ranked AS (
          SELECT lang, n_chars,
            row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC NULLS LAST) AS rk,
            count(*) OVER (PARTITION BY lang) AS n
          FROM documents),
        trimmed AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS kept,
            round(CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / count(*), 6) AS trimmed_mean
          FROM ranked
          WHERE rk > n // 10 AND rk <= n - (n // 10)
          GROUP BY lang),
        raw AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            round(CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / count(*), 6) AS raw_mean
          FROM documents GROUP BY lang)
        SELECT raw.lang, n_docs, kept, raw_mean, trimmed_mean,
          round((trimmed_mean - raw_mean) / raw_mean, 6) AS shift
        FROM raw JOIN trimmed ON raw.lang = trimmed.lang
        ORDER BY raw.lang ASC NULLS LAST"""))
  )
}
