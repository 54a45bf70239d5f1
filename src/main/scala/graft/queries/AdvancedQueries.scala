package graft.queries

import graft.{Q, QueryModule, T}
import graft.operators.{AsOfJoin, PositionalJoin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §7 step 5 — advanced operators: AS-OF join, positional
  * join, event-time windowing and sessionization over the `events`
  * table (batch semantics — the reference has no streaming plane,
  * SURVEY §2.2 J).
  *
  * Timestamp discipline: events.ts is ns in parquet; both engines are
  * driven through an explicit ns→µs truncation, and all time
  * arithmetic is done in integer microseconds (unix_micros/epoch_us),
  * never float seconds.
  */
object AdvancedQueries extends QueryModule {

  override val queries: Seq[Q] = Seq(
    Q("c_join_asof",
      "AS-OF join: each click joined to the user's most recent purchase at-or-before it (union-tag + last(ignoreNulls) window; DuckDB native ASOF as oracle).",
      (s, dir) => {
        val ev = T(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click" && col("user_id") < 30)
          .select(col("user_id"), col("event_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        AsOfJoin(clicks, purchases, "user_id", "ts", "ts",
            Map("value" -> "last_purchase_value", "ts" -> "last_purchase_ts"))
          .select(col("user_id"), col("event_id"),
            col("last_purchase_value"), col("last_purchase_ts"))
          .orderBy(col("user_id").asc_nulls_last, col("event_id").asc_nulls_last)
      },
      Some("""SELECT c.user_id, c.event_id, p.value AS last_purchase_value,
          CAST(p.ts AS TIMESTAMP) AS last_purchase_ts
        FROM (SELECT user_id, event_id, ts FROM events
              WHERE event_type = 'click' AND user_id < 30) c
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
              WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts >= p.ts
        ORDER BY c.user_id ASC NULLS LAST, c.event_id ASC NULLS LAST""")),

    Q("c_join_asof_forward",
      "FORWARD AS-OF join: each click joined to the user's NEXT purchase at-or-after it (the mirror of c_join_asof — DuckDB ASOF with c.ts <= p.ts as oracle; same time-bucket salting, scan direction reversed).",
      (s, dir) => {
        val ev = T(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click" && col("user_id") < 30)
          .select(col("user_id"), col("event_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        AsOfJoin(clicks, purchases, "user_id", "ts", "ts",
            Map("value" -> "next_purchase_value", "ts" -> "next_purchase_ts"),
            forward = true)
          .select(col("user_id"), col("event_id"),
            col("next_purchase_value"), col("next_purchase_ts"))
          .orderBy(col("user_id").asc_nulls_last, col("event_id").asc_nulls_last)
      },
      Some("""SELECT c.user_id, c.event_id, p.value AS next_purchase_value,
          CAST(p.ts AS TIMESTAMP) AS next_purchase_ts
        FROM (SELECT user_id, event_id, ts FROM events
              WHERE event_type = 'click' AND user_id < 30) c
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
              WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts <= p.ts
        ORDER BY c.user_id ASC NULLS LAST, c.event_id ASC NULLS LAST""")),

    Q("c_join_positional",
      "POSITIONAL JOIN: zip two sorted relations by row order via distributed zipWithIndex (no single-partition row_number).",
      (s, dir) => {
        val nat = T(s, dir, "nation").select(col("n_name"))
          .orderBy(col("n_name").asc_nulls_last)
        val reg = T(s, dir, "region").select(col("r_name"))
          .orderBy(col("r_name").asc_nulls_last)
        PositionalJoin(nat, reg)
          .select(col("pos"), col("n_name"), col("r_name"))
          .orderBy(col("pos").asc_nulls_last)
      },
      Some("""SELECT coalesce(n.pos, r.pos) AS pos, n.n_name, r.r_name
        FROM (SELECT n_name, row_number() OVER (ORDER BY n_name ASC) - 1 AS pos FROM nation) n
        FULL JOIN (SELECT r_name, row_number() OVER (ORDER BY r_name ASC) - 1 AS pos FROM region) r
          ON n.pos = r.pos
        ORDER BY pos ASC NULLS LAST""")),

    Q("j_tumbling_window",
      "Tumbling 1-hour event-time windows: window(ts,'1 hour') per event type.",
      (s, dir) =>
        T(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), graft.Exact.sumExact(col("value")).as("total"))
          .select(col("window.start").as("hour_start"), col("event_type"), col("n"), col("total"))
          .orderBy(col("hour_start").asc_nulls_last, col("event_type").asc_nulls_last),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
          count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE), 2) AS total
        FROM events GROUP BY 1, 2
        ORDER BY hour_start ASC NULLS LAST, event_type ASC NULLS LAST""")),

    Q("j_sliding_window",
      "Sliding windows (1 hour every 30 min): each event lands in two windows.",
      (s, dir) =>
        T(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"), graft.Exact.avgExact(col("value")).as("avg_value"))
          .select(col("window.start").as("win_start"), col("n"), col("avg_value"))
          .orderBy(col("win_start").asc_nulls_last),
      Some("""SELECT win_start, count(*) AS n,
          round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_value
        FROM (
          SELECT CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP))/1800)*1800) AS TIMESTAMP) AS win_start, value
          FROM events
          UNION ALL
          SELECT CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP))/1800)*1800 - 1800) AS TIMESTAMP) AS win_start, value
          FROM events) t
        GROUP BY win_start
        ORDER BY win_start ASC NULLS LAST""")),

    Q("j_sessionization",
      "Sessionization: 30-min inactivity gap → session ids via lag + running sum; per-session stats (all integer-µs arithmetic).",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
        T(s, dir, "events")
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("prev_us", lag(col("us"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_us").isNull || col("us") - col("prev_us") > 1800L * 1000000L, 1)
              .otherwise(0))
          .withColumn("sid", sum(col("new_sess"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("sid"))
          .agg(
            count(lit(1)).as("n_events"),
            min(col("event_id")).as("first_event"),
            round((max(col("us")) - min(col("us"))) / 1e6, 6).as("duration_s"))
          .filter(col("user_id") < 40)
          .orderBy(col("user_id").asc_nulls_last, col("sid").asc_nulls_last)
      },
      Some("""WITH e AS (
          SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        flagged AS (
          SELECT user_id, event_id, us,
            CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST)),
        sess AS (
          SELECT user_id, event_id, us,
            sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged)
        SELECT user_id, CAST(sid AS BIGINT) AS sid, count(*) AS n_events,
          min(event_id) AS first_event,
          round((max(us) - min(us)) / 1e6, 6) AS duration_s
        FROM sess WHERE user_id < 40
        GROUP BY user_id, sid
        ORDER BY user_id ASC NULLS LAST, sid ASC NULLS LAST""")),

    Q("j_session_window_native",
      "Native session_window(ts, '30 minutes') gap-merge aggregation (same semantics as j_sessionization, Spark-native operator).",
      (s, dir) =>
        T(s, dir, "events")
          .filter(col("user_id") < 40)
          .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("sw.start").as("session_start"), col("n_events"))
          .orderBy(col("user_id").asc_nulls_last, col("session_start").asc_nulls_last),
      Some("""WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events WHERE user_id < 40),
        flagged AS (
          SELECT user_id, ts, us,
            CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us ASC NULLS LAST)),
        sess AS (
          SELECT user_id, ts,
            sum(new_sess) OVER (PARTITION BY user_id ORDER BY us ASC NULLS LAST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged)
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id ASC NULLS LAST, session_start ASC NULLS LAST""")))
}
