package graft.queries

import graft.{Q, QueryModule, T}
import org.apache.spark.sql.functions._

/** Round-6 additions: quality-aware duplicate resolution — the
  * production dedup policy (keep the BEST member of each near-dup
  * cluster, not an arbitrary one) layered on the existing verified
  * pair graph + connected components.
  */
object Round6Queries extends QueryModule {

  override val queries: Seq[Q] = Seq(
    Q("n_dedup_keep_best",
      "Quality-aware near-dup survivorship: connected components over the verified Jaccard>=0.5 pair graph, then each cluster keeps its HIGHEST-QUALITY member (longest doc; ties break to min doc_id) instead of the arbitrary min-id — the policy real training pipelines use, since near-dup groups usually contain one full document and several truncated copies. Scale shape: the pair graph is the existing linear machinery, and connected components labels a graph of at most 2^18 verified edges on the driver (one bounded collect, 4 MB at the cap, and a union-find), a larger one by the distributed min-label fixpoint; the survivor pick adds two label-keyed partial aggregates and one co-partitioned self-join — nothing quadratic, and no collect beyond the bounded edge list.",
      (s, dir) => {
        val labels = DedupQueries.clusterLabels(s, dir)
        val docs = T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        val members = labels.join(docs, labels("id") === docs("doc_id"))
          .select(col("label"), col("doc_id"), col("n_chars"))
        val best = members.groupBy(col("label"))
          .agg(max(col("n_chars")).as("kept_chars"), count(lit(1)).as("n_members"))
        members.join(best, "label")
          .filter(col("n_chars") === col("kept_chars"))
          .groupBy(col("label").as("cluster_id"), col("kept_chars"), col("n_members"))
          .agg(min(col("doc_id")).as("kept_doc"))
          .select(col("cluster_id"), col("kept_doc"), col("kept_chars"),
            col("n_members"))
          .orderBy(col("cluster_id").asc_nulls_last)
      },
      Some("""WITH RECURSIVE sh AS (
          SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
               LATERAL (SELECT unnest(generate_series(0, len(w) - 3)) AS i) g),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        cpairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        jp AS (
          SELECT id_a, id_b FROM cpairs
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM jp
          UNION SELECT id_b, id_a FROM jp),
        reach AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        labels AS (
          SELECT u AS id, least(u, min(v)) AS label FROM reach GROUP BY u),
        members AS (
          SELECT l.label, l.id AS doc_id, d.n_chars
          FROM labels l JOIN documents d ON d.doc_id = l.id),
        best AS (
          SELECT label, max(n_chars) AS kept_chars, count(*) AS n_members
          FROM members GROUP BY label)
        SELECT m.label AS cluster_id, min(m.doc_id) AS kept_doc,
          b.kept_chars, b.n_members
        FROM members m JOIN best b ON m.label = b.label AND m.n_chars = b.kept_chars
        GROUP BY m.label, b.kept_chars, b.n_members
        ORDER BY cluster_id ASC NULLS LAST""")),

    Q("n_dsir_importance",
      "DSIR-style importance weights (Data Selection via Importance Resampling, public method: per-doc log-likelihood ratio between a TARGET domain LM and the RAW corpus LM, here in unigram form): target = source 'src0', raw = every other source, add-one smoothing over the joint vocabulary; each doc scores mean_w[log2 p_target(w) - log2 p_raw(w)] — positive means 'looks like the target domain', the resampling key for domain-matched pretraining mixes. Cross-engine exactness: every log2 operand is an exact integer-valued double (counts and totals, never pre-divided ratios), so both engines sum identical IEEE values. Scale shape: two token-keyed count aggregates (the two LMs) joined back on the SAME token key (co-partitioned, never broadcast), one doc-keyed mean, scalar totals via one-row broadcast — all linear, nothing collected.",
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(lower(col("text")), " ")).as("w"))
          .filter(length(col("w")) > 0)
        val isT = col("source") === "src0"
        val counts = toks.groupBy(col("w")).agg(
          sum(when(isT, 1L).otherwise(0L)).as("ct"),
          sum(when(isT, 0L).otherwise(1L)).as("cr"))
        val totals = counts.agg(
          sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
          count(lit(1)).as("v"))
        toks.join(counts, Seq("w"))
          .groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(log2(col("ct") + 1) - log2(col("cr") + 1)).as("sumdiff"))
          .crossJoin(broadcast(totals))
          .filter(col("doc_id") < 300)
          .select(col("doc_id"), (col("source") === "src0").as("is_target"),
            col("n_tokens"),
            round((col("sumdiff") / col("n_tokens"))
              - log2(col("nt") + col("v")) + log2(col("nr") + col("v")), 6)
              .as("mean_importance"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some("""WITH toks AS (
          SELECT doc_id, source, w FROM (
            SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
            FROM documents) t
          WHERE len(w) > 0),
        counts AS (
          SELECT w,
            sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
            sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS cr
          FROM toks GROUP BY w),
        totals AS (
          SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM counts)
        SELECT doc_id, (source = 'src0') AS is_target, n_tokens,
          round(sumdiff / n_tokens - log2(nt + v) + log2(nr + v), 6)
            AS mean_importance
        FROM (SELECT doc_id, source, count(*) AS n_tokens,
                sum(log2(ct + 1) - log2(cr + 1)) AS sumdiff
              FROM toks JOIN counts USING (w)
              GROUP BY doc_id, source) d, totals
        WHERE doc_id < 300
        ORDER BY doc_id ASC NULLS LAST""")),

    Q("n_e2e_prep_pipeline",
      "End-to-end preprocessing capstone as ONE DAG: normalize (lower + whitespace collapse) -> quality gate (>=100 chars, >=20 tokens) -> exact dedup on normalized text (keep min id) -> 64/48 sliding-window chunking, reporting per-language funnel counts (in -> quality -> unique -> chunks/tokens). This is the query a user runs nightly; expressing it as one DataFrame DAG means Catalyst fuses normalize+gate into the scan projection, the dedup aggregate partial-aggregates map-side, and chunk accounting is arithmetic on token counts (no chunk text is ever materialized, let alone shuffled). Every stage count is an exact integer, so the funnel hashes identically cross-engine.",
      (s, dir) => {
        // r15: measured a spread here — it LOST (1.3 s → 1.5 s: two
        // consumers re-read the exchange carrying full text); the fused
        // scan projection stays.
        val gated = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("t"))
          .withColumn("n_toks", size(split(col("t"), " ")))
          .withColumn("q", length(col("t")) >= 100 && col("n_toks") >= 20)
        val kept = gated.filter(col("q"))
          .groupBy(col("lang"), col("t"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_copies"), max(col("n_toks")).as("n_toks"))
        val inStats = gated.groupBy(col("lang")).agg(
          count(lit(1)).as("docs_in"),
          sum(when(col("q"), 1L).otherwise(0L)).as("docs_quality"))
        val dedupStats = kept.groupBy(col("lang")).agg(
          count(lit(1)).as("docs_unique"),
          sum(col("n_copies") - 1).as("docs_dropped_dup"),
          sum(col("n_toks")).as("tokens_kept"))
        val chunkStats = kept
          .select(col("lang"), explode(expr(
            "transform(sequence(0, n_toks - 1, 48), x -> least(64, n_toks - x))"))
            .as("chunk_len"))
          .groupBy(col("lang")).agg(
            count(lit(1)).as("n_chunks"), sum(col("chunk_len")).as("chunk_tokens"))
        // LEFT joins: a language whose docs ALL fail the gate still
        // reports its funnel row (zeros), it does not vanish
        inStats.join(dedupStats, Seq("lang"), "left")
          .join(chunkStats, Seq("lang"), "left")
          .select(col("lang"), col("docs_in"), col("docs_quality"),
            coalesce(col("docs_unique"), lit(0L)).as("docs_unique"),
            coalesce(col("docs_dropped_dup"), lit(0L)).as("docs_dropped_dup"),
            coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
            coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
            coalesce(col("chunk_tokens"), lit(0L)).as("chunk_tokens"))
          .orderBy(col("lang").asc_nulls_last)
      },
      Some("""WITH g AS (
          SELECT doc_id, lang, t, CAST(len(string_split(t, ' ')) AS INT) AS n_toks,
            (len(t) >= 100 AND len(string_split(t, ' ')) >= 20) AS q
          FROM (SELECT doc_id, lang,
                  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                FROM documents) n),
        kept AS (
          SELECT lang, t, min(doc_id) AS keep_id, count(*) AS n_copies,
            max(n_toks) AS n_toks
          FROM g WHERE q GROUP BY lang, t),
        instats AS (
          SELECT lang, count(*) AS docs_in,
            CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS docs_quality
          FROM g GROUP BY lang),
        dstats AS (
          SELECT lang, count(*) AS docs_unique,
            CAST(sum(n_copies - 1) AS BIGINT) AS docs_dropped_dup,
            CAST(sum(n_toks) AS BIGINT) AS tokens_kept
          FROM kept GROUP BY lang),
        cstats AS (
          SELECT lang, count(*) AS n_chunks,
            CAST(sum(chunk_len) AS BIGINT) AS chunk_tokens
          FROM (SELECT lang, least(64, n_toks - x) AS chunk_len
                FROM kept, LATERAL (SELECT unnest(generate_series(0, n_toks - 1, 48)) AS x) s)
          GROUP BY lang)
        SELECT lang, docs_in, docs_quality,
          COALESCE(docs_unique, 0) AS docs_unique,
          COALESCE(docs_dropped_dup, 0) AS docs_dropped_dup,
          COALESCE(tokens_kept, 0) AS tokens_kept,
          COALESCE(n_chunks, 0) AS n_chunks,
          COALESCE(chunk_tokens, 0) AS chunk_tokens
        FROM instats LEFT JOIN dstats USING (lang) LEFT JOIN cstats USING (lang)
        ORDER BY lang ASC NULLS LAST""")))
}
