package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 fifth batch — the data-engineering tiers between a raw
  * crawl and a training mixture (reference scope: fb64/uquery-rs
  * exposes arbitrary SQL over corpus tables, src/core/duckdb.rs:87;
  * these are the curation programs built on that surface):
  *
  *   - n_record_linkage — Fellegi–Sunter probabilistic record linkage
  *     (the 1969 model under Splink and every dedupe-by-fields tool):
  *     blocked candidate pairs, per-field agreement log-odds weights
  *     with data-estimated u-probabilities, match/possible/non-match
  *     classification.
  *   - n_doremi_reweight — one multiplicative-weights step of
  *     DoReMi-style domain reweighting (Xie et al. 2023): per-domain
  *     excess bits-per-token under the global unigram LM drives
  *     exp-tilted mixture weights.
  *   - n_encoding_audit — mojibake / encoding-artifact audit
  *     (replacement chars, double-encoded UTF-8 'Ã' bigrams, NBSP
  *     runs, C0 controls) with deterministically planted artifacts,
  *     rolled up to per-source artifact rates and verdicts.
  *   - n_packing_efficiency — sequence-packing efficiency curve per
  *     context length: one-doc-per-sequence utilization + truncation
  *     loss vs concat-and-chunk packing utilization (the GPT-style
  *     packing accounting every pre-training data team keeps).
  */
object Round11eQueries extends QueryModule {

  override val queries: Seq[Q] = Seq(

    Q("n_record_linkage",
      "Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter 1969 — the model under Splink/dedupe-style entity resolution): an incoming BATCH (the 2000 lowest part keys — linkage load is the arriving-records rate, independent of reference-corpus size; an unbounded self-join's pair space grows quadratically with the data, the n_mmr_rerank precedent) links against the full corpus; candidate pairs block on (p_brand, p_size), three field comparisons (type equality, name head-word equality, retail price within 50.0) score log2(m/u) on agreement and log2((1-m)/(1-u)) on disagreement, with u-probabilities for type and head ESTIMATED from the data (chance-agreement rate sum n_v*(n_v-1)/(N*(N-1)) over the value-frequency relation) and fixed priors m=(0.95,0.9,0.8), u_price=0.05; total weight classifies match / possible / non_match. Scale shape: pairs exist only inside (brand,size) blocks and only batch×corpus — never corpus all-pairs; the u-estimates are one-row aggregates over value-frequency relations broadcast back; at 100 TB the batch bound AND the block key are the knobs.",
      (s, dir) => {
        val p = T(s, dir, "part").select(
          col("p_partkey").as("k"), col("p_brand").as("brand"),
          col("p_size").as("size"), col("p_type").as("ptype"),
          split(col("p_name"), " ").getItem(0).as("head"),
          col("p_retailprice").as("price"))
        // the fixed incoming batch: a no-op at the sf0.01 correctness
        // fixture (2000 parts exactly); caps the pair space linearly
        // at scale. batch = lowest keys, so every (batch, corpus) pair
        // satisfies ak < bk and within-batch pairs count once — the
        // unordered-pair output is complete for the batch.
        val batch = p.orderBy(col("k")).limit(2000)
        val n = p.agg(count(lit(1)).cast("bigint").as("n_rows"))
        def uEst(c: String) = p.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt") * (col("cnt") - 1)).cast("bigint").as("agree"))
          .crossJoin(broadcast(n))
          .select(round(col("agree").cast("double")
            / (col("n_rows") * (col("n_rows") - 1)), 6).as(s"u_$c"))
        val a = batch.select(col("k").as("ak"), col("brand"), col("size"),
          col("ptype").as("at"), col("head").as("ah"), col("price").as("ap"))
        val b = p.select(col("k").as("bk"), col("brand"), col("size"),
          col("ptype").as("bt"), col("head").as("bh"), col("price").as("bp"))
        val pairs = a.join(b, Seq("brand", "size")).filter(col("ak") < col("bk"))
          .crossJoin(broadcast(uEst("ptype"))).crossJoin(broadcast(uEst("head")))
          .withColumn("ag_type", (col("at") === col("bt")).cast("int"))
          .withColumn("ag_head", (col("ah") === col("bh")).cast("int"))
          .withColumn("ag_price", (abs(col("ap") - col("bp")) <= 50.0).cast("int"))
        // per-field log-odds: identical operands on both engines (u is
        // 6-rounded, m literal), one log2, one round — bit-stable
        val scored = pairs
          .withColumn("w_type", when(col("ag_type") === 1,
              round(log2(lit(0.95) / col("u_ptype")), 6))
            .otherwise(round(log2(lit(0.05) / (lit(1.0) - col("u_ptype"))), 6)))
          .withColumn("w_head", when(col("ag_head") === 1,
              round(log2(lit(0.9) / col("u_head")), 6))
            .otherwise(round(log2(lit(0.1) / (lit(1.0) - col("u_head"))), 6)))
          .withColumn("w_price", when(col("ag_price") === 1,
              round(log2(lit(0.8) / lit(0.05)), 6))
            .otherwise(round(log2(lit(0.2) / lit(0.95)), 6)))
          .withColumn("score",
            round(col("w_type") + col("w_head") + col("w_price"), 6))
        scored.select(col("ak"), col("bk"), col("brand"), col("size"),
            col("ag_type"), col("ag_head"), col("ag_price"), col("score"),
            when(col("score") >= 4.0, "match")
              .when(col("score") >= 0.0, "possible")
              .otherwise("non_match").as("verdict"))
          .orderBy(col("ak").asc_nulls_last, col("bk").asc_nulls_last)
      },
      Some("""WITH p AS (
          SELECT p_partkey AS k, p_brand AS brand, p_size AS size,
                 p_type AS ptype, string_split(p_name, ' ')[1] AS head,
                 p_retailprice AS price
          FROM part),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM p),
        ut AS (SELECT round(CAST(sum(cnt * (cnt - 1)) AS DOUBLE)
                 / (n_rows * (n_rows - 1)), 6) AS u_ptype
               FROM (SELECT ptype, count(*) AS cnt FROM p GROUP BY ptype), n
               GROUP BY n_rows),
        uh AS (SELECT round(CAST(sum(cnt * (cnt - 1)) AS DOUBLE)
                 / (n_rows * (n_rows - 1)), 6) AS u_head
               FROM (SELECT head, count(*) AS cnt FROM p GROUP BY head), n
               GROUP BY n_rows),
        batch AS (SELECT * FROM p ORDER BY k LIMIT 2000),
        pairs AS (
          SELECT a.k AS ak, b.k AS bk, a.brand, a.size,
            CASE WHEN a.ptype = b.ptype THEN 1 ELSE 0 END AS ag_type,
            CASE WHEN a.head = b.head THEN 1 ELSE 0 END AS ag_head,
            CASE WHEN abs(a.price - b.price) <= 50.0 THEN 1 ELSE 0 END AS ag_price
          FROM batch a JOIN p b ON a.brand = b.brand AND a.size = b.size AND a.k < b.k),
        w AS (
          SELECT pairs.*, ut.u_ptype, uh.u_head,
            CASE WHEN ag_type = 1 THEN round(log2(0.95 / u_ptype), 6)
                 ELSE round(log2(0.05 / (1.0 - u_ptype)), 6) END AS w_type,
            CASE WHEN ag_head = 1 THEN round(log2(0.9 / u_head), 6)
                 ELSE round(log2(0.1 / (1.0 - u_head)), 6) END AS w_head,
            CASE WHEN ag_price = 1 THEN round(log2(0.8 / 0.05), 6)
                 ELSE round(log2(0.2 / 0.95), 6) END AS w_price
          FROM pairs, ut, uh)
        SELECT ak, bk, brand, size, ag_type, ag_head, ag_price,
          round(w_type + w_head + w_price, 6) AS score,
          CASE WHEN round(w_type + w_head + w_price, 6) >= 4.0 THEN 'match'
               WHEN round(w_type + w_head + w_price, 6) >= 0.0 THEN 'possible'
               ELSE 'non_match' END AS verdict
        FROM w
        ORDER BY ak ASC NULLS LAST, bk ASC NULLS LAST""")),

    Q("n_doremi_reweight",
      "DoReMi-style domain reweighting, one multiplicative-weights step (Xie et al. 2023 — the domain-mixture optimizer behind modern pre-training mixes, reduced to its SQL-expressible core): each source's excess bits-per-token under the global unigram LM (domain bpt minus corpus bpt; hard domains score positive) tilts its token-share prior by exp(eta*excess) with eta=1, normalized by an exact-decimal sum — hard domains gain mass, easy ones shed it. Scale shape: the LM is a token-keyed aggregate (never broadcast — vocab is huge at 100 TB), scoring re-shuffles tokens once on the same key (co-partitioned join), domains roll up from token-keyed to source-keyed in one pass, and the reweighting arithmetic runs on the #sources-row relation with one-row totals broadcast in-DAG.",
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
          .filter(length(col("w")) > 0)
        val model = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        // per-token log2(cnt) rounded to 6 then decimal-summed: the
        // accumulation is order-independent on both engines
        val dom = Retained(
          toks.join(model, Seq("w"))
            .groupBy(col("source"))
            .agg(count(lit(1)).cast("bigint").as("n_tokens"),
              sum(round(log2(col("cnt")), 6).cast(DecimalType(28, 6)))
                .as("sumlog")))
        val tot = dom.agg(
          sum(col("n_tokens")).cast("bigint").as("total"),
          sum(col("sumlog")).as("sumlog_all"))
        val scored = Retained(dom.crossJoin(broadcast(tot))
          .withColumn("p", round(col("n_tokens").cast("double") / col("total"), 6))
          .withColumn("bpt", round(log2(col("total"))
            - col("sumlog").cast("double") / col("n_tokens"), 6))
          .withColumn("bpt_corpus", round(log2(col("total"))
            - col("sumlog_all").cast("double") / col("total"), 6))
          .withColumn("excess", round(col("bpt") - col("bpt_corpus"), 6))
          .withColumn("tilt", round(col("p") * exp(col("excess")), 6)))
        val z = scored.agg(
          sum(col("tilt").cast(DecimalType(18, 6))).cast("double").as("z"))
        scored.crossJoin(broadcast(z))
          .select(col("source"), col("n_tokens"), col("p").as("weight_old"),
            col("bpt"), col("excess"),
            round(col("tilt") / col("z"), 6).as("weight_new"),
            round(col("tilt") / col("z") - col("p"), 6).as("delta"))
          .orderBy(col("source").asc_nulls_last)
      },
      Some("""WITH toks AS (
          SELECT source, w FROM (
            SELECT source, unnest(string_split(lower(text), ' ')) AS w FROM documents) t
          WHERE len(w) > 0),
        model AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
        dom AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
                  sum(CAST(round(log2(cnt), 6) AS DECIMAL(28,6))) AS sumlog
                FROM toks JOIN model USING (w) GROUP BY source),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                  sum(sumlog) AS sumlog_all FROM dom),
        scored AS (
          SELECT source, n_tokens,
            round(CAST(n_tokens AS DOUBLE) / total, 6) AS p,
            round(log2(total) - CAST(sumlog AS DOUBLE) / n_tokens, 6) AS bpt,
            round(round(log2(total) - CAST(sumlog AS DOUBLE) / n_tokens, 6)
              - round(log2(total) - CAST(sumlog_all AS DOUBLE) / total, 6), 6) AS excess
          FROM dom, tot),
        tilted AS (
          SELECT *, round(p * exp(excess), 6) AS tilt FROM scored),
        z AS (SELECT CAST(sum(CAST(tilt AS DECIMAL(18,6))) AS DOUBLE) AS z FROM tilted)
        SELECT source, n_tokens, p AS weight_old, bpt, excess,
          round(tilt / z.z, 6) AS weight_new,
          round(tilt / z.z - p, 6) AS delta
        FROM tilted, z
        ORDER BY source ASC NULLS LAST""")),

    Q("n_encoding_audit",
      "Mojibake / encoding-artifact audit (the data-cleaning scan between crawl ingestion and the quality battery): artifacts are planted deterministically (doc_id%11 -> double-encoded UTF-8 'caf'||U+00C3 U+00A9, %13 -> U+FFFD replacement char, %17 -> NBSP run, %19 -> a C0 control) and the detector counts each class per doc via length-difference under replace/regexp_replace, rolling up to per-source affected-doc counts, artifact-char totals and a clean/suspect verdict. Scale shape: detection is row-local (zero shuffles before the source rollup), the rollup is a partial-combined aggregate to the #sources relation; at 100 TB this is the cheapest possible corpus pass — one scan, counters only.",
      (s, dir) => {
        val raw = T(s, dir, "documents").select(col("doc_id"), col("source"),
          concat(col("text"),
            when(col("doc_id") % 11 === 0, lit(" cafÃ©")).otherwise(lit("")),
            when(col("doc_id") % 13 === 0, lit("�")).otherwise(lit("")),
            when(col("doc_id") % 17 === 0, lit("  ")).otherwise(lit("")),
            when(col("doc_id") % 19 === 0, lit("\u0007")).otherwise(lit("")))
            .as("raw"))
        // literal-char counting via replace()/translate(), NOT
        // regexp_replace: the dialect shim registers DuckDB's
        // FIRST-match regexp_replace, and Spark 4's functions API
        // resolves by NAME through the session registry — in a shared
        // session where an injectInto query ran earlier, the override
        // silently halved the two-NBSP count (caught by the round-11e
        // full-inventory vs single-query Verify diff)
        val ctrlChars = ((0x01 to 0x08) ++ Seq(0x0B, 0x0C) ++ (0x0E to 0x1F))
          .map(_.toChar).mkString
        val counted = raw
          .withColumn("n_repl",
            length(col("raw")) - length(replace(col("raw"), lit("�"), lit(""))))
          .withColumn("n_moji",
            length(col("raw")) - length(replace(col("raw"), lit("Ã"), lit(""))))
          .withColumn("n_nbsp",
            length(col("raw")) - length(replace(col("raw"), lit(" "), lit(""))))
          .withColumn("n_ctrl",
            length(col("raw")) - length(translate(col("raw"), ctrlChars, "")))
          .withColumn("affected",
            (col("n_repl") + col("n_moji") + col("n_nbsp") + col("n_ctrl") > 0)
              .cast("int"))
        counted.groupBy(col("source")).agg(
            count(lit(1)).cast("bigint").as("n_docs"),
            sum(col("affected")).cast("bigint").as("n_affected"),
            sum(col("n_repl")).cast("bigint").as("repl_chars"),
            sum(col("n_moji")).cast("bigint").as("moji_chars"),
            sum(col("n_nbsp")).cast("bigint").as("nbsp_chars"),
            sum(col("n_ctrl")).cast("bigint").as("ctrl_chars"))
          .withColumn("affected_rate",
            round(col("n_affected").cast("double") / col("n_docs"), 6))
          .withColumn("verdict",
            when(col("affected_rate") > 0.2, "suspect").otherwise("clean"))
          .orderBy(col("source").asc_nulls_last)
      },
      Some("""WITH raw AS (
          SELECT doc_id, source,
            text
              || CASE WHEN doc_id % 11 = 0 THEN ' caf' || chr(195) || chr(169) ELSE '' END
              || CASE WHEN doc_id % 13 = 0 THEN chr(65533) ELSE '' END
              || CASE WHEN doc_id % 17 = 0 THEN chr(160) || chr(160) ELSE '' END
              || CASE WHEN doc_id % 19 = 0 THEN chr(7) ELSE '' END AS raw
          FROM documents),
        counted AS (
          SELECT source,
            len(raw) - len(replace(raw, chr(65533), '')) AS n_repl,
            len(raw) - len(replace(raw, chr(195), '')) AS n_moji,
            len(raw) - len(replace(raw, chr(160), '')) AS n_nbsp,
            len(raw) - len(regexp_replace(raw, '[\x01-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_ctrl
          FROM raw),
        agg AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN n_repl + n_moji + n_nbsp + n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
            CAST(sum(n_repl) AS BIGINT) AS repl_chars,
            CAST(sum(n_moji) AS BIGINT) AS moji_chars,
            CAST(sum(n_nbsp) AS BIGINT) AS nbsp_chars,
            CAST(sum(n_ctrl) AS BIGINT) AS ctrl_chars
          FROM counted GROUP BY source)
        SELECT source, n_docs, n_affected, repl_chars, moji_chars, nbsp_chars,
          ctrl_chars,
          round(CAST(n_affected AS DOUBLE) / n_docs, 6) AS affected_rate,
          CASE WHEN round(CAST(n_affected AS DOUBLE) / n_docs, 6) > 0.2
               THEN 'suspect' ELSE 'clean' END AS verdict
        FROM agg
        ORDER BY source ASC NULLS LAST""")),

    Q("n_packing_efficiency",
      "Sequence-packing efficiency curve (the accounting every pre-training data team keeps before choosing a context length): for each context length L in (128, 512, 2048), one-doc-per-sequence utilization sum(min(n,L))/(docs*L) and truncation loss sum(max(n-L,0))/total vs concat-and-chunk packing's ceil-free utilization total/(chunks*L) with chunks = (total+L-1) div L — the number that says how much compute a naive padding scheme wastes vs GPT-style packing. Scale shape: token counts are row-local, the per-L rollup is a partial-combined aggregate over a 3-row broadcast of context lengths (3 linear passes fused into one scan by the cross join), all integer arithmetic until the final ratios.",
      (s, dir) => {
        import s.implicits._
        val n = T(s, dir, "documents").select(
          size(filter(split(col("text"), " "), w => length(w) > 0))
            .cast("bigint").as("n"))
        val ls = Seq(128L, 512L, 2048L).toDF("ctx")
        n.crossJoin(broadcast(ls)).groupBy(col("ctx")).agg(
            count(lit(1)).cast("bigint").as("n_docs"),
            sum(col("n")).cast("bigint").as("total_tokens"),
            sum(least(col("n"), col("ctx"))).cast("bigint").as("kept_tokens"),
            sum(greatest(col("n") - col("ctx"), lit(0L))).cast("bigint")
              .as("truncated_tokens"))
          .withColumn("packed_chunks",
            expr("(total_tokens + ctx - 1) div ctx").cast("bigint"))
          .select(col("ctx"), col("n_docs"), col("total_tokens"),
            col("kept_tokens"), col("truncated_tokens"), col("packed_chunks"),
            round(col("kept_tokens").cast("double")
              / (col("n_docs") * col("ctx")), 6).as("util_one_per_seq"),
            round(col("truncated_tokens").cast("double")
              / col("total_tokens"), 6).as("trunc_loss"),
            round(col("total_tokens").cast("double")
              / (col("packed_chunks") * col("ctx")), 6).as("util_packed"))
          .orderBy(col("ctx").asc_nulls_last)
      },
      Some("""WITH n AS (
          SELECT CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS n
          FROM documents),
        l AS (SELECT CAST(unnest([128, 512, 2048]) AS BIGINT) AS ctx),
        agg AS (
          SELECT ctx, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n) AS BIGINT) AS total_tokens,
            CAST(sum(least(n, ctx)) AS BIGINT) AS kept_tokens,
            CAST(sum(greatest(n - ctx, 0)) AS BIGINT) AS truncated_tokens
          FROM n CROSS JOIN l GROUP BY ctx)
        SELECT ctx, n_docs, total_tokens, kept_tokens, truncated_tokens,
          CAST((total_tokens + ctx - 1) // ctx AS BIGINT) AS packed_chunks,
          round(CAST(kept_tokens AS DOUBLE) / (n_docs * ctx), 6) AS util_one_per_seq,
          round(CAST(truncated_tokens AS DOUBLE) / total_tokens, 6) AS trunc_loss,
          round(CAST(total_tokens AS DOUBLE)
            / (((total_tokens + ctx - 1) // ctx) * ctx), 6) AS util_packed
        FROM agg
        ORDER BY ctx ASC NULLS LAST"""))
  )
}
