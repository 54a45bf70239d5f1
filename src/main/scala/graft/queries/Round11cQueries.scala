package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 third batch — the corpus-construction tiers a multilingual
  * / multi-source training-data pipeline runs between crawl and
  * training (reference scope: fb64/uquery-rs exposes arbitrary SQL
  * over corpus tables, src/core/duckdb.rs:87; these are the curation
  * programs built on that surface):
  *
  *   - n_bitext_mining — margin-based parallel-pair mining (Artetxe &
  *     Schwenk 2019, the LASER/CCMatrix miner): ratio margin
  *     cos(x,y) / (0.5·(avgTop4_x + avgTop4_y)) with mutual-best
  *     acceptance — the normalization that suppresses hub vectors a
  *     plain cosine threshold mis-mines.
  *   - n_decontam_semantic — embedding-space benchmark
  *     decontamination: the modern complement of the n-gram
  *     n_decontamination screen (paraphrased eval leakage has no
  *     n-gram overlap but high embedding cosine).
  *   - n_theta_sketch_setops — Theta-sketch set-operation estimates
  *     over the UNION of two KMV sketches: distinct-union /
  *     distinct-intersection cardinalities with measured error vs the
  *     exact answer — what a planner consults before choosing a join
  *     strategy on two 10-TB key sets.
  *   - n_skew_audit — the pre-shuffle key-skew diagnostic: per-key
  *     count Gini, top-1/top-10 key shares, discrete count quantiles
  *     and the salt-recommendation verdict — the numbers that decide
  *     salting/AQE-skew-split before a 100-TB groupBy/join.
  *   - n_boilerplate_extract — jusText-style content extraction:
  *     segment-level good/boilerplate classification (length +
  *     stopword-density rules) with the neighborhood promotion rule,
  *     reassembling surviving text in order.
  */
object Round11cQueries extends QueryModule {

  /** 52-bit uniform hash both engines compute bit-identically (the
    * n_kmv_distinct construction, distinct salt per operator).
    * DuckDB spelling: CAST(concat('0x', substr(md5(..),1,13)) AS BIGINT).
    */
  private def h52(salt: String, key: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 13), 16, 10)
      .cast("bigint")

  /** The shared DuckDB cosine spelling (rounded to 6, the cross-engine
    * tie-stability discipline every similarity query uses).
    */
  private def cosSql(a: String, b: String): String =
    s"""round(list_sum(list_transform(list_zip($a, $b),
         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"""

  override val queries: Seq[Q] = Seq(

    Q("n_bitext_mining",
      "Margin-based bitext mining (Artetxe & Schwenk 2019 — the LASER/CCMatrix parallel-corpus miner): source side x (vec_id%50=0) vs target side y (vec_id%50=25), ratio margin cos(x,y) / (0.5*(avgTop4_x + avgTop4_y)) — the kNN normalization that suppresses hub vectors a plain cosine threshold mis-mines — and a pair is accepted only where y is x's best margin AND x is y's best (mutual-best, the high-precision CCMatrix mode). Scale shape: at corpus scale both directions' candidate sets come from the ANN tier (the n_label_noise contract) so each probe scores k candidates, not the corpus; the top-4 normalizers are per-probe 4-row aggregates; margins are ratios of identically-rounded operands so both engines rank the same values.",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val xs = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("xid"), col("embedding").as("xv"))
        val ys = e.filter(col("vec_id") % 50 === 25)
          .select(col("vec_id").as("yid"), col("embedding").as("yv"))
        // retained: the margin join, both top-4 normalizers and both
        // best-of windows all read the scored relation
        val scored = Retained(
          xs.crossJoin(broadcast(ys))
            .withColumn("sim",
              round(SimilarityQueries.cosine("xv", "yv"), 6))
            .select(col("xid"), col("yid"), col("sim")))
        // avgTop4 as an exact decimal sum divided once: identical
        // operands -> identical doubles on both engines
        def top4(side: String, other: String) = {
          val w = Window.partitionBy(col(side))
            .orderBy(col("sim").desc_nulls_last, col(other).asc_nulls_last)
          scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
            .groupBy(col(side))
            .agg(round(sum(col("sim").cast(DecimalType(18, 6)))
              .cast("double") / 4, 6).as(s"avg_$side"))
        }
        // retained too: both best-of windows read the margin relation
        val m = Retained(scored
          .join(top4("xid", "yid"), "xid").join(top4("yid", "xid"), "yid")
          .withColumn("margin", round(
            col("sim") / (lit(0.5) * (col("avg_xid") + col("avg_yid"))), 6)))
        val bestY = m.withColumn("rk", row_number().over(
            Window.partitionBy(col("xid"))
              .orderBy(col("margin").desc_nulls_last, col("yid").asc_nulls_last)))
          .filter(col("rk") === 1).drop("rk")
        val bestX = m.withColumn("rk", row_number().over(
            Window.partitionBy(col("yid"))
              .orderBy(col("margin").desc_nulls_last, col("xid").asc_nulls_last)))
          .filter(col("rk") === 1)
          .select(col("xid").as("bx"), col("yid").as("by"))
        bestY.join(bestX,
            col("xid") === col("bx") && col("yid") === col("by"), "left")
          .select(col("xid"), col("yid"), col("sim"), col("margin"),
            when(col("bx").isNotNull, 1).otherwise(0).cast("int").as("mutual"))
          .orderBy(col("xid").asc_nulls_last)
      },
      Some(s"""WITH xs AS (SELECT vec_id AS xid, embedding AS xv FROM embeddings WHERE vec_id % 50 = 0),
        ys AS (SELECT vec_id AS yid, embedding AS yv FROM embeddings WHERE vec_id % 50 = 25),
        scored AS (SELECT xid, yid, ${cosSql("xv", "yv")} AS sim FROM xs CROSS JOIN ys),
        rx AS (SELECT xid, yid, sim, row_number() OVER (PARTITION BY xid ORDER BY sim DESC NULLS LAST, yid ASC NULLS LAST) AS rk FROM scored),
        ax AS (SELECT xid, round(CAST(sum(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / 4, 6) AS avg_xid FROM rx WHERE rk <= 4 GROUP BY xid),
        ry AS (SELECT xid, yid, sim, row_number() OVER (PARTITION BY yid ORDER BY sim DESC NULLS LAST, xid ASC NULLS LAST) AS rk FROM scored),
        ay AS (SELECT yid, round(CAST(sum(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / 4, 6) AS avg_yid FROM ry WHERE rk <= 4 GROUP BY yid),
        m AS (SELECT s.xid, s.yid, s.sim, round(s.sim / (0.5 * (ax.avg_xid + ay.avg_yid)), 6) AS margin
              FROM scored s JOIN ax ON s.xid = ax.xid JOIN ay ON s.yid = ay.yid),
        besty AS (SELECT xid, yid, sim, margin,
                    row_number() OVER (PARTITION BY xid ORDER BY margin DESC NULLS LAST, yid ASC NULLS LAST) AS rk FROM m),
        bestx AS (SELECT xid AS bx, yid AS by,
                    row_number() OVER (PARTITION BY yid ORDER BY margin DESC NULLS LAST, xid ASC NULLS LAST) AS rk FROM m)
        SELECT b.xid, b.yid, b.sim, b.margin,
          CAST(CASE WHEN x.bx IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS mutual
        FROM besty b LEFT JOIN (SELECT bx, by FROM bestx WHERE rk = 1) x
          ON b.xid = x.bx AND b.yid = x.by
        WHERE b.rk = 1
        ORDER BY b.xid ASC NULLS LAST""")),

    Q("n_decontam_semantic",
      "Embedding-space benchmark decontamination (the paraphrase-robust complement of the n-gram n_decontamination screen — rewritten eval questions share no 8-gram but sit close in embedding space): benchmark items (vec_id%97=0) broadcast against the corpus, cosine >= 0.3 flags a training item as contaminated, per-benchmark hit counts + max similarity, and the corpus-wide count of DISTINCT flagged training vectors rides along from a one-row aggregate (broadcast back in-DAG — no plan-build action). Scale shape: the benchmark is always the small side (thousands of eval items vs 10^11 docs) so the probe join is map-only; per-benchmark rollups are k-row aggregates; only (bid, vec_id, sim) triples shuffle.",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val bench = e.filter(col("vec_id") % 97 === 0)
          .select(col("vec_id").as("bid"), col("embedding").as("bv"))
        val scored = Retained(
          e.filter(col("vec_id") % 97 =!= 0)
            .join(broadcast(bench), col("vec_id") =!= col("bid"))
            .withColumn("sim",
              round(SimilarityQueries.cosine("bv", "embedding"), 6))
            .select(col("bid"), col("vec_id"), col("sim")))
        val perB = scored.groupBy(col("bid")).agg(
          sum(when(col("sim") >= 0.3, 1).otherwise(0)).cast("int")
            .as("n_contaminated"),
          max(col("sim")).as("max_sim"))
        val flagged = scored.filter(col("sim") >= 0.3)
          .agg(countDistinct(col("vec_id")).as("corpus_flagged"))
        perB.crossJoin(broadcast(flagged))
          .select(col("bid"), col("n_contaminated"), col("max_sim"),
            when(col("n_contaminated") > 0, 1).otherwise(0).cast("int")
              .as("leaked"),
            col("corpus_flagged"))
          .orderBy(col("bid").asc_nulls_last)
      },
      Some(s"""WITH b AS (SELECT vec_id AS bid, embedding AS bv FROM embeddings WHERE vec_id % 97 = 0),
        scored AS (SELECT bid, vec_id, ${cosSql("bv", "embedding")} AS sim
                   FROM embeddings CROSS JOIN b
                   WHERE vec_id % 97 <> 0 AND vec_id <> bid),
        perb AS (SELECT bid,
                   CAST(sum(CASE WHEN sim >= 0.3 THEN 1 ELSE 0 END) AS INTEGER) AS n_contaminated,
                   max(sim) AS max_sim
                 FROM scored GROUP BY bid),
        fl AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS corpus_flagged
               FROM scored WHERE sim >= 0.3)
        SELECT bid, n_contaminated, max_sim,
          CAST(CASE WHEN n_contaminated > 0 THEN 1 ELSE 0 END AS INTEGER) AS leaked,
          corpus_flagged
        FROM perb CROSS JOIN fl
        ORDER BY bid ASC NULLS LAST""")),

    Q("n_theta_sketch_setops",
      "Theta-sketch set-operation estimation (the Apache DataSketches construction over two KMV sketches): key set A = distinct order custkeys, key set B = distinct custkeys of nations < 13, both hash to portable 52-bit uniforms, the union keeps the k=128 smallest distinct hashes with per-side membership flags, estimated |A∪B| = (k-1)/u_(k) (exact when the sketch isn't full), estimated |A∩B| = (flagged-both / held) * est_union — reported against the EXACT union/intersection with relative errors. Scale shape: each side's sketch is a per-partition bottom-k that merges as a k-row summary (TakeOrderedAndProject — the full key sets never shuffle); at 100 TB the two sketches are 1 KB each and the estimate replaces a multi-TB distinct join during planning.",
      (s, dir) => {
        val ha = T(s, dir, "orders").select(col("o_custkey").as("k")).distinct()
          .select(h52("graft-theta:", col("k")).as("hv"),
            lit(1).as("in_a"), lit(0).as("in_b"))
        val hb = T(s, dir, "customer").filter(col("c_nationkey") < 13)
          .select(col("c_custkey").as("k")).distinct()
          .select(h52("graft-theta:", col("k")).as("hv"),
            lit(0).as("in_a"), lit(1).as("in_b"))
        // retained: the bottom-k sketch and the exact answer both read
        // the merged membership relation
        val u = Retained(
          ha.union(hb).groupBy(col("hv"))
            .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b")))
        val sk = u.orderBy(col("hv").asc_nulls_last).limit(128)
          .agg(count(lit(1)).as("held"), max(col("hv")).as("hk"),
            sum(col("in_a") * col("in_b")).as("n_both"))
        val exact = u.agg(count(lit(1)).as("exact_union"),
          sum(col("in_a") * col("in_b")).cast("bigint").as("exact_inter"))
        sk.crossJoin(exact)
          .withColumn("est_union",
            when(col("held") < 128, col("held").cast("double"))
              .otherwise(lit(127.0) / (col("hk").cast("double") / 4503599627370496.0)))
          .withColumn("est_inter",
            col("n_both").cast("double") / col("held") * col("est_union"))
          .select(lit(128).as("k"), col("exact_union"),
            round(col("est_union"), 4).as("est_union"),
            round(abs(col("est_union") - col("exact_union"))
              / col("exact_union"), 4).as("err_union"),
            col("exact_inter"),
            round(col("est_inter"), 4).as("est_inter"),
            round(abs(col("est_inter") - col("exact_inter"))
              / greatest(col("exact_inter"), lit(1)), 4).as("err_inter"))
      },
      Some("""WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders),
        b AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_nationkey < 13),
        ha AS (SELECT CAST(concat('0x', substr(md5('graft-theta:' || CAST(k AS VARCHAR)), 1, 13)) AS BIGINT) AS hv,
                 1 AS in_a, 0 AS in_b FROM a),
        hb AS (SELECT CAST(concat('0x', substr(md5('graft-theta:' || CAST(k AS VARCHAR)), 1, 13)) AS BIGINT) AS hv,
                 0 AS in_a, 1 AS in_b FROM b),
        u AS (SELECT hv, max(in_a) AS in_a, max(in_b) AS in_b
              FROM (SELECT * FROM ha UNION ALL SELECT * FROM hb) GROUP BY hv),
        r AS (SELECT hv, in_a, in_b, row_number() OVER (ORDER BY hv) AS rk FROM u),
        sk AS (SELECT count(*) AS held, max(hv) AS hk,
                 CAST(sum(in_a * in_b) AS BIGINT) AS n_both FROM r WHERE rk <= 128),
        ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
                 CAST(sum(in_a * in_b) AS BIGINT) AS exact_inter FROM u),
        e AS (SELECT held, hk, n_both, exact_union, exact_inter,
                CASE WHEN held < 128 THEN CAST(held AS DOUBLE)
                     ELSE 127.0 / (CAST(hk AS DOUBLE) / 4503599627370496.0) END AS est_u
              FROM sk CROSS JOIN ex)
        SELECT 128 AS k, exact_union, round(est_u, 4) AS est_union,
          round(abs(est_u - exact_union) / exact_union, 4) AS err_union,
          exact_inter,
          round(CAST(n_both AS DOUBLE) / held * est_u, 4) AS est_inter,
          round(abs(CAST(n_both AS DOUBLE) / held * est_u - exact_inter)
            / greatest(exact_inter, 1), 4) AS err_inter
        FROM e""")),

    Q("n_skew_audit",
      "Pre-shuffle key-skew audit for a planned groupBy/join key (events.user_id): per-key counts roll to the Gini coefficient (sorted-rank identity over exact integers), top-1/top-10 key shares, discrete p50/p99 per-key counts (the quantile_disc index rule) and the salt verdict (top-1 share > 1% or p99/p50 > 10) — the numbers that decide salting or AQE skew-split BEFORE launching a 100-TB shuffle. Scale shape: the corpus reduces to the per-key count relation in one partial-combined aggregate (keys ≪ rows — the n_zipf_fit window convention); totals are a one-row aggregate broadcast back in-DAG; everything else is integer arithmetic on the key relation.",
      (s, dir) => {
        val cnts = T(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        // ranking runs over the KEY relation (keys ≪ rows); constant
        // partition key spelled column-based (pmod(user_id, 1) = 0) so
        // it survives constant folding and WindowExec stays keyed — the
        // n_zipf_fit convention WarnAuditSpec enforces
        val ranked = Retained(cnts.withColumn("r",
          row_number().over(Window.partitionBy(pmod(col("user_id"), lit(1)))
            .orderBy(col("c").asc_nulls_last,
              col("user_id").asc_nulls_last))))
        val tot = ranked.agg(count(lit(1)).as("n"), sum(col("c")).as("total"),
          sum(col("r") * col("c")).as("rc"), max(col("c")).as("top1"))
        val q = ranked.crossJoin(broadcast(tot))
          .agg(
            first(col("n")).as("n_keys"), first(col("total")).as("total_rows"),
            first(col("rc")).as("rc"), first(col("top1")).as("top1"),
            sum(when(col("r") > col("n") - 10, col("c")).otherwise(0))
              .as("top10"),
            sum(when(col("r") === floor(lit(0.50) * (col("n") - 1)) + 1,
              col("c")).otherwise(0)).as("p50"),
            sum(when(col("r") === floor(lit(0.99) * (col("n") - 1)) + 1,
              col("c")).otherwise(0)).as("p99"))
        q.select(col("n_keys"), col("total_rows"),
            round(col("top1").cast("double") / col("total_rows"), 6)
              .as("top1_share"),
            round(col("top10").cast("double") / col("total_rows"), 6)
              .as("top10_share"),
            round((lit(2) * col("rc") - (col("n_keys") + 1) * col("total_rows"))
              .cast("double") / (col("n_keys") * col("total_rows")), 6)
              .as("gini"),
            col("p50").cast("bigint").as("p50_cnt"),
            col("p99").cast("bigint").as("p99_cnt"),
            round(col("p99").cast("double") / col("p50"), 6).as("p99_over_p50"),
            when(col("top1").cast("double") / col("total_rows") > 0.01
              || col("p99").cast("double") / col("p50") > 10, 1).otherwise(0)
              .cast("int").as("salt_recommended"))
      },
      Some("""WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
        r AS (SELECT user_id, c, row_number() OVER (ORDER BY c ASC NULLS LAST, user_id ASC NULLS LAST) AS r FROM c),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS total,
                CAST(sum(r * c) AS BIGINT) AS rc, CAST(max(c) AS BIGINT) AS top1 FROM r),
        q AS (SELECT any_value(n) AS n_keys, any_value(total) AS total_rows,
                any_value(rc) AS rc, any_value(top1) AS top1,
                CAST(sum(CASE WHEN r > n - 10 THEN c ELSE 0 END) AS BIGINT) AS top10,
                CAST(sum(CASE WHEN r = floor(0.50 * (n - 1)) + 1 THEN c ELSE 0 END) AS BIGINT) AS p50,
                CAST(sum(CASE WHEN r = floor(0.99 * (n - 1)) + 1 THEN c ELSE 0 END) AS BIGINT) AS p99
              FROM r CROSS JOIN t)
        SELECT n_keys, total_rows,
          round(CAST(top1 AS DOUBLE) / total_rows, 6) AS top1_share,
          round(CAST(top10 AS DOUBLE) / total_rows, 6) AS top10_share,
          round(CAST(2 * rc - (n_keys + 1) * total_rows AS DOUBLE)
            / (n_keys * total_rows), 6) AS gini,
          p50 AS p50_cnt, p99 AS p99_cnt,
          round(CAST(p99 AS DOUBLE) / p50, 6) AS p99_over_p50,
          CAST(CASE WHEN CAST(top1 AS DOUBLE) / total_rows > 0.01
                      OR CAST(p99 AS DOUBLE) / p50 > 10
                    THEN 1 ELSE 0 END AS INTEGER) AS salt_recommended
        FROM q""")),

    Q("n_boilerplate_extract",
      "jusText-style boilerplate removal (the content-extraction step between raw crawl HTML and the quality battery): docs segment into 12-word blocks, a block is GOOD when it has >= 6 words and >= 1 stopword (the length + stopword-density rules), a bad block flanked by good blocks on BOTH sides is PROMOTED (the jusText neighborhood rule — short navigation-like runs inside real prose survive), and surviving text reassembles in order to a digest. Scale shape: segmentation and classification are row-local array ops; the neighborhood rule is a lag/lead window over doc-bounded partitions (row-local after one doc-keyed sort); no shuffle carries text except the per-doc reassembly of kept segments.",
      (s, dir) => {
        // r15: spread the single-split doc scan (guide §2.5)
        val segs = T.par(s, dir, "documents")
          .select(col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
          .select(col("doc_id"), posexplode(expr(
            "transform(sequence(0, cast(ceil(size(ws) / 12.0) as int) - 1), " +
            "c -> array_join(slice(ws, c * 12 + 1, 12), ' '))")))
          .toDF("doc_id", "cidx", "seg")
          .withColumn("segws",
            filter(split(col("seg"), " "), w => length(w) > 0))
          .withColumn("nw", size(col("segws")))
          .withColumn("stops", size(expr(
            "filter(segws, w -> array_contains(array('the','a','of','and','to'), w))")))
          .withColumn("good",
            (col("nw") >= 6 && col("stops") >= 1).cast("int"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("cidx").asc_nulls_last)
        val classified = segs
          .withColumn("prev_good", lag(col("good"), 1, 0).over(w))
          .withColumn("next_good", lead(col("good"), 1, 0).over(w))
          .withColumn("promoted",
            (col("good") === 0 && col("prev_good") === 1
              && col("next_good") === 1).cast("int"))
          .withColumn("kept",
            (col("good") === 1 || col("promoted") === 1).cast("int"))
        classified.groupBy(col("doc_id")).agg(
            count(lit(1)).cast("int").as("n_segments"),
            sum(col("good")).cast("int").as("n_good"),
            sum(col("promoted")).cast("int").as("n_promoted"),
            round(sum(when(col("kept") === 1, col("nw")).otherwise(0))
              .cast("double") / sum(col("nw")), 6).as("retained_ratio"),
            md5(coalesce(array_join(expr(
              "transform(array_sort(collect_list(CASE WHEN kept = 1 THEN struct(cidx, seg) END)), x -> x.seg)"),
              " "), lit(""))).as("clean_digest"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws FROM documents),
        seg AS (SELECT doc_id, c AS cidx,
                  array_to_string(ws[c * 12 + 1:(c + 1) * 12], ' ') AS seg
                FROM d, LATERAL (SELECT unnest(generate_series(0, CAST(ceil(len(ws) / 12.0) AS INT) - 1)) AS c) g),
        cl AS (SELECT doc_id, cidx, seg,
                 len(list_filter(string_split(seg, ' '), w -> len(w) > 0)) AS nw,
                 len(list_filter(string_split(seg, ' '),
                   w -> list_contains(['the','a','of','and','to'], w))) AS stops
               FROM seg),
        g AS (SELECT doc_id, cidx, seg, nw,
                CASE WHEN nw >= 6 AND stops >= 1 THEN 1 ELSE 0 END AS good
              FROM cl),
        nb AS (SELECT doc_id, cidx, seg, nw, good,
                 COALESCE(lag(good) OVER (PARTITION BY doc_id ORDER BY cidx ASC NULLS LAST), 0) AS prev_good,
                 COALESCE(lead(good) OVER (PARTITION BY doc_id ORDER BY cidx ASC NULLS LAST), 0) AS next_good
               FROM g),
        k AS (SELECT doc_id, cidx, seg, nw, good,
                CASE WHEN good = 0 AND prev_good = 1 AND next_good = 1 THEN 1 ELSE 0 END AS promoted
              FROM nb)
        SELECT doc_id, CAST(count(*) AS INTEGER) AS n_segments,
          CAST(sum(good) AS INTEGER) AS n_good,
          CAST(sum(promoted) AS INTEGER) AS n_promoted,
          round(CAST(sum(CASE WHEN good = 1 OR promoted = 1 THEN nw ELSE 0 END) AS DOUBLE)
            / sum(nw), 6) AS retained_ratio,
          md5(COALESCE(string_agg(CASE WHEN good = 1 OR promoted = 1 THEN seg END, ' ' ORDER BY cidx), '')) AS clean_digest
        FROM k GROUP BY doc_id
        ORDER BY doc_id ASC NULLS LAST"""))
  )
}
