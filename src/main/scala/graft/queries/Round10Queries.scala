package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-10 additions, three thematic groups of the
  * LLM-data-pipeline surface:
  *
  * SKETCHES — the bounded-state primitives a 100 TB pipeline leans on
  * when exact answers are unaffordable or state must stream/merge.
  * All portable constructions (52-bit md5 prefixes, the
  * n_priority_sample / n_shard_assign trick), so DuckDB computes
  * bit-identical sketches and every one is a full value-checked
  * oracle row rather than a rows-only waiver:
  *   - n_bloom_filter (64 lanes x 63 bits — DuckDB's `<<` errors at
  *     shift 63, so bit 63 stays structurally unused; mergeable
  *     lane-keyed bit_or build, broadcast probe);
  *   - n_cms_freq (d x w exact counters, one-sided estimates);
  *   - n_kmv_distinct (bottom-k / Theta-sketch cardinality with the
  *     exact-when-not-full rule, planned as TakeOrderedAndProject);
  *   - n_time_decay_agg (half-life counters with the rescaling merge
  *     law, spec-proved on split halves).
  *
  * TEXT / SIMILARITY OPERATORS:
  *   - n_winnowing (MOSS fingerprints; the w+k-1 guarantee is
  *     spec-proved);
  *   - n_sorted_neighborhood (merge/purge blocking, O(n log n + nw));
  *   - n_tfidf_cosine (two-phase sparse cosine: >= 2-of-top-5-term
  *     candidate agreement, then an exact decimal rerank);
  *   - n_fim_split (deterministic PSM fill-in-the-middle transform);
  *   - n_ccnet_buckets (perplexity terciles by percentile thresholds,
  *     deliberately not a global rank window);
  *   - n_bpe_fertility / n_distinct_ngrams (tokenizer and diversity
  *     diagnostics over the memoized BPE rule / gram aggregates);
  *   - n_embed_quantize_sq (SQ8 with the err <= scale/2 bound).
  *
  * EVALUATION HARNESSES — measuring the pipeline's own screens:
  *   - n_minhash_eval (LSH screen precision/recall vs the exact
  *     shingle-Jaccard truth set over the SAME capped relation);
  *   - n_ann_recall (multi-probe LSH recall@10 vs brute force with
  *     the analytic random baseline in the output);
  *   - n_silhouette (simplified centroid silhouette — linear at
  *     scale where the classic form is quadratic).
  *
  * Reference scope: fb64/uquery-rs exposes arbitrary SQL over its
  * corpus tables (src/core/duckdb.rs:87); these queries are the
  * training-data-pipeline surface the builder prompt adds on top.
  */
object Round10Queries extends QueryModule {

  /** 52-bit uniform hash both engines compute bit-identically:
    * first 13 hex digits of md5(salt || key), as BIGINT.
    * DuckDB spelling: CAST(concat('0x', substr(md5(..),1,13)) AS BIGINT).
    */
  private def h52(salt: String, key: Column): Column =
    conv(substring(md5(concat(lit(salt), key)), 1, 13), 16, 10).cast("bigint")

  /** The n_kmv_distinct key hash (md5 prefix, so DuckDB hashes
    * identically). */
  private def kmvHash(userId: Column): Column =
    conv(substring(md5(concat(lit("graft-kmv:"), userId.cast("string"))), 1, 13),
      16, 10).cast("bigint")

  /** The winnowing fingerprint relation (doc_id, fph): distinct window
    * minima of 52-bit 4-gram hashes, w=4. Shared with Round10Spec,
    * which asserts the winnowing guarantee against it.
    */
  private[graft] def winnowFingerprints(s: SparkSession, dir: String): DataFrame = {
    val t = T(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > 0).as("w"))
    val g = t
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 3)).as("p"))
      .select(col("doc_id"), col("p"),
        h52("graft-win:", concat_ws(" ",
          element_at(col("w"), col("p")),
          element_at(col("w"), col("p") + 1),
          element_at(col("w"), col("p") + 2),
          element_at(col("w"), col("p") + 3))).as("gh"))
    val winFrame = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(Window.currentRow, 3)
    val docAll = Window.partitionBy(col("doc_id"))
    g.withColumn("mh", min(col("gh")).over(winFrame))
      .withColumn("ng", count(lit(1)).over(docAll))
      .filter(col("p") <= col("ng") - 3)
      .select(col("doc_id"), col("mh").as("fph")).distinct()
  }

  /** The TF-IDF weight relation (doc_id, bg, wt): bigram terms,
    * sklearn-smoothed IDF, weights rounded to 8 decimals. Shared with
    * Round10Spec's exact-rerank cross-check.
    */
  private[graft] def tfidfWeights(s: SparkSession, dir: String): DataFrame = {
    // r15: spread the single-split doc scan so the bigram explode
    // parallelizes (guide §2.5)
    val t = T.par(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > 0).as("w"))
    // r15: retained — the document-frequency aggregate AND the final
    // weight join both read the tf relation; uncached the bigram
    // explode + (doc, bg) aggregate ran twice per materialization
    // r15 session 2: cluster the tf aggregate by doc_id alone (doc
    // clustering satisfies the (doc, bg) grouping) so the retained
    // relation — and w8, which joins the tiny 931-row df side
    // broadcast — carries doc-hash partitioning into every consumer:
    // n_tfidf_cosine's norm aggregate and top-5 window then need NO
    // re-exchange (guide §2.4: two operations keyed the same way share
    // one exchange).
    val tf = Retained(t
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1)).as("bg"))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf")))
    val dfq = tf.groupBy(col("bg")).agg(count(lit(1)).as("df"))
    val n = t.agg(count(lit(1)).as("nd"))
    tf.join(dfq, Seq("bg")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("bg"),
        round((log((lit(1.0) + col("nd")) / (lit(1.0) + col("df"))) + 1.0)
          * col("tf"), 8).as("wt"))
  }

  override val queries: Seq[Q] = Seq(
    Q("n_bloom_filter",
      "Portable Bloom filter membership sketch (m=4032 bits as 64x63-bit BIGINT lanes, k=4 md5-derived hashes): build over the even-doc_id half's content digests, probe every doc, and report per-side detection — members hit 4/4 bits always (no false negatives, the Bloom guarantee), non-members pass at the measured false-positive rate alongside the theoretical (1-e^(-kn/m))^k bound. Scale shape: the filter is a 64-row lane-keyed bit_or aggregate — mergeable, 512 bytes of state regardless of corpus size — and the probe side joins against those 64 broadcast rows; at ingest, arrivals that miss any bit skip the dedup shuffle entirely.",
      (s, dir) => {
        // r15: spread measured and LOST (0.524 -> 0.656 min-of-3): md5
        // is native/codegen CPU, cheaper than exchanging the text
        val d = T(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("dg"),
            (col("doc_id") % 2).as("par"))
        // k=4 positions per key; lane/bit split keeps every shift < 63
        // (DuckDB's BIGINT << 63 is an overflow error, so bit 63 is
        // structurally unused on both engines)
        val bits = d
          .select(col("doc_id"), col("par"), col("dg"),
            explode(array((0 until 4).map(lit): _*)).as("i"))
          .withColumn("h",
            h52("", concat(lit("graft-bloom-"), col("i").cast("string"),
              lit(":"), col("dg"))) % 4032)
          .select(col("doc_id"), col("par"),
            expr("h div 63").as("lane"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 63 AS INT))").as("mask"))
        // the filter: 64 rows, one bit_or lane each — broadcast side
        val filt = bits.filter(col("par") === 0)
          .groupBy(col("lane")).agg(expr("bit_or(mask)").as("bm"))
        val probe = bits.join(broadcast(filt), Seq("lane"), "left")
          .groupBy(col("doc_id"), col("par"))
          .agg(min(when(expr("(COALESCE(bm, CAST(0 AS BIGINT)) & mask) = mask"), 1)
            .otherwise(0)).as("hit"))
        val nMembers = broadcast(d.filter(col("par") === 0)
          .agg(count(lit(1)).as("nm")))
        probe.crossJoin(nMembers)
          .groupBy(col("par"), col("nm"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("hit")).as("predicted_present"),
            round(sum(col("hit")).cast("double") / count(lit(1)), 6).as("hit_rate"))
          .select(
            when(col("par") === 0, "member").otherwise("non_member").as("side"),
            col("n_docs"), col("predicted_present"), col("hit_rate"),
            round(pow(lit(1.0) - exp(lit(-4.0) * col("nm") / 4032.0), 4), 6)
              .as("fp_bound"))
          .orderBy(col("side").asc_nulls_last)
      },
      Some("""WITH d AS (SELECT doc_id, md5(text) dg, doc_id % 2 AS par FROM documents),
        hs AS (SELECT doc_id, par, i,
                 CAST(concat('0x', substr(md5('graft-bloom-' || CAST(i AS VARCHAR) || ':' || dg),1,13)) AS BIGINT) % 4032 AS h
               FROM d, unnest([0,1,2,3]) t(i)),
        bits AS (SELECT doc_id, par, h // 63 AS lane, (1::BIGINT << CAST(h % 63 AS INT)) AS mask FROM hs),
        filt AS (SELECT lane, bit_or(mask) AS bm FROM bits WHERE par = 0 GROUP BY lane),
        probe AS (SELECT b.doc_id, b.par, min(CASE WHEN (COALESCE(f.bm, 0::BIGINT) & b.mask) = b.mask THEN 1 ELSE 0 END) AS hit
                  FROM bits b LEFT JOIN filt f ON b.lane = f.lane GROUP BY b.doc_id, b.par),
        n AS (SELECT count(*) nm FROM d WHERE par = 0)
        SELECT CASE WHEN par = 0 THEN 'member' ELSE 'non_member' END AS side,
          count(*) AS n_docs, CAST(sum(hit) AS BIGINT) AS predicted_present,
          round(CAST(sum(hit) AS DOUBLE)/count(*), 6) AS hit_rate,
          round(pow(1.0 - exp(-4.0 * nm / 4032.0), 4), 6) AS fp_bound
        FROM probe CROSS JOIN n GROUP BY par, nm ORDER BY side ASC NULLS LAST""")),

    Q("n_cms_freq",
      "Count-Min sketch token frequencies (Cormode-Muthukrishnan, d=4 rows x w=256 counters, md5-derived column hashes): the sketch is one (row,col)-keyed exact-integer aggregate built from the token-count relation (identical to per-occurrence increments, folded map-side), point estimates for the 20 most frequent tokens take the min over the 4 rows, and the output carries est - true as the measured over-count (the CMS guarantee: est >= true always, over-count bounded by the colliding mass). Scale shape: d*w = 1024 counters of state however many tokens stream through — the sketch merges by cellwise addition across shards, and the heavy-hitter probe joins 20 tokens against <=1024 broadcast cells.",
      (s, dir) => {
        // r15: spread the single-split scan before the token explode,
        // and retain the token-count relation — pos's two consumers
        // (sketch build, heavy-hitter probe) plus the top-20 rank
        // otherwise re-run the explode+aggregate chain three times
        val tc = Retained(T.par(s, dir, "documents")
          .select(explode(filter(split(col("text"), " "),
            w => length(w) > 0)).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
        val pos = tc
          .select(col("tok"), col("cnt"),
            explode(array((0 until 4).map(lit): _*)).as("i"))
          .withColumn("c",
            h52("", concat(lit("graft-cms-"), col("i").cast("string"),
              lit(":"), col("tok"))) % 256)
        val sk = pos.groupBy(col("i"), col("c")).agg(sum(col("cnt")).as("total"))
        val top = tc.orderBy(col("cnt").desc_nulls_last, col("tok").asc_nulls_last)
          .limit(20)
        top.join(pos.select(col("tok"), col("i"), col("c")), Seq("tok"))
          .join(broadcast(sk), Seq("i", "c"))
          .groupBy(col("tok"), col("cnt"))
          .agg(min(col("total")).as("est"))
          .select(col("tok"), col("cnt").as("true_cnt"), col("est"),
            (col("est") - col("cnt")).as("overcount"))
          .orderBy(col("true_cnt").desc_nulls_last, col("tok").asc_nulls_last)
      },
      Some("""WITH w AS (SELECT unnest(list_filter(string_split(text,' '), x -> len(x)>0)) AS tok FROM documents),
        tc AS (SELECT tok, count(*) AS cnt FROM w GROUP BY tok),
        pos AS (SELECT tok, cnt, i, CAST(concat('0x', substr(md5('graft-cms-'||CAST(i AS VARCHAR)||':'||tok),1,13)) AS BIGINT) % 256 AS c
                FROM tc, unnest([0,1,2,3]) t(i)),
        sk AS (SELECT i, c, sum(cnt) AS total FROM pos GROUP BY i, c),
        top AS (SELECT tok, cnt FROM tc ORDER BY cnt DESC, tok LIMIT 20),
        est AS (SELECT t.tok, t.cnt, min(sk.total) AS est
                FROM top t JOIN pos p ON t.tok = p.tok JOIN sk ON p.i = sk.i AND p.c = sk.c
                GROUP BY t.tok, t.cnt)
        SELECT tok, cnt AS true_cnt, CAST(est AS BIGINT) AS est,
          CAST(est - cnt AS BIGINT) AS overcount FROM est
        ORDER BY true_cnt DESC NULLS LAST, tok ASC NULLS LAST""")),

    Q("n_kmv_distinct",
      "KMV / bottom-k cardinality sketch (the Theta-sketch construction): hash every distinct event user to a 52-bit uniform, keep the k=64 smallest, estimate distinct = (k-1)/u_(k) with u_(k) the k-th smallest hash normalized to [0,1). Output pins k, the true cardinality, the estimate and its relative error (expected ~1/sqrt(k-1) ~ 12.5%% at k=64). Scale shape: per-partition top-k merges as a k-row summary (TakeOrderedAndProject — no full shuffle of the key set), the sketch unions across shards/streams by keeping the k smallest of the concatenation, and state is k hashes regardless of stream length.",
      (s, dir) => {
        val hv = T(s, dir, "events")
          .select(col("user_id")).distinct()
          .select(kmvHash(col("user_id")).as("hv"))
        // KMV rule: a non-full sketch IS the exact distinct count;
        // only a full sketch estimates via the k-th order statistic
        val kth = hv.orderBy(col("hv").asc_nulls_last).limit(64)
          .agg(count(lit(1)).as("held"), max(col("hv")).as("hk"))
        val t = T(s, dir, "events")
          .agg(countDistinct(col("user_id")).as("true_distinct"))
        kth.crossJoin(t)
          .withColumn("raw",
            when(col("held") < 64, col("held").cast("double"))
              .otherwise(lit(63.0) / (col("hk").cast("double") / 4503599627370496.0)))
          .select(lit(64).as("k"), col("true_distinct"),
            round(col("raw"), 4).as("est"),
            round(abs(col("raw") - col("true_distinct")) / col("true_distinct"), 4)
              .as("rel_err"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
        h AS (SELECT CAST(concat('0x', substr(md5('graft-kmv:'||CAST(user_id AS VARCHAR)),1,13)) AS BIGINT) AS hv FROM u),
        k AS (SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM h),
        sel AS (SELECT count(*) AS held, max(hv) AS hk FROM k WHERE r <= 64),
        t AS (SELECT count(DISTINCT user_id) AS true_distinct FROM events),
        e AS (SELECT held, hk, true_distinct,
                CASE WHEN held < 64 THEN CAST(held AS DOUBLE)
                     ELSE 63.0 / (CAST(hk AS DOUBLE) / 4503599627370496.0) END AS raw
              FROM sel CROSS JOIN t)
        SELECT 64 AS k, true_distinct, round(raw, 4) AS est,
          round(abs(raw - true_distinct)/true_distinct, 4) AS rel_err
        FROM e""")),

    Q("n_winnowing",
      "Winnowing document fingerprints (Schleimer-Wilkerson-Aiken, the MOSS algorithm): token 4-grams hash to portable 52-bit values, each w=4 window contributes its minimum hash as a fingerprint (guarantee: any shared run of >= w+k-1 tokens shares a fingerprint), and docs sharing fingerprints become near-dup candidate pairs ranked by overlap coefficient. Scale shape: fingerprint selection is a doc-partitioned window (row-local after one doc-keyed sort), the expected fingerprint density is 2/(w+1) ~ 40% of grams so the pair join runs on a thinned relation of 8-byte hashes — text never shuffles — and candidate generation joins fingerprint buckets, never all-pairs.",
      (s, dir) => {
        // retained: the pair self-join reads the fingerprint relation
        // on both sides and the size aggregate a third time
        val fp = Retained(winnowFingerprints(s, dir))
        val nfp = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
        val a = fp.as("a"); val b = fp.as("b")
        a.join(b, col("a.fph") === col("b.fph")
            && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(count(lit(1)).as("shared"))
          .join(nfp.withColumnRenamed("doc_id", "da")
            .withColumnRenamed("nfp", "nfp_a"), Seq("da"))
          .join(nfp.withColumnRenamed("doc_id", "db")
            .withColumnRenamed("nfp", "nfp_b"), Seq("db"))
          .select(col("da"), col("db"), col("shared"), col("nfp_a"), col("nfp_b"),
            round(col("shared").cast("double")
              / least(col("nfp_a"), col("nfp_b")), 6).as("overlap"))
          .orderBy(col("overlap").desc_nulls_last, col("da").asc_nulls_last,
            col("db").asc_nulls_last)
          .limit(20)
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x->len(x)>0) w FROM documents),
        g AS (SELECT doc_id, i AS p,
                CAST(concat('0x', substr(md5('graft-win:'|| w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]),1,13)) AS BIGINT) AS gh
              FROM t, unnest(range(1, len(w)-2)) u(i)),
        wm AS (SELECT doc_id, p,
                 min(gh) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
                 count(*) OVER (PARTITION BY doc_id) AS ng
               FROM g),
        fp AS (SELECT DISTINCT doc_id, mh AS fph FROM wm WHERE p <= ng - 3),
        nfp AS (SELECT doc_id, count(*) nfp FROM fp GROUP BY doc_id),
        pairs AS (SELECT a.doc_id da, b.doc_id db, count(*) shared
                  FROM fp a JOIN fp b ON a.fph = b.fph AND a.doc_id < b.doc_id
                  GROUP BY a.doc_id, b.doc_id)
        SELECT da, db, shared, na.nfp AS nfp_a, nb.nfp AS nfp_b,
          round(CAST(shared AS DOUBLE) / least(na.nfp, nb.nfp), 6) AS overlap
        FROM pairs JOIN nfp na ON na.doc_id = da JOIN nfp nb ON nb.doc_id = db
        ORDER BY overlap DESC NULLS LAST, da ASC NULLS LAST, db ASC NULLS LAST
        LIMIT 20""")),

    Q("n_sorted_neighborhood",
      "Sorted-neighborhood blocking (Hernandez-Stolfo merge/purge): normalize each doc to a 40-char sort key, range-sort within 2-char prefix blocks, and compare each record only to its w=2 following neighbors — the classic O(n log n + n*w) alternative to quadratic pair generation; similarity is normalized Levenshtein on the keys, top candidates ranked. Scale shape: the sort is Spark's range-partitioned global sort WITHIN hash-partitioned blocks (a doc-partitioned window, never a single-partition global window), each row emits exactly w candidate pairs via lead(), and the 40-char key — not the document — is what sorts and compares.",
      (s, dir) => {
        val k = T(s, dir, "documents")
          .select(col("doc_id"),
            substring(lower(regexp_replace(col("text"), "[^a-z0-9 ]", "")), 1, 40)
              .as("skey"))
          .withColumn("blk", substring(col("skey"), 1, 2))
        val w = Window.partitionBy(col("blk"))
          .orderBy(col("skey").asc_nulls_last, col("doc_id").asc_nulls_last)
        val o = k
          .withColumn("n1", lead(col("doc_id"), 1).over(w))
          .withColumn("k1", lead(col("skey"), 1).over(w))
          .withColumn("n2", lead(col("doc_id"), 2).over(w))
          .withColumn("k2", lead(col("skey"), 2).over(w))
        def sim(kc: Column, oc: Column): Column =
          round(lit(1.0) - levenshtein(col("skey"), kc).cast("double")
            / greatest(length(col("skey")), length(kc)), 6)
        val p1 = o.filter(col("n1").isNotNull)
          .select(col("doc_id").as("a"), col("n1").as("b"), sim(col("k1"), col("n1")).as("sim"))
        val p2 = o.filter(col("n2").isNotNull)
          .select(col("doc_id").as("a"), col("n2").as("b"), sim(col("k2"), col("n2")).as("sim"))
        p1.unionAll(p2)
          .orderBy(col("sim").desc_nulls_last, col("a").asc_nulls_last,
            col("b").asc_nulls_last)
          .limit(20)
      },
      Some("""WITH d AS (SELECT doc_id, substr(lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g')),1,40) skey FROM documents),
        k AS (SELECT doc_id, skey, substr(skey,1,2) blk FROM d),
        o AS (SELECT doc_id, skey,
                lead(doc_id,1) OVER (PARTITION BY blk ORDER BY skey ASC NULLS LAST, doc_id ASC NULLS LAST) n1,
                lead(skey,1)  OVER (PARTITION BY blk ORDER BY skey ASC NULLS LAST, doc_id ASC NULLS LAST) k1,
                lead(doc_id,2) OVER (PARTITION BY blk ORDER BY skey ASC NULLS LAST, doc_id ASC NULLS LAST) n2,
                lead(skey,2)  OVER (PARTITION BY blk ORDER BY skey ASC NULLS LAST, doc_id ASC NULLS LAST) k2
              FROM k),
        p AS (SELECT doc_id a, n1 b, round(1.0 - CAST(levenshtein(skey,k1) AS DOUBLE)/greatest(len(skey),len(k1)),6) sim FROM o WHERE n1 IS NOT NULL
              UNION ALL
              SELECT doc_id, n2, round(1.0 - CAST(levenshtein(skey,k2) AS DOUBLE)/greatest(len(skey),len(k2)),6) FROM o WHERE n2 IS NOT NULL)
        SELECT a, b, sim FROM p
        ORDER BY sim DESC NULLS LAST, a ASC NULLS LAST, b ASC NULLS LAST
        LIMIT 20""")),

    Q("n_tfidf_cosine",
      "Two-phase sparse TF-IDF cosine similarity (the lexical complement of the embedding-cosine family): phase 1 generates candidates as pairs sharing >= 2 of each other's top-5 highest-weight bigram terms (static index pruning + multi-term agreement, the standard DAAT candidate filter — on this saturated-vocab corpus the single-shared-term rule admits 30x more pairs at sf0.1 without changing the top-10); phase 2 computes the EXACT cosine for candidates only, via a term-keyed join over full weight vectors with fixed-scale decimal dot products. IDF is the sklearn-smoothed ln((1+N)/(1+df))+1; weights and products round to 8 decimals before the exact decimal sum, so both engines rank identical values. Scale shape: everything is token-keyed joins and aggregates over (doc, term, weight) triples — no dense vectors, no all-pairs, and the candidate count is governed by multi-term co-occurrence, not df^2.",
      (s, dir) => {
        // retained: norms, the top-5 posting relation and BOTH sides of
        // the exact-rerank join read this weight relation — unretained,
        // the bigram scoring chain runs four times
        val w8 = Retained(tfidfWeights(s, dir))
        val nrm = w8.groupBy(col("doc_id"))
          .agg(round(sqrt(sum(round(col("wt") * col("wt"), 8)
            .cast(DecimalType(30, 8))).cast("double")), 8).as("nrm"))
        val topt = w8
          .withColumn("r", row_number().over(Window.partitionBy(col("doc_id"))
            .orderBy(col("wt").desc, col("bg").asc)))
          .filter(col("r") <= 5).select(col("doc_id"), col("bg"))
        // candidate rule: pairs sharing >= 2 of each other's top-5 terms
        // (multi-term agreement — the standard DAAT candidate filter).
        // A single shared term admits ~1M pairs at sf0.1 on this
        // saturated-vocab corpus (30x the >= 2 set) without changing
        // the top-10 at any tested scale: near-dup pairs share their
        // top terms by construction of TF-IDF weight.
        val cand = topt.as("a")
          .join(topt.as("b"), col("a.bg") === col("b.bg")
            && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(count(lit(1)).as("nshared"))
          .filter(col("nshared") >= 2)
          .select(col("da"), col("db"))
        val dot = cand
          .join(w8.as("wa"), col("wa.doc_id") === col("da"))
          .join(w8.as("wb"), col("wb.doc_id") === col("db")
            && col("wb.bg") === col("wa.bg"))
          .groupBy(col("da"), col("db"))
          .agg(sum(round(col("wa.wt") * col("wb.wt"), 8)
            .cast(DecimalType(30, 8))).as("dot"))
        dot
          .join(nrm.withColumnRenamed("doc_id", "da")
            .withColumnRenamed("nrm", "na"), Seq("da"))
          .join(nrm.withColumnRenamed("doc_id", "db")
            .withColumnRenamed("nrm", "nb"), Seq("db"))
          .select(col("da"), col("db"),
            round(col("dot").cast("double") / (col("na") * col("nb")), 6)
              .as("cosine"))
          .orderBy(col("cosine").desc_nulls_last, col("da").asc_nulls_last,
            col("db").asc_nulls_last)
          .limit(10)
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x->len(x)>0) w FROM documents),
        g AS (SELECT doc_id, w[i]||' '||w[i+1] AS bg FROM t, unnest(range(1, len(w))) u(i)),
        tf AS (SELECT doc_id, bg, count(*) tf FROM g GROUP BY doc_id, bg),
        dfq AS (SELECT bg, count(*) df FROM tf GROUP BY bg),
        n AS (SELECT count(*) nd FROM t),
        w8 AS (SELECT tf.doc_id, tf.bg, round((ln((1.0+nd)/(1.0+df))+1.0) * tf, 8) AS wt
               FROM tf JOIN dfq USING (bg) CROSS JOIN n),
        nrm AS (SELECT doc_id, round(sqrt(CAST(sum(CAST(round(wt*wt,8) AS DECIMAL(30,8))) AS DOUBLE)),8) nrm FROM w8 GROUP BY doc_id),
        topt AS (SELECT doc_id, bg FROM (SELECT doc_id, bg, row_number() OVER (PARTITION BY doc_id ORDER BY wt DESC, bg) r FROM w8) WHERE r <= 5),
        cand AS (SELECT a.doc_id da, b.doc_id db FROM topt a JOIN topt b ON a.bg = b.bg AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2),
        dot AS (SELECT c.da, c.db, sum(CAST(round(wa.wt*wb.wt,8) AS DECIMAL(30,8))) dot
                FROM cand c JOIN w8 wa ON wa.doc_id = c.da JOIN w8 wb ON wb.doc_id = c.db AND wb.bg = wa.bg
                GROUP BY c.da, c.db)
        SELECT da, db, round(CAST(dot AS DOUBLE)/(na.nrm*nb.nrm), 6) AS cosine
        FROM dot JOIN nrm na ON na.doc_id = da JOIN nrm nb ON nb.doc_id = db
        ORDER BY cosine DESC NULLS LAST, da ASC NULLS LAST, db ASC NULLS LAST
        LIMIT 10""")),

    Q("n_embed_quantize_sq",
      "Int8 scalar quantization of the embedding corpus (the SQ8 storage mode every vector store ships alongside PQ): per-dimension min/max train the quantizer, codes are floor(round(q,6)+0.5) clamped to [0,255] — 4x smaller than float32 — and the output reports per-dimension reconstruction error (mean via the exact-decimal-mean pattern, plus max). The quantization bound err <= scale/2 per value is asserted in Round10Spec. Scale shape: the trainer is one dimension-keyed min/max aggregate (d rows of state), encoding is map-only against the broadcast ranges, and error metrics are dimension-keyed partial-combined aggregates — nothing materializes per (vector x dimension) beyond the scan itself.",
      (s, dir) => {
        // r15: spread before the per-dim explode (guide §2.5)
        val e = T.par(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "vf")))
          .select(col("vec_id"), col("dim"), col("vf").cast("double").as("v"))
        val mm = e.groupBy(col("dim"))
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        val q = e.join(broadcast(mm), Seq("dim"))
          .withColumn("scale", (col("mx") - col("mn")) / 255.0)
          .withColumn("code",
            least(greatest(floor(round((col("v") - col("mn"))
              / ((col("mx") - col("mn")) / 255.0), 6) + 0.5).cast("bigint"),
              lit(0L)), lit(255L)))
          .withColumn("err", abs(col("v") - (col("mn") + col("code") * col("scale"))))
        q.groupBy(col("dim"))
          .agg(
            round(sum(round(col("err"), 8).cast(DecimalType(30, 8))).cast("double")
              / count(lit(1)), 6).as("mean_abs_err"),
            round(max(col("err")), 6).as("max_err"))
          .orderBy(col("dim").asc_nulls_last)
      },
      Some("""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        mm AS (SELECT dim, min(v) mn, max(v) mx FROM e GROUP BY dim),
        q AS (SELECT e.vec_id, e.dim, e.v, mn, mx, (mx - mn) / 255.0 AS scale,
                least(greatest(CAST(floor(round((e.v - mn) / ((mx - mn) / 255.0), 6) + 0.5) AS BIGINT), 0), 255) AS code
              FROM e JOIN mm USING (dim)),
        r AS (SELECT dim, abs(v - (mn + code * scale)) AS err FROM q)
        SELECT dim, round(CAST(sum(CAST(round(err,8) AS DECIMAL(30,8))) AS DOUBLE) / count(*), 6) AS mean_abs_err,
          round(max(err), 6) AS max_err
        FROM r GROUP BY dim ORDER BY dim ASC NULLS LAST""")),

    Q("n_fim_split",
      "Fill-in-the-middle transform (the PSM reordering code models train on): two deterministic cut points per doc from integer md5 hashes mod (n-1) — no RNG state, replayable on any engine/cluster — split tokens into prefix/middle/suffix, and the output carries the span lengths plus the md5 of the reassembled <P>prefix<S>suffix<M>middle sequence (the training-ready form). Scale shape: entirely row-local map work — no shuffle at all beyond the output sort; the digest, not the transformed text, is what leaves the row.",
      (s, dir) => {
        val t = T(s, dir, "documents")
          .select(col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("w"))
          .withColumn("n", size(col("w")))
          .filter(col("n") >= 4)
        val cut = t
          .withColumn("a", lit(1) + h52("graft-fim-a:", col("doc_id").cast("string"))
            % (col("n") - 1))
          .withColumn("b", lit(1) + h52("graft-fim-b:", col("doc_id").cast("string"))
            % (col("n") - 1))
          .withColumn("lo", least(col("a"), col("b")))
          .withColumn("hi", greatest(col("a"), col("b")))
        cut.select(col("doc_id"), col("n").as("n_tok"), col("lo"), col("hi"),
            col("lo").as("len_prefix"), (col("hi") - col("lo")).as("len_middle"),
            (col("n") - col("hi")).as("len_suffix"),
            md5(concat(lit("<P>"),
              array_join(slice(col("w"), lit(1), col("lo")), " "),
              lit("<S>"),
              array_join(slice(col("w"), col("hi") + 1, col("n") - col("hi")), " "),
              lit("<M>"),
              array_join(slice(col("w"), col("lo") + 1, col("hi") - col("lo")), " ")))
              .as("psm_md5"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x->len(x)>0) w FROM documents),
        n AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) >= 4),
        cut AS (SELECT doc_id, w, n,
           1 + (CAST(concat('0x', substr(md5('graft-fim-a:'||CAST(doc_id AS VARCHAR)),1,13)) AS BIGINT) % (n-1)) AS a,
           1 + (CAST(concat('0x', substr(md5('graft-fim-b:'||CAST(doc_id AS VARCHAR)),1,13)) AS BIGINT) % (n-1)) AS b
         FROM n),
        s AS (SELECT doc_id, n, least(a,b) lo, greatest(a,b) hi, w FROM cut)
        SELECT doc_id, n AS n_tok, lo, hi, lo AS len_prefix, hi-lo AS len_middle, n-hi AS len_suffix,
          md5('<P>'||COALESCE(array_to_string(w[1:lo],' '),'')||'<S>'||COALESCE(array_to_string(w[hi+1:n],' '),'')||'<M>'||COALESCE(array_to_string(w[lo+1:hi],' '),'')) AS psm_md5
        FROM s ORDER BY doc_id ASC NULLS LAST""")),

    Q("n_minhash_eval",
      "Screen-quality evaluation of the MinHash/LSH candidate generator (the harness every dedup pipeline runs before trusting its band parameters): a portable MinHash-4 screen (b=4 bands x r=1 row — the recall-heavy corner of the S-curve 1-(1-s^r)^b) generates candidate pairs over the SAME DF-capped shingle relation the exact n-gram-Jaccard truth set uses, and the output is the confusion summary — true pairs, candidates, true positives, precision/recall/F1. Scale shape: the truth side reuses the memoized shingle-intersection relation (bucketed equi-join, never O(n^2)); the screen side is one 4-column signature aggregate plus four single-band equi-joins on 8-byte keys.",
      (s, dir) => {
        val sh = DedupQueries.cappedShingles(s, dir)
        val hs = sh.select(col("doc_id"),
          (expr("CAST(conv(substr(md5(sh), 1, 8), 16, 10) AS BIGINT)")
            % 2147483647L).as("h"))
        val perms = Seq((131L, 7L), (137L, 11L), (139L, 13L), (149L, 17L))
        // retained: the four single-band joins read this 4-column
        // signature relation on both sides — eight signature
        // aggregations without the cache
        val sigs = Retained(hs.groupBy(col("doc_id")).agg(
          min((col("h") * perms.head._1 + perms.head._2) % 2147483647L).as("s0"),
          perms.tail.zipWithIndex.map { case ((a, b), i) =>
            min((col("h") * a + b) % 2147483647L).as(s"s${i + 1}")
          }: _*))
        val cand = perms.indices.map { i =>
          sigs.select(col("doc_id").as("id_a"), col(s"s$i").as("k"))
            .join(sigs.select(col("doc_id").as("id_b"), col(s"s$i").as("k")), Seq("k"))
            .filter(col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b"))
        }.reduce(_ unionAll _).distinct()
        val truth = DedupQueries.jaccardPairs(s, dir).select(col("id_a"), col("id_b"))
        val m = broadcast(truth.agg(count(lit(1)).as("n_truth")))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(cand.join(truth, Seq("id_a", "id_b"))
            .agg(count(lit(1)).as("tp"))))
        m.select(col("n_truth"), col("n_cand"), col("tp"),
          round(col("tp").cast("double") / col("n_cand"), 6).as("precision"),
          round(col("tp").cast("double") / col("n_truth"), 6).as("recall"),
          round(lit(2.0) * col("tp") / (col("n_cand") + col("n_truth")), 6).as("f1"))
      },
      Some("""WITH sh0 AS (
          SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
               LATERAL (SELECT unnest(generate_series(0, len(w) - 3)) AS i) g),
        sh AS (SELECT * FROM sh0 WHERE sh IN
                 (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000)),
        hs AS (SELECT doc_id,
                 list_reduce(list_transform(range(1, 9),
                   i -> CAST(strpos('0123456789abcdef', substr(md5(sh), i, 1)) - 1 AS BIGINT)),
                   (a, b) -> a * 16 + b) % 2147483647 AS h
               FROM sh),
        sigs AS (SELECT doc_id,
            min((131*h+7) % 2147483647) AS s0, min((137*h+11) % 2147483647) AS s1,
            min((139*h+13) % 2147483647) AS s2, min((149*h+17) % 2147483647) AS s3
          FROM hs GROUP BY doc_id),
        cand AS (
          SELECT a.doc_id id_a, b.doc_id id_b FROM sigs a JOIN sigs b ON a.s0 = b.s0 AND a.doc_id < b.doc_id
          UNION SELECT a.doc_id, b.doc_id FROM sigs a JOIN sigs b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
          UNION SELECT a.doc_id, b.doc_id FROM sigs a JOIN sigs b ON a.s2 = b.s2 AND a.doc_id < b.doc_id
          UNION SELECT a.doc_id, b.doc_id FROM sigs a JOIN sigs b ON a.s3 = b.s3 AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY a.doc_id, b.doc_id),
        truth AS (SELECT id_a, id_b FROM pairs
                  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
                  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
        m AS (SELECT (SELECT count(*) FROM truth) AS n_truth,
                     (SELECT count(*) FROM cand) AS n_cand,
                     (SELECT count(*) FROM cand JOIN truth USING (id_a, id_b)) AS tp)
        SELECT n_truth, n_cand, tp,
          round(CAST(tp AS DOUBLE)/n_cand, 6) AS precision,
          round(CAST(tp AS DOUBLE)/n_truth, 6) AS recall,
          round(2.0*tp/(n_cand + n_truth), 6) AS f1
        FROM m""")),

    Q("n_ann_recall",
      "ANN recall@10 evaluation harness (the measurement that decides whether a bucketed index is usable before it ships): 20 probe vectors retrieve from the full corpus twice — exact brute-force cosine top-10, and multi-probe hyperplane LSH (signature Hamming distance <= 1, i.e. the probe's bucket plus its 8 single-bit neighbors) reranked by exact cosine — and each probe reports its candidate count, measured recall@10, and the analytic random-baseline recall (n_cand/(N-1)) so the index's lift over random is visible in the output itself. Scale shape: signatures are map-only against authoring-time constant hyperplanes, the probe set broadcasts, and the exact side IS the documented brute-force baseline this harness exists to compare against.",
      (s, dir) => {
        // r15: fused codegen PlaneSignature (PlaneSignatureSpec pins
        // equality with the HOF fold) over the spread scan; sig cast
        // keeps the original LONG type
        val sigs = T.par(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .withColumn("sig", graft.functions.PlaneSignature(
            col("embedding"), Round2Queries.lshPlanes).cast("long"))
          .select(col("vec_id"), col("embedding"), col("sig"))
        val probes = sigs.filter(col("vec_id") < 20)
          .select(col("vec_id").as("pid"), col("embedding").as("pv"),
            col("sig").as("psig"))
        val pairs = sigs.join(broadcast(probes), col("vec_id") =!= col("pid"))
          .withColumn("cos", round(SimilarityQueries.cosine("pv", "embedding"), 6))
          .select(col("pid"), col("psig"), col("vec_id"), col("sig"), col("cos"))
        def top10(df: DataFrame): DataFrame = df
          .withColumn("rk", row_number().over(Window.partitionBy(col("pid"))
            .orderBy(col("cos").desc, col("vec_id").asc)))
          .filter(col("rk") <= 10).select(col("pid"), col("vec_id"))
        val exact = top10(pairs)
        val annc = pairs.filter(expr("bit_count(psig ^ sig)") <= 1)
        val ann = top10(annc)
        val nc = annc.groupBy(col("pid")).agg(count(lit(1)).as("n_cand"))
        val hits = ann.join(exact, Seq("pid", "vec_id"))
          .groupBy(col("pid")).agg(count(lit(1)).as("hits"))
        val corpusN = broadcast(T(s, dir, "embeddings")
          .agg((count(lit(1)) - 1).as("n_others")))
        probes.select(col("pid"))
          .join(nc, Seq("pid"), "left")
          .join(hits, Seq("pid"), "left")
          .crossJoin(corpusN)
          .select(col("pid"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            round(coalesce(col("hits"), lit(0L)) / 10.0, 6).as("recall_at_10"),
            round(coalesce(col("n_cand"), lit(0L)).cast("double")
              / col("n_others"), 6).as("random_recall"))
          .orderBy(col("pid").asc_nulls_last)
      },
      Some {
        val bits = Round2Queries.lshPlanes.zipWithIndex.map { case (hp, b) =>
          val lst = hp.mkString("[", ", ", "]")
          s"""(CASE WHEN list_sum(list_transform(list_zip($lst, embedding),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) >= 0
              THEN ${1L << b} ELSE 0 END)"""
        }.mkString("\n            + ")
        s"""WITH sigs AS (SELECT vec_id, embedding, $bits AS sig FROM embeddings),
        probes AS (SELECT vec_id AS pid, embedding AS pv, sig AS psig FROM sigs WHERE vec_id < 20),
        pairs AS (SELECT pid, psig, c.vec_id, c.sig,
            round(list_sum(list_transform(list_zip(pv, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(pv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
          FROM sigs c CROSS JOIN probes WHERE c.vec_id != pid),
        exact AS (SELECT pid, vec_id FROM (
            SELECT pid, vec_id, row_number() OVER (PARTITION BY pid ORDER BY cos DESC, vec_id) rk FROM pairs) t WHERE rk <= 10),
        annc AS (SELECT * FROM pairs WHERE bit_count(xor(psig, sig)) <= 1),
        ann AS (SELECT pid, vec_id FROM (
            SELECT pid, vec_id, row_number() OVER (PARTITION BY pid ORDER BY cos DESC, vec_id) rk FROM annc) t WHERE rk <= 10),
        nc AS (SELECT pid, count(*) AS n_cand FROM annc GROUP BY pid),
        hit AS (SELECT pid, count(*) AS hits FROM ann JOIN exact USING (pid, vec_id) GROUP BY pid),
        cn AS (SELECT count(*) - 1 AS n_others FROM embeddings)
        SELECT p.pid, COALESCE(nc.n_cand, 0) AS n_cand,
          round(COALESCE(hit.hits, 0) / 10.0, 6) AS recall_at_10,
          round(CAST(COALESCE(nc.n_cand, 0) AS DOUBLE) / n_others, 6) AS random_recall
        FROM (SELECT DISTINCT pid FROM probes) p
        LEFT JOIN nc USING (pid) LEFT JOIN hit USING (pid) CROSS JOIN cn
        ORDER BY pid ASC NULLS LAST"""
      }),

    Q("n_time_decay_agg",
      "Exponentially time-decayed engagement counters (half-life 7 days, as-of the corpus max timestamp) — the freshness-aware aggregate every ranking/metrics system keeps: per event type, decayed count = sum 2^(-age/h) and decayed value-weighted sum. Ages are exact integer microsecond differences; decay factors round to 8 decimals before an exact decimal sum, so both engines aggregate identical values in any order. Scale/streaming shape: the decayed counter is MERGEABLE by the rescaling law C_T = C_T1 * 2^(-(T-T1)/h) + C_T2 * 2^(-(T-T2)/h) (Round10Spec proves it on split halves) — shards keep a (sum, as-of) pair and merge by rescaling to the newer as-of, which is exactly how a streaming half-life counter avoids reprocessing history.",
      (s, dir) => {
        val mx = T(s, dir, "events").agg(max(col("ts")).as("tmax"))
        T(s, dir, "events").crossJoin(broadcast(mx))
          .withColumn("decay", round(pow(lit(2.0),
            -(unix_micros(col("tmax")) - unix_micros(col("ts"))).cast("double")
              / 604800000000.0), 8))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("decay").cast(DecimalType(30, 8))).cast("double"), 6)
              .as("decayed_count"),
            round(sum(round(col("value") * col("decay"), 8)
              .cast(DecimalType(30, 8))).cast("double"), 6).as("decayed_value"))
          .orderBy(col("event_type").asc_nulls_last)
      },
      Some("""WITH mx AS (SELECT max(ts) AS tmax FROM events),
        d AS (SELECT event_type, value,
                round(pow(2.0, -CAST(epoch_us(tmax) - epoch_us(ts) AS DOUBLE) / 604800000000.0), 8) AS decay
              FROM events CROSS JOIN mx)
        SELECT event_type, count(*) AS n,
          round(CAST(sum(CAST(decay AS DECIMAL(30,8))) AS DOUBLE), 6) AS decayed_count,
          round(CAST(sum(CAST(round(value * decay, 8) AS DECIMAL(30,8))) AS DOUBLE), 6) AS decayed_value
        FROM d GROUP BY event_type ORDER BY event_type ASC NULLS LAST""")),

    Q("n_ccnet_buckets",
      "CCNet-style perplexity bucketing (Wenzek et al.: score every doc with a reference LM, split the corpus at the 1/3 and 2/3 perplexity percentiles into head/middle/tail, keep head+middle): per-doc add-1 bigram NLL reuses the n_bigram_lm scoring chain over the retained bigram relation, the two cutoffs come from ONE percentile aggregate (broadcast — no global rank window, which would single-partition 10^11 doc rows at scale; CCNet itself uses percentile thresholds, not equal-count terciles), and bucket assignment is map-only against the broadcast cutoffs. Each bucket reports doc count, exact-decimal mean NLL, and bigram share — the numbers a curator reads before choosing the keep line.",
      (s, dir) => {
        val big = Round9bQueries.bigramStream(s, dir)
        val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        val uc = big.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
        // vocab size as an in-DAG one-row broadcast aggregate — not a
        // plan-build-time .count(), which would run a second full corpus
        // scan per invocation even when the query is only being planned
        // r15: spread measured and LOST badly (0.68 -> 3.08 min-of-3):
        // an exchange inside a broadcast-subtree one-row aggregate
        // serializes the whole broadcast build behind a shuffle —
        // never spread under broadcast()
        val vocab = broadcast(T(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .agg(countDistinct(col("w")).cast("double").as("vsz")))
        // retained: the cutoff aggregate, the total aggregate and the
        // bucketed main pass all read this doc-level relation — without
        // the cache the whole scoring chain runs three times
        val perDoc = Retained(
          big.join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
            .crossJoin(vocab)
            .withColumn("nll", round(-log(
              (col("cb") + 1.0) / (col("cu") + col("vsz"))), 8))
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_bigrams"),
              round(sum(col("nll").cast(DecimalType(20, 8))).cast("double")
                / count(lit(1)), 6).as("avg_nll")))
        val tot = broadcast(perDoc.agg(sum(col("n_bigrams")).as("total_bigrams")))
        val cuts = broadcast(perDoc.agg(
          round(expr("percentile(avg_nll, 1.0/3)"), 8).as("q1"),
          round(expr("percentile(avg_nll, 2.0/3)"), 8).as("q2")))
        perDoc.crossJoin(cuts).crossJoin(tot)
          .withColumn("bucket",
            when(col("avg_nll") <= col("q1"), "head")
              .when(col("avg_nll") <= col("q2"), "middle")
              .otherwise("tail"))
          .groupBy(col("bucket"), col("total_bigrams"))
          .agg(count(lit(1)).as("n_docs"),
            round(sum(col("avg_nll").cast(DecimalType(20, 6))).cast("double")
              / count(lit(1)), 6).as("mean_nll"),
            sum(col("n_bigrams")).as("n_bigrams"))
          .select(col("bucket"), col("n_docs"), col("mean_nll"), col("n_bigrams"),
            round(col("n_bigrams").cast("double") / col("total_bigrams"), 6)
              .as("bigram_share"))
          .orderBy(col("bucket").asc_nulls_last)
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
          JOIN uc ON big.w1 = uc.w1 CROSS JOIN vs),
        pd AS (SELECT doc_id, count(*) AS n_bigrams,
            round(CAST(sum(CAST(nll AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_nll
          FROM sc GROUP BY doc_id),
        tot AS (SELECT sum(n_bigrams) AS total_bigrams FROM pd),
        cuts AS (SELECT round(quantile_cont(avg_nll, 1.0/3), 8) AS q1,
                        round(quantile_cont(avg_nll, 2.0/3), 8) AS q2 FROM pd),
        rk AS (SELECT doc_id, n_bigrams, avg_nll,
            CASE WHEN avg_nll <= q1 THEN 'head'
                 WHEN avg_nll <= q2 THEN 'middle'
                 ELSE 'tail' END AS bucket
          FROM pd CROSS JOIN cuts),
        b AS (SELECT bucket, total_bigrams, count(*) AS n_docs,
            round(CAST(sum(CAST(avg_nll AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mean_nll,
            sum(n_bigrams) AS n_bigrams
          FROM rk CROSS JOIN tot GROUP BY bucket, total_bigrams)
        SELECT bucket, n_docs, mean_nll, CAST(n_bigrams AS BIGINT) AS n_bigrams,
          round(CAST(n_bigrams AS DOUBLE) / total_bigrams, 6) AS bigram_share
        FROM b ORDER BY bucket ASC NULLS LAST""")),

    Q("n_silhouette",
      "Simplified silhouette (Hruschka et al.) cluster-quality evaluation of the embedding label clustering — the score a pipeline reads before trusting cluster-balanced sampling or SemDeDup cells: a(i) = cosine distance to the OWN cluster centroid, b(i) = min distance to any other centroid, s(i) = (b-a)/max(a,b), reported as exact-decimal per-cluster means. The simplified form is the scale-correct choice: classic silhouette is quadratic in cluster sizes, this one is one dimension-keyed centroid aggregate (k x d rows of model state, broadcast back) plus a map-side distance per (point, centroid) — linear in n with a k-fold fan-out. All products round to 8 decimals before exact decimal sums, so both engines rank identical values.",
      (s, dir) => {
        // r15: spread the single-split scan before the per-dim explode
        val e = T.par(s, dir, "embeddings").filter(col("vec_id") < 150)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("dim", "vf")))
          .select(col("vec_id"), col("label"), col("dim"),
            col("vf").cast("double").as("v"))
        val cent = e.groupBy(col("label").as("clabel"), col("dim"))
          .agg(round(sum(round(col("v"), 8).cast(DecimalType(30, 8))).cast("double")
            / count(lit(1)), 8).as("cv"))
        val dots = e.join(broadcast(cent), Seq("dim"))
          .groupBy(col("vec_id"), col("label"), col("clabel"))
          .agg(sum(round(col("v") * col("cv"), 8).cast(DecimalType(30, 8))).as("dot"),
            sum(round(col("v") * col("v"), 8).cast(DecimalType(30, 8))).as("pn"),
            sum(round(col("cv") * col("cv"), 8).cast(DecimalType(30, 8))).as("cn"))
        val dist = dots.select(col("vec_id"), col("label"), col("clabel"),
          round(lit(1.0) - col("dot").cast("double")
            / (sqrt(col("pn").cast("double")) * sqrt(col("cn").cast("double"))), 8)
            .as("d"))
        val ab = dist.groupBy(col("vec_id"), col("label"))
          .agg(max(when(col("clabel") === col("label"), col("d"))).as("a"),
            min(when(col("clabel") =!= col("label"), col("d"))).as("b"))
        ab.select(col("label"),
            round((col("b") - col("a")) / greatest(col("a"), col("b")), 6).as("sil"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("sil").cast(DecimalType(20, 6))).cast("double")
              / count(lit(1)), 6).as("mean_silhouette"))
          .orderBy(col("label").asc_nulls_last)
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 150),
        ex AS (SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS v FROM e),
        cent AS (SELECT label AS clabel, dim,
            round(CAST(sum(CAST(round(v, 8) AS DECIMAL(30,8))) AS DOUBLE) / count(*), 8) AS cv
          FROM ex GROUP BY label, dim),
        dots AS (SELECT ex.vec_id, ex.label, cent.clabel,
            sum(CAST(round(ex.v * cent.cv, 8) AS DECIMAL(30,8))) AS dot,
            sum(CAST(round(ex.v * ex.v, 8) AS DECIMAL(30,8))) AS pn,
            sum(CAST(round(cent.cv * cent.cv, 8) AS DECIMAL(30,8))) AS cn
          FROM ex JOIN cent ON ex.dim = cent.dim
          GROUP BY ex.vec_id, ex.label, cent.clabel),
        dist AS (SELECT vec_id, label, clabel,
            round(1.0 - CAST(dot AS DOUBLE)/(sqrt(CAST(pn AS DOUBLE))*sqrt(CAST(cn AS DOUBLE))), 8) AS d
          FROM dots),
        ab AS (SELECT vec_id, label,
            max(CASE WHEN clabel = label THEN d END) AS a,
            min(CASE WHEN clabel != label THEN d END) AS b
          FROM dist GROUP BY vec_id, label),
        s AS (SELECT vec_id, label, round((b - a) / greatest(a, b), 6) AS sil FROM ab)
        SELECT label, count(*) AS n,
          round(CAST(sum(CAST(sil AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mean_silhouette
        FROM s GROUP BY label ORDER BY label ASC NULLS LAST""")),

    Q("n_bpe_fertility",
      "Per-language tokenizer fertility (tokens per word — the standard diagnostic for how well a trained vocabulary serves each language; high-fertility languages pay more sequence length per word and motivate vocab rebalancing): apply the memoized BPE rule (Round9Queries.trainMerges — train once, evaluate many) to the vocab relation and aggregate token counts per language through the same token-keyed join as n_bpe_encode — the corpus text never rewrites or shuffles. Scale shape: the merge rewrites touch the DISTINCT-word vocab (~10^6 rows at 100 TB), the per-language rollup is one partial-combined aggregate over word occurrences.",
      (s, dir) => {
        val merges = Round9Queries.trainMerges(s, dir)
        val wordToks = merges.foldLeft(Round9Queries.bpeVocab(s, dir)) {
          case (df, (_, l, r, _, _)) =>
            df.withColumn("spaced", Round9Queries.applyMerge(col("spaced"), l, r))
        }.select(col("w"), size(split(col("spaced"), " ")).as("n_toks"))
        T.par(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .join(wordToks, "w")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_tokens"))
          .select(col("lang"), col("n_words"), col("n_tokens"),
            round(col("n_tokens").cast("double") / col("n_words"), 6).as("fertility"))
          .orderBy(col("lang").asc_nulls_last)
      },
      Some(Round9bQueries.bpeFertilityOracle)),

    Q("n_distinct_ngrams",
      "Distinct-n diversity ratios per source (the distinct-1/2/3 metric synthetic-data pipelines watch for mode collapse — a generated slice whose bigram ratio drifts below the organic sources' is recycling phrasing): for n in 1..3, distinct n-grams over total n-grams, per source slice. Scale shape: three gram streams, each one partial-combined (source, gram)-keyed distinct + a source-keyed rollup; grams could shuffle as digests at 100 TB, and the metric needs no text beyond the gram identity.",
      (s, dir) => {
        // r15: spread the single-split doc scan before the gram explodes;
        // retain — grams(1..3) otherwise re-run the tokenize pass 3x
        val t = Retained(T.par(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("w")))
        def grams(n: Int): DataFrame = t
          .select(col("source"), col("w"),
            explode(sequence(lit(1), size(col("w")) - (n - 1))).as("i"))
          .withColumn("g", concat_ws(" ",
            (0 until n).map(k => element_at(col("w"), col("i") + k)): _*))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("total"), countDistinct(col("g")).as("uniq"))
          .select(col("source"), lit(n).as("n"), col("total"), col("uniq"))
        (1 to 3).map(grams).reduce(_ unionAll _)
          .select(col("source"), col("n"), col("total"), col("uniq"),
            round(col("uniq").cast("double") / col("total"), 6).as("distinct_ratio"))
          .orderBy(col("source").asc_nulls_last, col("n").asc_nulls_last)
      },
      Some("""WITH t AS (SELECT source, doc_id, list_filter(string_split(text,' '), x->len(x)>0) w FROM documents),
        u1 AS (SELECT source, unnest(w) AS g FROM t),
        u2 AS (SELECT source, w[i] || ' ' || w[i+1] AS g FROM t, unnest(range(1, len(w))) u(i)),
        u3 AS (SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g FROM t, unnest(range(1, len(w)-1)) u(i)),
        m AS (
          SELECT source, 1 AS n, count(*) AS total, count(DISTINCT g) AS uniq FROM u1 GROUP BY source
          UNION ALL SELECT source, 2, count(*), count(DISTINCT g) FROM u2 GROUP BY source
          UNION ALL SELECT source, 3, count(*), count(DISTINCT g) FROM u3 GROUP BY source)
        SELECT source, n, total, uniq, round(CAST(uniq AS DOUBLE)/total, 6) AS distinct_ratio
        FROM m ORDER BY source ASC NULLS LAST, n ASC NULLS LAST""")),

    Q("n_trending",
      "Trending ranking — half-life-decayed activity per key, top-10 (the composition every trending/leaderboard system runs: the n_time_decay_agg counter per user, 1-day half-life, ranked): decay factors are the same portable rounded-pow construction, per-user sums are exact decimals, and the ranking ships as TakeOrderedAndProject. The fixture shows why decay matters: the top user's 81 recent events outrank another's 85 staler ones. Scale shape: one partial-combined key-keyed aggregate + a k-row merge.",
      (s, dir) => {
        val mx = T(s, dir, "events").agg(max(col("ts")).as("tmax"))
        T(s, dir, "events").crossJoin(broadcast(mx))
          .withColumn("decay", round(pow(lit(2.0),
            -(unix_micros(col("tmax")) - unix_micros(col("ts"))).cast("double")
              / 86400000000.0), 8))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("decay").cast(DecimalType(30, 8))).cast("double"), 6)
              .as("trend_score"))
          .orderBy(col("trend_score").desc_nulls_last, col("user_id").asc_nulls_last)
          .limit(10)
      },
      Some("""WITH mx AS (SELECT max(ts) AS tmax FROM events),
        d AS (SELECT user_id, round(pow(2.0, -CAST(epoch_us(tmax) - epoch_us(ts) AS DOUBLE) / 86400000000.0), 8) AS decay
              FROM events CROSS JOIN mx),
        agg AS (SELECT user_id, count(*) AS n_events,
            round(CAST(sum(CAST(decay AS DECIMAL(30,8))) AS DOUBLE), 6) AS trend_score
          FROM d GROUP BY user_id)
        SELECT user_id, n_events, trend_score FROM agg
        ORDER BY trend_score DESC NULLS LAST, user_id ASC NULLS LAST LIMIT 10"""))
  )
}
