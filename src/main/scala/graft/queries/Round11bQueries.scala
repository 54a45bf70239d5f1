package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 second batch — the quality-filter / retrieval-fusion /
  * ops tiers of a training-data pipeline (reference scope:
  * fb64/uquery-rs exposes arbitrary SQL over corpus tables,
  * src/core/duckdb.rs:87; these are the curation programs built on
  * top of that surface):
  *
  * QUALITY FILTERS (the classic published batteries):
  *   - n_gopher_rules — the Gopher (Rae et al. 2021) document-level
  *     rule battery: word-count bounds, mean-word-length band,
  *     max-word-length cap, English-stopword floor, type-token-ratio
  *     floor. Row-local map, no shuffle before the output sort.
  *   - n_readability — Flesch-Kincaid grade from vowel-group syllable
  *     counting (deterministic regex syllables; fixed 15-word
  *     pseudo-sentences since the synthetic corpus has no
  *     punctuation), rolled up per language in exact decimals.
  *   - n_lexical_diversity — segmental type-token ratio (STTR over
  *     full 25-token segments — the length-robust TTR variant) next
  *     to the raw per-doc TTR.
  *
  * EVALUATION HARNESSES:
  *   - n_langid_eval — per-language precision / recall / F1 of the
  *     n_lang_id stopword classifier against the labeled lang column
  *     (the eval a pipeline runs BEFORE trusting a lang gate).
  *
  * RETRIEVAL / EMBEDDING OPS:
  *   - n_hard_negatives — hard-negative mining for retrieval
  *     training: per probe, the top-3 highest-cosine vectors whose
  *     label DIFFERS from the probe's.
  *   - n_rank_fusion — reciprocal-rank fusion (RRF, k=60) of a
  *     lexical BM25 ranking and a semantic cosine ranking — the
  *     standard hybrid-search combiner.
  *   - n_embedding_outliers — corpus-level embedding sanity gate:
  *     per-vector L2 norm z-scored against exact-decimal corpus
  *     moments; |z| beyond the gate flags broken encoder output.
  *
  * INGESTION OPS:
  *   - n_snapshot_diff — crawl-snapshot delta: added / removed /
  *     changed / unchanged classification by content digest, the
  *     incremental-ingest primitive (only `changed`+`added` re-enter
  *     the pipeline; digests on the wire, never bodies).
  */
object Round11bQueries extends QueryModule {

  /** Whitespace words with empties dropped. */
  // r15: spread the single-split doc scan — every consumer runs
  // row-local tokenize/HOF CPU straight off this projection (guide §2.5)
  private def withWords(s: SparkSession, dir: String) =
    T.par(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        filter(split(col("text"), " "), w => length(w) > 0).as("words"))

  private val enStop = Seq("the", "a", "of", "and", "to")

  /** Per-doc (lang, pred_lang) from the n_lang_id stopword scorer —
    * same rule, shared here for the eval harness.
    */
  private def langScored(s: SparkSession, dir: String) = {
    val stopwords = Map(
      "en" -> Seq("the", "a", "of", "and", "to"),
      "es" -> Seq("el", "la", "de", "y", "que"),
      "fr" -> Seq("le", "la", "de", "et", "que"),
      "de" -> Seq("der", "die", "das", "und", "zu"),
      "zh" -> Seq("de", "le", "shi", "bu", "wo"))
    val scoreCols = stopwords.toSeq.sortBy(_._1).map { case (lg, words) =>
      val arr = words.map("'" + _ + "'").mkString(",")
      struct(
        size(expr(s"filter(words, w -> array_contains(array($arr), w))")).as("score"),
        lit(lg).as("lang")).as(s"s_$lg")
    }
    withWords(s, dir)
      .withColumn("cand", array(scoreCols: _*))
      .withColumn("best", expr(
        "array_sort(cand, (l, r) -> CASE WHEN l.score > r.score THEN -1 WHEN l.score < r.score THEN 1 " +
        "WHEN l.lang < r.lang THEN -1 WHEN l.lang > r.lang THEN 1 ELSE 0 END)[0]"))
      .select(col("doc_id"), col("lang"), col("best.lang").as("pred"))
  }

  /** The shared DuckDB words CTE. */
  private val wordsCte =
    "SELECT doc_id, lang, source, text, list_filter(string_split(text, ' '), w -> len(w) > 0) AS words FROM documents"

  /** 3-step BPE training over one corpus half (doc_id parity) — the
    * Round9Queries.trainLoop recipe on a filtered vocab, memoized per
    * (session, dir, parity) like the full-corpus rule.
    */
  private def trainHalf(s: SparkSession, dir: String, parity: Int)
      : Seq[(Int, String, String, Long)] =
    Retained.memo(s, ("bpe.halfMerges", dir, parity)) {
      var cur = T(s, dir, "documents")
        .filter(col("doc_id") % 2 === parity)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(array_join(split(col("w"), ""), " ").as("spaced"), col("cnt"))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
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
        merges += ((step, l, r, f))
        cur = cur.withColumn("spaced", Round9Queries.applyMerge(col("spaced"), l, r))
      }
      merges.toSeq
    }

  /** One unrolled 3-step BPE training chain as DuckDB CTEs, prefixed
    * so two parities can coexist in one WITH clause (the
    * n_bpe_train oracle recipe, parameterized).
    */
  private def bpeChainSql(p: String, parity: Int): String = {
    def mergeStep(i: Int): String =
      s"""${p}p$i AS (SELECT toks[i] AS l, toks[i + 1] AS r, cnt FROM (
            SELECT toks, cnt, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM (SELECT string_split(spaced, ' ') AS toks, cnt FROM ${p}v${i - 1}) t0) t1),
        ${p}m$i AS (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS freq FROM ${p}p$i GROUP BY l, r
               ORDER BY freq DESC, l ASC, r ASC LIMIT 1)"""
    def rewriteStep(i: Int): String =
      s"""${p}v$i AS (SELECT trim(replace(replace(' ' || spaced || ' ',
                 ' ' || ${p}m$i.l || ' ' || ${p}m$i.r || ' ', ' ' || ${p}m$i.l || ${p}m$i.r || ' '),
                 ' ' || ${p}m$i.l || ' ' || ${p}m$i.r || ' ', ' ' || ${p}m$i.l || ${p}m$i.r || ' ')) AS spaced, cnt
               FROM ${p}v${i - 1} CROSS JOIN ${p}m$i)"""
    s"""${p}v0 AS (
          SELECT array_to_string(string_split(w, ''), ' ') AS spaced, cnt
          FROM (SELECT w, count(*) AS cnt
                FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents
                      WHERE doc_id % 2 = $parity) t
                WHERE len(w) > 0 GROUP BY w)),
        ${mergeStep(1)}, ${rewriteStep(1)},
        ${mergeStep(2)}, ${rewriteStep(2)},
        ${mergeStep(3)},
        ${p}mm AS (SELECT 1 AS step, l || r AS merged, freq FROM ${p}m1
          UNION ALL SELECT 2, l || r, freq FROM ${p}m2
          UNION ALL SELECT 3, l || r, freq FROM ${p}m3)"""
  }

  /** Channel formula of the quality-gate fixture as SQL text (shared
    * with MediaDecode.synthQualityPng — the oracle recomputes the
    * pixels analytically, the engine decodes the real PNG).
    */
  private def qchSql(k: Int, xe: String, ye: String): String = k match {
    case 0 => s"(7*src + (src%13+2)*($xe)*($xe) + (src%11+3)*($ye)*($ye) + ($xe)*($ye)) % 256"
    case 1 => s"(11*src + (src%7+2)*($xe)*($xe) + (src%17+1)*($ye) + 2*($xe)*($ye)) % 256"
    case _ => s"(13*src + (src%5+3)*($ye)*($ye) + (src%19+1)*($xe) + ($xe)*($ye)) % 256"
  }
  private def qLumaOrig: String =
    (0 to 2).map(k => qchSql(k, "x", "y")).mkString(" + ")
  private def qLumaBlur: String =
    (0 to 2).map { k =>
      val corners = Seq(("bx", "by"), ("bx+1", "by"), ("bx", "by+1"), ("bx+1", "by+1"))
        .map { case (xe, ye) => qchSql(k, xe, ye) }.mkString(" + ")
      s"(($corners) // 4)"
    }.mkString(" + ")

  override val queries: Seq[Q] = Seq(

    Q("m_image_quality",
      "Image quality gate (the blur/exposure screen an image-corpus pipeline runs before captioning): REAL decode of 240 PNGs — 120 textured originals plus their 2x2 box-blurred twins — per-pixel exact-integer luma reduces to brightness (mean), RMS contrast, and L1-Laplacian sharpness over interior pixels (the variance-of-Laplacian blur detector's exact-integer sibling); pass = sharpness >= 250 (the planted gap: blur twins top out at ~175, originals start at ~345), which every original clears and every blur twin fails (spec'd). Scale shape: partition-batched decode to constant per-image state; the gate is one row-local comparison.",
      (s, dir) => {
        val ids = T(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") >= 1 && col("doc_id") <= 120)
        val media = T.spread(ids, cpuDense = true).select(col("doc_id"),
            graft.operators.MediaDecode.synthQualityPngUdf(col("doc_id")).as("payload"))
          .unionAll(T.spread(ids, cpuDense = true).select((col("doc_id") + 100000).as("doc_id"),
            graft.operators.MediaDecode.synthQualityPngBlurUdf(col("doc_id")).as("payload")))
        graft.operators.MediaDecode.imageQuality(media)
          .withColumn("mean_luma",
            round(col("sum_g").cast("double") / col("n_px"), 6))
          .withColumn("contrast", round(sqrt(
            col("sum_g2").cast("double") / col("n_px")
              - (col("sum_g").cast("double") / col("n_px"))
                * (col("sum_g").cast("double") / col("n_px"))), 6))
          .withColumn("sharpness",
            round(col("lap_sum").cast("double") / col("n_interior"), 6))
          .withColumn("pass", col("sharpness") >= 250.0)
          .select(col("doc_id"), col("mean_luma"), col("contrast"),
            col("sharpness"), col("pass"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some(s"""WITH ids AS (SELECT doc_id AS src FROM documents WHERE doc_id BETWEEN 1 AND 120),
        imgs AS (SELECT src AS doc_id, src, 0 AS up FROM ids
                 UNION ALL SELECT src + 100000, src, 1 FROM ids),
        px AS (SELECT doc_id, src, up, x.x, y.y,
                 (x.x // 2) * 2 AS bx, (y.y // 2) * 2 AS by
               FROM imgs, LATERAL (SELECT unnest(range(0, 16)) AS x) x,
                          LATERAL (SELECT unnest(range(0, 16)) AS y) y),
        pxg AS (SELECT doc_id, x, y,
                 CASE WHEN up = 0 THEN $qLumaOrig ELSE $qLumaBlur END AS g
               FROM px),
        base AS (SELECT doc_id, count(*) AS n_px,
                 CAST(sum(g) AS BIGINT) AS sum_g, CAST(sum(g*g) AS BIGINT) AS sum_g2
               FROM pxg GROUP BY doc_id),
        lap AS (SELECT c.doc_id,
                 CAST(sum(abs(4*c.g - l.g - r.g - u.g - d.g)) AS BIGINT) AS lap_sum,
                 count(*) AS n_interior
               FROM pxg c
                 JOIN pxg l ON l.doc_id = c.doc_id AND l.x = c.x - 1 AND l.y = c.y
                 JOIN pxg r ON r.doc_id = c.doc_id AND r.x = c.x + 1 AND r.y = c.y
                 JOIN pxg u ON u.doc_id = c.doc_id AND u.x = c.x AND u.y = c.y - 1
                 JOIN pxg d ON d.doc_id = c.doc_id AND d.x = c.x AND d.y = c.y + 1
               WHERE c.x BETWEEN 1 AND 14 AND c.y BETWEEN 1 AND 14
               GROUP BY c.doc_id)
        SELECT base.doc_id AS doc_id,
          round(CAST(sum_g AS DOUBLE) / n_px, 6) AS mean_luma,
          round(sqrt(CAST(sum_g2 AS DOUBLE) / n_px
            - (CAST(sum_g AS DOUBLE) / n_px) * (CAST(sum_g AS DOUBLE) / n_px)), 6) AS contrast,
          round(CAST(lap_sum AS DOUBLE) / n_interior, 6) AS sharpness,
          (round(CAST(lap_sum AS DOUBLE) / n_interior, 6) >= 250.0) AS pass
        FROM base JOIN lap ON base.doc_id = lap.doc_id
        ORDER BY base.doc_id ASC NULLS LAST""")),

    Q("n_tokenizer_drift",
      "Tokenizer stability across data splits (the check run before retraining a production tokenizer on a new crawl: do the learned merges change?): 3-step BPE rules train independently on the even and odd doc_id halves — same exact-integer pair counts and lexicographic ties as n_bpe_train, each over its half's vocab relation — and the merge tables compare step by step with an agreement verdict. Scale shape: two vocab-sized training chains (the corpus scans once per half to build word counts, never again), O(merges) driver state each.",
      (s, dir) => {
        import s.implicits._
        val e = trainHalf(s, dir, 0)
        val o = trainHalf(s, dir, 1)
        (1 to 3).map { st =>
          val (_, el, er, ef) = e(st - 1)
          val (_, ol, or_, of) = o(st - 1)
          (st, el + er, ef, ol + or_, of, (el + er) == (ol + or_))
        }.toDF("step", "even_merged", "even_freq", "odd_merged", "odd_freq", "agree")
          .orderBy(col("step").asc_nulls_last)
      },
      Some(s"""WITH ${bpeChainSql("e", 0)},
        ${bpeChainSql("o", 1)}
        SELECT CAST(e.step AS INT) AS step, e.merged AS even_merged, e.freq AS even_freq,
          o.merged AS odd_merged, o.freq AS odd_freq, e.merged = o.merged AS agree
        FROM emm e JOIN omm o ON e.step = o.step
        ORDER BY step ASC NULLS LAST""")),

    Q("n_gopher_rules",
      "Gopher-style document quality rule battery (Rae et al. 2021 §A1.1, adapted to the corpus surface): word-count bounds [50, 100k], mean-word-length band [3, 10], max-word-length cap 15, >=2 English stopword hits, type-token ratio >= 0.2; per-doc rule values + overall verdict. Every rule is a row-local array fold over the words column — zero shuffles before the output sort, the filter shape that runs map-side at 100 TB.",
      (s, dir) => {
        withWords(s, dir)
          .withColumn("n_words", size(col("words")))
          .withColumn("sum_len", expr("aggregate(words, 0L, (a, w) -> a + length(w))"))
          .withColumn("mean_wlen", round(col("sum_len").cast("double") / col("n_words"), 6))
          .withColumn("max_wlen", expr("aggregate(words, 0, (a, w) -> greatest(a, length(w)))"))
          .withColumn("stop_hits",
            size(array_intersect(array_distinct(col("words")), array(enStop.map(lit): _*))))
          .withColumn("ttr", round(
            size(array_distinct(col("words"))).cast("double") / col("n_words"), 6))
          .withColumn("pass",
            col("n_words").between(50, 100000) &&
            col("mean_wlen").between(3.0, 10.0) &&
            col("max_wlen") <= 15 &&
            col("stop_hits") >= 2 &&
            col("ttr") >= 0.2)
          .select(col("doc_id"), col("n_words"), col("mean_wlen"), col("max_wlen"),
            col("stop_hits"), col("ttr"), col("pass"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some(s"""WITH d AS ($wordsCte),
        m AS (SELECT doc_id, CAST(len(words) AS INT) AS n_words,
            CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
            CAST(list_max(list_transform(words, w -> len(w))) AS INT) AS max_wlen,
            CAST(len(list_intersect(list_distinct(words), ['the','a','of','and','to'])) AS INT) AS stop_hits,
            CAST(len(list_distinct(words)) AS INT) AS n_types
          FROM d)
        SELECT doc_id, n_words,
          round(CAST(sum_len AS DOUBLE) / n_words, 6) AS mean_wlen,
          max_wlen, stop_hits,
          round(CAST(n_types AS DOUBLE) / n_words, 6) AS ttr,
          (n_words BETWEEN 50 AND 100000)
            AND (round(CAST(sum_len AS DOUBLE) / n_words, 6) BETWEEN 3.0 AND 10.0)
            AND max_wlen <= 15 AND stop_hits >= 2
            AND round(CAST(n_types AS DOUBLE) / n_words, 6) >= 0.2 AS pass
        FROM m ORDER BY doc_id ASC NULLS LAST""")),

    Q("n_readability",
      "Flesch-Kincaid grade-level readability per language: syllables = vowel-group ([aeiouy]+) regex matches over the text (the standard heuristic), sentences = fixed 15-word pseudo-sentences (the corpus has no punctuation — documented, deterministic), FK = 0.39*(words/sents) + 11.8*(syll/words) - 15.59 evaluated row-local as an EXACT integer rational with the 4-decimal round done in integer space (double round() tie semantics differ cross-engine — caught live building this), rolled up per lang via exact-decimal sums. Scale shape: row-local map + a 5-row language aggregate.",
      (s, dir) => {
        withWords(s, dir)
          .withColumn("n_words", size(col("words")).cast("long"))
          .withColumn("syll",
            size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0))).cast("long"))
          .withColumn("sents", ceil(col("n_words").cast("double") / 15).cast("long"))
          // fk = 0.39*(w/s) + 11.8*(syl/w) - 15.59 computed as the exact
          // rational (39*w*w + 1180*syl*s - 1559*s*w) / (100*s*w) —
          // positive on any real corpus — with the 4-decimal half-up
          // round done in INTEGER space: double round(x, 4) disagrees
          // cross-engine on exact ties (observed live on this query),
          // integer (2e4*num + den) div (2*den) cannot.
          .withColumn("num",
            lit(39L) * col("n_words") * col("n_words")
              + lit(1180L) * col("syll") * col("sents")
              - lit(1559L) * col("sents") * col("n_words"))
          .withColumn("den", lit(100L) * col("sents") * col("n_words"))
          .withColumn("fk",
            expr("(20000 * num + den) div (2 * den)").cast("double") / 10000.0)
          .groupBy(col("lang"))
          // mean_fk deliberately UNROUNDED: the decimal sum cast to
          // double and the count are bit-identical operands on both
          // engines, so the IEEE quotient is too — while a final
          // round(x, 6) is the one step whose semantics differ
          // cross-engine on boundary-adjacent doubles (Spark rounds
          // the shortest decimal repr, DuckDB rounds numerically;
          // observed live: 6.367525 vs 6.367524 on this very query).
          .agg(count(lit(1)).as("n_docs"),
            (sum(col("fk").cast(DecimalType(18, 4))).cast("double") / count(lit(1)))
              .as("mean_fk"),
            min(col("fk")).as("min_fk"),
            max(col("fk")).as("max_fk"))
          .orderBy(col("lang").asc_nulls_last)
      },
      Some(s"""WITH d AS ($wordsCte),
        m AS (SELECT lang, CAST(len(words) AS BIGINT) AS w,
            CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS syl,
            CAST(ceil(CAST(len(words) AS DOUBLE) / 15) AS BIGINT) AS s
          FROM d),
        r AS (SELECT lang,
            39 * w * w + 1180 * syl * s - 1559 * s * w AS num,
            100 * s * w AS den
          FROM m),
        f AS (SELECT lang,
            CAST((20000 * num + den) // (2 * den) AS DOUBLE) / 10000.0 AS fk
          FROM r)
        SELECT lang, count(*) AS n_docs,
          CAST(sum(CAST(fk AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mean_fk,
          min(fk) AS min_fk, max(fk) AS max_fk
        FROM f GROUP BY lang ORDER BY lang ASC NULLS LAST""")),

    Q("n_lexical_diversity",
      "Lexical diversity: raw per-doc type-token ratio next to segmental TTR (mean distinct-type count over full 25-token segments — STTR, the length-robust variant; ragged tails excluded so every segment is comparable). Docs shorter than one full segment drop out (documented). Scale shape: one posexplode + (doc, segment)-keyed aggregate + per-doc rollup; segment keys are co-partitioned with the doc rollup.",
      (s, dir) => {
        val d = withWords(s, dir)
        val segs = d
          .select(col("doc_id"), posexplode(col("words")).as(Seq("pos", "w")))
          .withColumn("seg", floor(col("pos") / 25))
          .groupBy(col("doc_id"), col("seg"))
          .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("types"))
          .filter(col("n") === 25)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_segs"), sum(col("types")).as("sum_types"))
        d.select(col("doc_id"),
            size(col("words")).as("n_words"),
            round(size(array_distinct(col("words"))).cast("double") / size(col("words")), 6)
              .as("ttr"))
          .join(segs, "doc_id")
          .withColumn("mean_seg_types",
            round(col("sum_types").cast("double") / col("n_segs"), 6))
          .select(col("doc_id"), col("n_words"), col("ttr"), col("n_segs"),
            col("mean_seg_types"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some(s"""WITH d AS ($wordsCte),
        t AS (SELECT doc_id, generate_subscripts(words, 1) - 1 AS pos, unnest(words) AS w FROM d),
        sg AS (SELECT doc_id, pos // 25 AS seg, count(*) AS n, count(DISTINCT w) AS types
               FROM t GROUP BY doc_id, seg),
        ds AS (SELECT doc_id, count(*) AS n_segs, CAST(sum(types) AS BIGINT) AS sum_types
               FROM sg WHERE n = 25 GROUP BY doc_id),
        b AS (SELECT doc_id, CAST(len(words) AS INT) AS n_words,
               round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6) AS ttr FROM d)
        SELECT b.doc_id AS doc_id, n_words, ttr, n_segs,
          round(CAST(sum_types AS DOUBLE) / n_segs, 6) AS mean_seg_types
        FROM b JOIN ds ON b.doc_id = ds.doc_id
        ORDER BY b.doc_id ASC NULLS LAST""")),

    Q("n_langid_eval",
      "Language-ID gate evaluation: per-language precision / recall / F1 of the n_lang_id stopword classifier vs the labeled lang column — the confusion-derived scorecard a pipeline reads before trusting any lang filter. F1 computed as 2*tp/(n_pred+n_true) (the division-safe identity). Scale shape: the per-doc classify is row-local; both rollups are 5-row aggregates.",
      (s, dir) => {
        val scored = langScored(s, dir)
        val truth = scored.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_true"),
            sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("tp"))
        val preds = scored.groupBy(col("pred").as("plang"))
          .agg(count(lit(1)).as("n_pred"))
        truth.join(preds, col("lang") === col("plang"), "left")
          .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
          .withColumn("precision",
            when(col("n_pred") === 0, lit(null))
              .otherwise(round(col("tp").cast("double") / col("n_pred"), 6)))
          .withColumn("recall", round(col("tp").cast("double") / col("n_true"), 6))
          .withColumn("f1", round(
            lit(2.0) * col("tp") / (col("n_pred") + col("n_true")), 6))
          .select(col("lang"), col("n_true"), col("n_pred"), col("tp"),
            col("precision"), col("recall"), col("f1"))
          .orderBy(col("lang").asc_nulls_last)
      },
      Some(s"""WITH d AS ($wordsCte),
        scored AS (
          SELECT doc_id, lang,
            CAST(len(list_filter(words, w -> list_contains(['the','a','of','and','to'], w))) AS INT) AS sc_en,
            CAST(len(list_filter(words, w -> list_contains(['el','la','de','y','que'], w))) AS INT) AS sc_es,
            CAST(len(list_filter(words, w -> list_contains(['le','la','de','et','que'], w))) AS INT) AS sc_fr,
            CAST(len(list_filter(words, w -> list_contains(['der','die','das','und','zu'], w))) AS INT) AS sc_de,
            CAST(len(list_filter(words, w -> list_contains(['de','le','shi','bu','wo'], w))) AS INT) AS sc_zh
          FROM d),
        best AS (
          SELECT doc_id, lang,
            (SELECT b.lang FROM (VALUES (sc_de,'de'),(sc_en,'en'),(sc_es,'es'),(sc_fr,'fr'),(sc_zh,'zh')) b(score, lang)
             ORDER BY b.score DESC, b.lang ASC LIMIT 1) AS pred
          FROM scored),
        truth AS (SELECT lang, count(*) AS n_true,
            CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS tp
          FROM best GROUP BY lang),
        preds AS (SELECT pred AS plang, count(*) AS n_pred FROM best GROUP BY pred)
        SELECT lang, n_true, coalesce(n_pred, 0) AS n_pred, tp,
          CASE WHEN coalesce(n_pred, 0) = 0 THEN NULL
               ELSE round(CAST(tp AS DOUBLE) / n_pred, 6) END AS precision,
          round(CAST(tp AS DOUBLE) / n_true, 6) AS recall,
          round(2.0 * tp / (coalesce(n_pred, 0) + n_true), 6) AS f1
        FROM truth LEFT JOIN preds ON lang = plang
        ORDER BY lang ASC NULLS LAST""")),

    Q("n_hard_negatives",
      "Hard-negative mining for retrieval training (the DPR/contrastive-learning data step): per probe (vec_id < 5), the top-3 highest-cosine corpus vectors whose LABEL DIFFERS from the probe's — maximally confusable negatives. Probes broadcast; at corpus scale the candidate set comes from the ANN tier instead of the full scan (same contract as n_label_noise). Ranking is per-probe top-3 on rounded sims, deterministic tiebreak.",
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        val probes = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("embedding").as("qv"))
        val scored = emb.join(broadcast(probes),
            col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
          .withColumn("sim", round(SimilarityQueries.cosine("qv", "embedding"), 6))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc_nulls_last, col("vec_id").asc_nulls_last)
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("rk"), col("vec_id"), col("label"), col("sim"))
          .orderBy(col("qid").asc_nulls_last, col("rk").asc_nulls_last)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT qid, vec_id, label,
            round(
              list_sum(list_transform(list_zip(qv, embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
          FROM embeddings CROSS JOIN q
          WHERE vec_id <> qid AND label <> qlabel),
        ranked AS (
          SELECT qid, vec_id, label, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC NULLS LAST, vec_id ASC NULLS LAST) AS rk
          FROM scored)
        SELECT qid, rk, vec_id, label, sim FROM ranked WHERE rk <= 3
        ORDER BY qid ASC NULLS LAST, rk ASC NULLS LAST""")),

    Q("n_rank_fusion",
      "Reciprocal-rank fusion (RRF, k=60) of a lexical and a semantic ranking — the standard hybrid-search combiner: BM25 top-20 for doc 0's terms (the n_bm25_topk scorer) fused with cosine top-20 against vec 0's embedding (doc_id i <-> vec_id i by fixture convention), rrf = 1/(60+r_lex) + 1/(60+r_sem) with absent-list contributions 0, final top-10. Ranks come from rounded scores so tie order is cross-engine identical. Scale shape: both rankings end in TakeOrderedAndProject top-20 relations; the fusion is a 40-row outer join.",
      (s, dir) => {
        // lexical arm: the n_bm25_topk scorer, kept verbatim (k1=1.2 b=0.75)
        // r15: spread the single-split doc scan so tokenize+explode
        // parallelize (guide §2.5)
        val docs = T.par(s, dir, "documents")
          .select(col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("words"))
          .withColumn("dl", size(col("words")))
        val stats = docs.agg(count(lit(1)).as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        val qterms = docs.filter(col("doc_id") === 0)
          .select(explode(col("words")).as("w")).distinct()
        // r15 (guide §2.3/§3.2): only probe terms reach the scorer —
        // semi-filter the token stream by the broadcast probe
        // vocabulary BEFORE the tf aggregate, so the full-vocab
        // (~4M-group) tf and df aggregates shrink to the probe-term
        // slice; df for surviving terms still counts ALL docs, so
        // every score is identical.
        val tf = docs
          .select(col("doc_id"), col("dl"), explode(col("words")).as("w"))
          .join(broadcast(qterms), "w")
          .groupBy(col("doc_id"), col("dl"), col("w"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        val bm25 = tf
          .join(broadcast(dfreq), "w")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 8))
          .withColumn("contrib", round(
            col("idf") * (col("tf").cast("double") * 2.2)
              / (col("tf").cast("double")
                + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))), 8))
          .groupBy(col("doc_id"))
          .agg(round(sum(col("contrib").cast(DecimalType(20, 8))).cast("double"), 6).as("score"))
        // each arm takes its top-20 via orderBy+limit — planned as
        // TakeOrderedAndProject (distributed per-partition bottom-k,
        // 20-row merge) — and only THEN ranks inside the bounded
        // relation, with the column-based constant partition key
        // (pmod(id, 1) = 0) so no unpartitioned window is ever planned
        val top20l = bm25
          .orderBy(col("score").desc_nulls_last, col("doc_id").asc_nulls_last).limit(20)
        val wl = Window.partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("score").desc_nulls_last, col("doc_id").asc_nulls_last)
        val lex = top20l.withColumn("r_lex", row_number().over(wl))
          .select(col("doc_id").as("id"), col("r_lex"))
        // semantic arm: cosine vs vec 0
        val emb = T(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        val top20s = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
          .withColumn("sim", round(SimilarityQueries.cosine("qv", "embedding"), 6))
          .orderBy(col("sim").desc_nulls_last, col("vec_id").asc_nulls_last).limit(20)
        val ws = Window.partitionBy(pmod(col("vec_id"), lit(1)))
          .orderBy(col("sim").desc_nulls_last, col("vec_id").asc_nulls_last)
        val sem = top20s.withColumn("r_sem", row_number().over(ws))
          .select(col("vec_id").as("id"), col("r_sem"))
        lex.join(sem, Seq("id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0)), 8))
          .orderBy(col("rrf").desc_nulls_last, col("id").asc_nulls_last)
          .limit(10)
          .select(col("id"), col("r_lex"), col("r_sem"), col("rrf"))
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS words FROM documents),
        dl AS (SELECT doc_id, len(words) AS dl FROM d),
        st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        tf AS (SELECT t.doc_id, dl.dl, t.w, count(*) AS tf
               FROM (SELECT doc_id, unnest(words) AS w FROM d) t JOIN dl ON t.doc_id = dl.doc_id
               GROUP BY t.doc_id, dl.dl, t.w),
        dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        q AS (SELECT DISTINCT unnest(words) AS w FROM d WHERE doc_id = 0),
        sc AS (SELECT tf.doc_id,
            round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 8)
              * (CAST(tf AS DOUBLE) * 2.2)
              / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS raw
          FROM tf JOIN q ON tf.w = q.w JOIN dfq ON tf.w = dfq.w CROSS JOIN st),
        bm AS (SELECT doc_id, round(CAST(sum(CAST(round(raw, 8) AS DECIMAL(20,8))) AS DOUBLE), 6) AS score
               FROM sc GROUP BY doc_id),
        lex AS (SELECT doc_id AS id, CAST(r_lex AS INT) AS r_lex FROM (
            SELECT doc_id, row_number() OVER (ORDER BY score DESC NULLS LAST, doc_id ASC NULLS LAST) AS r_lex
            FROM bm) WHERE r_lex <= 20),
        qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        cos AS (SELECT vec_id,
            round(
              list_sum(list_transform(list_zip(qv, embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
          FROM embeddings CROSS JOIN qv WHERE vec_id <> 0),
        sem AS (SELECT vec_id AS id, CAST(r_sem AS INT) AS r_sem FROM (
            SELECT vec_id, row_number() OVER (ORDER BY sim DESC NULLS LAST, vec_id ASC NULLS LAST) AS r_sem
            FROM cos) WHERE r_sem <= 20)
        SELECT coalesce(lex.id, sem.id) AS id, r_lex, r_sem,
          round(coalesce(1.0 / (60 + r_lex), 0.0) + coalesce(1.0 / (60 + r_sem), 0.0), 8) AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.id = sem.id
        ORDER BY rrf DESC NULLS LAST, id ASC NULLS LAST LIMIT 10""")),

    Q("n_embedding_outliers",
      "Embedding sanity gate: per-vector component-sum (the bias/drift statistic — this corpus is unit-L2-normalized, so norms are identically 1.0 and carry no signal; the gate reports the norm alongside to PROVE that) z-scored against corpus moments computed over DECIMAL(18,6) sums (order-independent, both engines divide identical operands); |z| > 2 flags a vector for the broken-encoder-batch review. Scale shape: one row-local map + a one-row moment aggregate broadcast back — no shuffle of vectors, only of 8-byte statistics.",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
          .withColumn("norm", round(sqrt(expr(
            "aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")), 6))
          .withColumn("csum", round(expr(
            "aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE))"), 6))
        val m = e.agg(
          count(lit(1)).as("n"),
          sum(col("csum").cast(DecimalType(18, 6))).as("s1"),
          sum((col("csum").cast(DecimalType(18, 6)) * col("csum").cast(DecimalType(18, 6))))
            .as("s2"))
          .withColumn("mean", round(col("s1").cast("double") / col("n"), 6))
          .withColumn("sd", round(sqrt(greatest(
            col("s2").cast("double") / col("n") - col("mean") * col("mean"), lit(0.0))), 6))
          .select(col("mean"), col("sd"))
        e.crossJoin(broadcast(m))
          .withColumn("z", round((col("csum") - col("mean")) / col("sd"), 4))
          .filter(abs(col("z")) > 2.0)
          .select(col("vec_id"), col("norm"), col("csum"), col("z"))
          .orderBy(col("vec_id").asc_nulls_last)
      },
      Some("""WITH e AS (SELECT vec_id,
            round(sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm,
            round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS csum
          FROM embeddings),
        m AS (SELECT count(*) AS n,
            sum(CAST(csum AS DECIMAL(18,6))) AS s1,
            sum(CAST(csum AS DECIMAL(18,6)) * CAST(csum AS DECIMAL(18,6))) AS s2
          FROM e),
        ms AS (SELECT round(CAST(s1 AS DOUBLE) / n, 6) AS mean,
            round(sqrt(greatest(CAST(s2 AS DOUBLE) / n
              - round(CAST(s1 AS DOUBLE) / n, 6) * round(CAST(s1 AS DOUBLE) / n, 6), 0.0)), 6) AS sd
          FROM m)
        SELECT vec_id, norm, csum, round((csum - mean) / sd, 4) AS z
        FROM e CROSS JOIN ms
        WHERE abs(round((csum - mean) / sd, 4)) > 2.0
        ORDER BY vec_id ASC NULLS LAST""")),

    Q("n_snapshot_diff",
      "Crawl-snapshot delta (the incremental-ingest primitive): snapshot OLD omits doc_id % 17 = 3 (those are 'added' later), snapshot NEW omits doc_id % 17 = 0 ('removed') and re-crawls doc_id % 13 = 0 with changed content; docs classify added / removed / changed / unchanged by comparing md5 content digests through a full outer join on the document key. Only digests shuffle — at 100 TB the bodies stay in place and only changed+added keys re-enter the pipeline. Output: per-status counts + id range.",
      (s, dir) => {
        val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
        val old = docs.filter(col("doc_id") % 17 =!= 3)
          .select(col("doc_id").as("id_o"), md5(col("text")).as("dig_o"))
        val nw = docs.filter(col("doc_id") % 17 =!= 0)
          .withColumn("t2",
            when(col("doc_id") % 13 === 0, concat(col("text"), lit(" recrawl-delta")))
              .otherwise(col("text")))
          .select(col("doc_id").as("id_n"), md5(col("t2")).as("dig_n"))
        old.join(nw, col("id_o") === col("id_n"), "full_outer")
          .withColumn("status",
            when(col("id_o").isNull, lit("added"))
              .when(col("id_n").isNull, lit("removed"))
              .when(col("dig_o") =!= col("dig_n"), lit("changed"))
              .otherwise(lit("unchanged")))
          .withColumn("id", coalesce(col("id_o"), col("id_n")))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"), max(col("id")).as("max_id"))
          .orderBy(col("status").asc_nulls_last)
      },
      Some("""WITH o AS (SELECT doc_id AS id_o, md5(text) AS dig_o FROM documents WHERE doc_id % 17 <> 3),
        n AS (SELECT doc_id AS id_n,
            md5(CASE WHEN doc_id % 13 = 0 THEN text || ' recrawl-delta' ELSE text END) AS dig_n
          FROM documents WHERE doc_id % 17 <> 0),
        j AS (SELECT id_o, id_n, dig_o, dig_n,
            CASE WHEN id_o IS NULL THEN 'added'
                 WHEN id_n IS NULL THEN 'removed'
                 WHEN dig_o <> dig_n THEN 'changed'
                 ELSE 'unchanged' END AS status,
            coalesce(id_o, id_n) AS id
          FROM o FULL OUTER JOIN n ON id_o = id_n)
        SELECT status, count(*) AS n, min(id) AS min_id, max(id) AS max_id
        FROM j GROUP BY status ORDER BY status ASC NULLS LAST""")),

    Q("n_dedup_ensemble",
      "Near-dup ENSEMBLE vote (the production pattern: no single family is trusted alone — a pair is a duplicate when >= 2 of exact-Jaccard / SimHash / MinHash agree): all three families run over the SAME portable md5-52-bit trigram-shingle relation (doc_id < 300 evaluation slice), so the vote compares the estimators, not the tokenizations — shingle Jaccard >= 0.3, SimHash-32 Hamming <= 6, MinHash-4 agreement >= 2. Output = every pair any family flags, with per-family verdicts and the ensemble vote. At corpus scale each family generates candidates through its own bucketed path (bands / bit-chunks / digest joins — the n_dedup_* tier); this fixture evaluates the VOTE rule those candidates flow into.",
      (s, dir) => {
        val shingleHash =
          "CAST(conv(substring(md5(concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))), 1, 13), 16, 10) AS BIGINT)"
        val perms = Seq((131L, 7L), (137L, 11L), (139L, 13L), (149L, 17L))
        // r15: spread the slice — the 32-bit × per-shingle interpreted
        // aggregate fold below is the heaviest per-row HOF in the suite
        // (§2.5; filter + projection push below the keyed exchange)
        val base = T.par(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"),
            expr("filter(split(text, ' '), w -> length(w) > 0)").as("ws"))
          .withColumn("ss", expr(
            s"array_distinct(transform(sequence(1, size(ws) - 2), i -> $shingleHash))"))
          .withColumn("sig32", expr(
            """aggregate(sequence(0, 31), 0L, (acc, b) -> acc +
                 IF(aggregate(ss, 0L, (a, h) -> a + IF(((h >> b) & 1) = 1, 1L, -1L)) >= 0,
                    shiftleft(1L, b), 0L))"""))
        val withSigs = Retained(
          perms.zipWithIndex.foldLeft(base) { case (df, ((a, b), i)) =>
            df.withColumn(s"m$i", expr(s"array_min(transform(ss, h -> ($a * h + $b) % 2147483647))"))
          }.select(col("doc_id"), col("ss"), col("sig32"),
            col("m0"), col("m1"), col("m2"), col("m3")))
        // Jaccard via the shingle-keyed pair-intersection relation (the
        // n_dedup_ngram_jaccard shape) instead of per-pair
        // array_intersect over every ordered pair: the all-pairs
        // relation below carries only SCALARS (sizes + signatures), and
        // |A∩B| arrives from a digest equi-join — the round-11 bench
        // caught the array-op form at 40 s for 300 docs (25% of the
        // whole suite), vs ~1 s for this shape; values are identical
        // because j = inter / (|A| + |B| - inter) exactly.
        val ex = withSigs.select(col("doc_id"), explode(col("ss")).as("h"))
        val inter = ex.as("x").join(ex.as("y"),
            col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
          .agg(count(lit(1)).as("inter"))
        val scalars = withSigs.select(col("doc_id"), size(col("ss")).as("n"),
          col("sig32"), col("m0"), col("m1"), col("m2"), col("m3"))
        val l = scalars.columns.foldLeft(scalars)((d, c) => d.withColumnRenamed(c, c + "_a"))
        val r = scalars.columns.foldLeft(scalars)((d, c) => d.withColumnRenamed(c, c + "_b"))
        l.join(r, col("doc_id_a") < col("doc_id_b"))
          .join(inter,
            col("doc_id_a") === col("ia") && col("doc_id_b") === col("ib"), "left")
          .withColumn("i0", coalesce(col("inter"), lit(0L)))
          .withColumn("j", round(col("i0").cast("double")
            / (col("n_a") + col("n_b") - col("i0")), 6))
          .withColumn("hamming", expr("bit_count(sig32_a ^ sig32_b)"))
          .withColumn("mh_agree",
            (0 to 3).map(i => when(col(s"m${i}_a") === col(s"m${i}_b"), 1).otherwise(0))
              .reduce(_ + _))
          .withColumn("jac_dup", col("j") >= 0.3)
          .withColumn("sim_dup", col("hamming") <= 6)
          .withColumn("mh_dup", col("mh_agree") >= 2)
          .withColumn("votes",
            col("jac_dup").cast("int") + col("sim_dup").cast("int") + col("mh_dup").cast("int"))
          .filter(col("votes") >= 1)
          .withColumn("ensemble_dup", col("votes") >= 2)
          .select(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"),
            col("j"), col("hamming"), col("mh_agree"), col("votes"), col("ensemble_dup"))
          .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last)
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
               FROM documents WHERE doc_id < 300),
        sh AS (SELECT doc_id,
            list_distinct(list_transform(range(1, len(ws) - 1),
              i -> CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 13)) AS BIGINT))) AS ss
          FROM d),
        sig AS (SELECT doc_id, ss,
            CAST(list_sum(list_transform(range(0, 32), b ->
              CASE WHEN list_sum(list_transform(ss, h ->
                     CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                   THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig32,
            list_min(list_transform(ss, h -> (131 * h + 7) % 2147483647)) AS m0,
            list_min(list_transform(ss, h -> (137 * h + 11) % 2147483647)) AS m1,
            list_min(list_transform(ss, h -> (139 * h + 13) % 2147483647)) AS m2,
            list_min(list_transform(ss, h -> (149 * h + 17) % 2147483647)) AS m3
          FROM sh),
        p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
              / len(list_distinct(list_concat(a.ss, b.ss))), 6) AS j,
            bit_count(xor(a.sig32, b.sig32)) AS hamming,
            CAST((CASE WHEN a.m0 = b.m0 THEN 1 ELSE 0 END)
              + (CASE WHEN a.m1 = b.m1 THEN 1 ELSE 0 END)
              + (CASE WHEN a.m2 = b.m2 THEN 1 ELSE 0 END)
              + (CASE WHEN a.m3 = b.m3 THEN 1 ELSE 0 END) AS INT) AS mh_agree
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
        f AS (SELECT id_a, id_b, j, CAST(hamming AS INT) AS hamming, mh_agree,
            (j >= 0.3) AS jac_dup, (hamming <= 6) AS sim_dup, (mh_agree >= 2) AS mh_dup
          FROM p)
        SELECT id_a, id_b, j, hamming, mh_agree,
          CAST((CASE WHEN jac_dup THEN 1 ELSE 0 END) + (CASE WHEN sim_dup THEN 1 ELSE 0 END)
            + (CASE WHEN mh_dup THEN 1 ELSE 0 END) AS INT) AS votes,
          ((CASE WHEN jac_dup THEN 1 ELSE 0 END) + (CASE WHEN sim_dup THEN 1 ELSE 0 END)
            + (CASE WHEN mh_dup THEN 1 ELSE 0 END)) >= 2 AS ensemble_dup
        FROM f
        WHERE jac_dup OR sim_dup OR mh_dup
        ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""")),

    Q("n_retrieval_eval",
      "Retrieval-quality evaluation (the harness read before choosing a retriever for RAG/dedup): precision@5 and MRR@5 of the BM25 lexical arm, the cosine semantic arm, and their RRF fusion, for 5 probes against the label ground truth (doc_id i <-> vec_id i; relevant = same embedding label). Reciprocal ranks round to fixed-scale decimals before the probe-mean so both engines sum identical operands. Scale shape: the arms are the n_bm25_topk / n_cosine_topk shapes batched over the probe relation; metrics reduce 25 rows per method.",
      (s, dir) => {
        // r15: spread the single-split doc scan so tokenize+explode
        // parallelize (guide §2.5); retained — stats, the probe-term
        // extraction and the tf stream all read the tokenized relation
        // (three full tokenize passes uncached)
        val docs = Retained(T.par(s, dir, "documents")
          .select(col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("words"))
          .withColumn("dl", size(col("words"))))
        val labels = T(s, dir, "embeddings").select(col("vec_id"), col("label"))
        val stats = docs.agg(count(lit(1)).as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        val qterms = docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), explode(col("words")).as("w")).distinct()
        // r15 (guide §2.3/§3.2): only probe terms ever reach the BM25
        // scorer, so semi-filter the exploded token stream by the
        // broadcast probe vocabulary BEFORE the tf aggregate — the
        // full-vocab tf (5M rows → 4M groups) and the full-vocab dfreq
        // broadcast (~4M rows forced to the driver) both shrink to the
        // probe-term slice. df values for surviving terms are computed
        // over ALL docs exactly as before, so every score is identical.
        val qvocab = qterms.select(col("w")).distinct()
        // r15: retained — dfreq AND the bm25 scorer both read this
        // aggregate; uncached the tokenize+explode+semi-join+groupBy
        // chain runs once per consumer
        val tf = Retained(docs
          .select(col("doc_id"), col("dl"), explode(col("words")).as("w"))
          .join(broadcast(qvocab), "w")
          .groupBy(col("doc_id"), col("dl"), col("w"))
          .agg(count(lit(1)).as("tf")))
        val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        val bm25 = tf.join(broadcast(qterms), "w")
          .filter(col("doc_id") =!= col("qid"))
          .join(broadcast(dfreq), "w")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 8))
          .withColumn("contrib", round(
            col("idf") * (col("tf").cast("double") * 2.2)
              / (col("tf").cast("double")
                + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))), 8))
          .groupBy(col("qid"), col("doc_id").as("id"))
          .agg(round(sum(col("contrib").cast(DecimalType(20, 8))).cast("double"), 6).as("score"))
        val wq = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc_nulls_last, col("id").asc_nulls_last)
        val lex = bm25.withColumn("rk", row_number().over(wq)).filter(col("rk") <= 20)
          .select(col("qid"), col("id"), col("rk"))
        val emb = T(s, dir, "embeddings")
        val probes = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        // r15: spread the corpus side of the probe scoring join
        val cosScored = T.spread(emb).join(broadcast(probes), col("vec_id") =!= col("qid"))
          .withColumn("score", round(SimilarityQueries.cosine("qv", "embedding"), 6))
          .select(col("qid"), col("vec_id").as("id"), col("score"))
        val wc = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc_nulls_last, col("id").asc_nulls_last)
        val sem = cosScored.withColumn("rk", row_number().over(wc)).filter(col("rk") <= 20)
          .select(col("qid"), col("id"), col("rk"))
        // r15: everything downstream of the two ranking arms operates on
        // <= 5 probes x 20 rows — the RRF fusion, the label judgment and
        // the P@5/MRR reductions now run DRIVER-SIDE on the collected
        // shortlists (the n_pref_bradley_terry / n_mmr_rerank parameter-
        // server precedent), replacing a full_outer join + a third
        // window + two joins + two groupBys (~8 tiny jobs of scheduling
        // floor). The corpus-scan arms (tokenize/tf/bm25 chain, probe x
        // corpus cosine) stay distributed. Arithmetic reproduces the
        // relational form op-for-op: rrf score round(1/(60+rl)+1/(60+rs),
        // 8) with 0.0 for the missing arm (full-outer coalesce), rank
        // ordering mirrors desc_nulls_last via Double.compare with id
        // tie-break, rel/min-rank/sum semantics identical, rr as
        // HALF_UP-6 BigDecimals summed exactly for the MRR mean, and the
        // label joins keep inner semantics (ids absent from embeddings
        // drop, exactly like the old join).
        def r(x: Double, sc: Int): Double = java.math.BigDecimal.valueOf(x)
          .setScale(sc, java.math.RoundingMode.HALF_UP).doubleValue()
        // the three collects are independent jobs — submit them from
        // driver threads so the lexical arm's tail back-fills the
        // semantic arm's cores (guide §2.6 overlap; measured on
        // n_rank_fusion: serializing previously-concurrent arms costs
        // more than the removed tail jobs save)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val lexF = Future(lex.collect()
          .map(r0 => (r0.getLong(0), r0.getLong(1), r0.getInt(2))))
        val semF = Future(sem.collect()
          .map(r0 => (r0.getLong(0), r0.getLong(1), r0.getInt(2))))
        val lexRows = Await.result(lexF, Duration.Inf)
        val semRows = Await.result(semF, Duration.Inf)
        // r16 (verdict r15 #3): the label relation is corpus-sized —
        // collecting it whole was the one unbounded driver collect in
        // the round-15 rewrites. Only labels for the <=5 probe qids and
        // the <=q x 40 shortlisted ids are ever consulted, so filter to
        // that id set (known once the arms land) BEFORE collecting; the
        // In-filter pushes into the parquet scan. Inner-join semantics
        // are unchanged: ids absent from embeddings were Map misses
        // before and stay Map misses now.
        val neededIds = (lexRows.iterator.flatMap(t => Iterator(t._1, t._2))
          ++ semRows.iterator.flatMap(t => Iterator(t._1, t._2)))
          .toSet.toSeq.sorted
        val labMap = labels
          .filter(col("vec_id").isin(neededIds: _*))
          .collect().map(r0 => r0.getLong(0) -> r0.getInt(1)).toMap
        val rl = lexRows.map(t => (t._1, t._2) -> t._3).toMap
        val rs = semRows.map(t => (t._1, t._2) -> t._3).toMap
        val fus = (rl.keySet ++ rs.keySet).toSeq.map { case (qid, id) =>
          val sc = r(rl.get((qid, id)).map(k => 1.0 / (60 + k)).getOrElse(0.0)
            + rs.get((qid, id)).map(k => 1.0 / (60 + k)).getOrElse(0.0), 8)
          (qid, id, sc)
        }.groupBy(_._1).toSeq.flatMap { case (qid, xs) =>
          xs.sortWith { (a, b) =>
            val c = java.lang.Double.compare(a._3, b._3)
            c > 0 || (c == 0 && a._2 < b._2)
          }.take(20).zipWithIndex.map { case ((_, id, _), i) => (qid, id, i + 1) }
        }
        val ranked =
          lexRows.toSeq.map { case (q, i, k) => ("bm25", q, i, k) } ++
          semRows.toSeq.map { case (q, i, k) => ("cosine", q, i, k) } ++
          fus.map { case (q, i, k) => ("rrf", q, i, k) }
        val judged = ranked.filter(_._4 <= 5).flatMap { case (m, qid, id, rk) =>
          for (ql <- labMap.get(qid); l <- labMap.get(id))
            yield (m, qid, rk, if (l == ql) 1 else 0)
        }
        val out = judged.groupBy(t => (t._1, t._2)).toSeq
          .map { case ((m, _), xs) =>
            val nRel = xs.map(_._4.toLong).sum
            val minRk = xs.collect { case (_, _, rk, 1) => rk }
            val rr = r(if (minRk.isEmpty) 0.0 else 1.0 / minRk.min, 6)
            (m, nRel, rr)
          }
          .groupBy(_._1).toSeq.map { case (m, xs) =>
            val np = xs.size.toLong
            val p5 = r(xs.map(_._2).sum.toDouble / (np * 5), 6)
            val mrr = r(xs.map(x => java.math.BigDecimal.valueOf(x._3)
                .setScale(6, java.math.RoundingMode.HALF_UP))
              .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue() / np, 6)
            (m, np, p5, mrr)
          }.sortBy(_._1)
        import s.implicits._
        out.toDF("method", "n_probes", "p_at_5", "mrr")
          .orderBy(col("method").asc_nulls_last)
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS words FROM documents),
        dl AS (SELECT doc_id, len(words) AS dl FROM d),
        st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        tf AS (SELECT t.doc_id, dl.dl, t.w, count(*) AS tf
               FROM (SELECT doc_id, unnest(words) AS w FROM d) t JOIN dl ON t.doc_id = dl.doc_id
               GROUP BY t.doc_id, dl.dl, t.w),
        dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        q AS (SELECT DISTINCT doc_id AS qid, unnest(words) AS w FROM d WHERE doc_id < 5),
        sc AS (SELECT q.qid, tf.doc_id AS id,
            round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 8)
              * (CAST(tf AS DOUBLE) * 2.2)
              / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS raw
          FROM tf JOIN q ON tf.w = q.w JOIN dfq ON tf.w = dfq.w CROSS JOIN st
          WHERE tf.doc_id <> q.qid),
        bm AS (SELECT qid, id, round(CAST(sum(CAST(round(raw, 8) AS DECIMAL(20,8))) AS DOUBLE), 6) AS score
               FROM sc GROUP BY qid, id),
        lex AS (SELECT qid, id, rk FROM (
            SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY score DESC NULLS LAST, id ASC NULLS LAST) AS rk
            FROM bm) WHERE rk <= 20),
        pr AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        cs AS (SELECT qid, vec_id AS id,
            round(
              list_sum(list_transform(list_zip(qv, embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS score
          FROM embeddings CROSS JOIN pr WHERE vec_id <> qid),
        sem AS (SELECT qid, id, rk FROM (
            SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY score DESC NULLS LAST, id ASC NULLS LAST) AS rk
            FROM cs) WHERE rk <= 20),
        rf AS (SELECT coalesce(lex.qid, sem.qid) AS qid, coalesce(lex.id, sem.id) AS id,
            round(coalesce(1.0 / (60 + lex.rk), 0.0) + coalesce(1.0 / (60 + sem.rk), 0.0), 8) AS score
          FROM lex FULL OUTER JOIN sem ON lex.qid = sem.qid AND lex.id = sem.id),
        fus AS (SELECT qid, id, rk FROM (
            SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY score DESC NULLS LAST, id ASC NULLS LAST) AS rk
            FROM rf) WHERE rk <= 20),
        ranked AS (
          SELECT 'bm25' AS method, qid, id, rk FROM lex WHERE rk <= 5
          UNION ALL SELECT 'cosine', qid, id, rk FROM sem WHERE rk <= 5
          UNION ALL SELECT 'rrf', qid, id, rk FROM fus WHERE rk <= 5),
        lab AS (SELECT vec_id, label FROM embeddings),
        judged AS (SELECT method, r.qid, r.rk,
            CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END AS rel
          FROM ranked r
          JOIN lab ql ON ql.vec_id = r.qid
          JOIN lab cl ON cl.vec_id = r.id),
        pp AS (SELECT method, qid, CAST(sum(rel) AS BIGINT) AS n_rel,
            round(coalesce(1.0 / min(CASE WHEN rel = 1 THEN rk END), 0.0), 6) AS rr
          FROM judged GROUP BY method, qid)
        SELECT method, count(*) AS n_probes,
          round(CAST(sum(n_rel) AS DOUBLE) / (count(*) * 5), 6) AS p_at_5,
          round(CAST(sum(CAST(rr AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mrr
        FROM pp GROUP BY method ORDER BY method ASC NULLS LAST""")),

    Q("m_video_scene_cut",
      "Shot-boundary (scene-cut) detection — the video segmentation step before per-scene sampling/dedup: REAL decode of 60 scene-structured containers (3-5 scenes x 2-3 frames of identical content each), per-frame dHash through the shared 9x8 exact-integer grid, a cut wherever consecutive frames' 63-bit hash Hamming distance >= 8 (within-scene pairs are Hamming 0 BY CONSTRUCTION); per-video cut count, scene count and mean scene length. Scale shape: partition-batched container decode, then a per-video lag window over bounded frames-per-video partitions — no cross-video data movement at all.",
      (s, dir) => {
        val ids = T(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") >= 1 && col("doc_id") <= 60)
        val media = T.spread(ids, cpuDense = true).select(col("doc_id"),
            graft.operators.MediaDecode.synthSceneVideoUdf(col("doc_id")).as("payload"))
        val fh = graft.operators.MediaDecode.videoDHash(media)
        val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx").asc)
        fh.withColumn("p1", lag(col("h1"), 1).over(w))
          .withColumn("p2", lag(col("h2"), 1).over(w))
          .withColumn("cut", when(col("p1").isNull, lit(0))
            .otherwise((expr("bit_count(h1 ^ p1) + bit_count(h2 ^ p2)") >= 8).cast("int")))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_frames"), sum(col("cut")).as("n_cuts"))
          .withColumn("n_scenes", col("n_cuts") + 1)
          .withColumn("mean_scene_len",
            round(col("n_frames").cast("double") / (col("n_cuts") + 1), 6))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some("""WITH ids AS (SELECT doc_id AS src FROM documents WHERE doc_id BETWEEN 1 AND 60),
        vids AS (SELECT src AS doc_id, src,
                 CAST((3 + src % 3) * (2 + src % 2) AS INTEGER) AS nf,
                 CAST(2 + src % 2 AS INTEGER) AS sl,
                 CAST(9*(1 + src % 3) AS INTEGER) AS w, CAST(8*(1 + src % 2) AS INTEGER) AS h FROM ids),
        fr AS (SELECT doc_id, src, w, h, f.f AS fidx, (f.f // sl) * 17 AS fc
               FROM vids, LATERAL (SELECT unnest(range(0, nf)) AS f) f),
        px AS (SELECT doc_id, src, fidx, fc, w, h, x.x, y.y
               FROM fr, LATERAL (SELECT unnest(range(0, w)) AS x) x,
                        LATERAL (SELECT unnest(range(0, h)) AS y) y),
        gray AS (SELECT doc_id, fidx, w, h, x, y,
            (7*src + 19*fc + (src%13+2)*x*x + ((src+fc)%11+3)*y*y + x*y) % 256
          + (11*src + 23*fc + (src%7+2)*x*x + ((src+fc)%17+1)*y + 2*x*y) % 256
          + (13*src + 29*fc + (src%5+3)*y*y + ((src+fc)%19+1)*x + x*y) % 256 AS g
          FROM px),
        blocks AS (
          SELECT doc_id, fidx, j.j, i.i, sum(g) AS s, count(*) AS n
          FROM gray, LATERAL (SELECT unnest(range(0, 8)) AS j) j,
                     LATERAL (SELECT unnest(range(0, 9)) AS i) i
          WHERE x >= i.i * w // 9 AND x < (i.i + 1) * w // 9
            AND y >= j.j * h // 8 AND y < (j.j + 1) * h // 8
          GROUP BY doc_id, fidx, j.j, i.i),
        bits AS (
          SELECT a.doc_id, a.fidx, a.j, a.i, CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS bit
          FROM blocks a JOIN blocks b ON a.doc_id = b.doc_id AND a.fidx = b.fidx AND a.j = b.j AND b.i = a.i + 1
          WHERE a.i < 8),
        fh AS (SELECT doc_id, fidx,
            sum(CASE WHEN bit = 1 AND (j*8+i) < 32 THEN (1::BIGINT << CAST(j*8+i AS INT)) ELSE 0 END) AS h1,
            sum(CASE WHEN bit = 1 AND (j*8+i) >= 32 THEN (1::BIGINT << CAST(j*8+i-32 AS INT)) ELSE 0 END) AS h2
          FROM bits GROUP BY doc_id, fidx),
        lagd AS (SELECT doc_id, fidx, h1, h2,
            lag(h1) OVER (PARTITION BY doc_id ORDER BY fidx) AS p1,
            lag(h2) OVER (PARTITION BY doc_id ORDER BY fidx) AS p2
          FROM fh),
        cuts AS (SELECT doc_id,
            CASE WHEN p1 IS NULL THEN 0
                 WHEN bit_count(xor(CAST(h1 AS BIGINT), CAST(p1 AS BIGINT)))
                    + bit_count(xor(CAST(h2 AS BIGINT), CAST(p2 AS BIGINT))) >= 8 THEN 1
                 ELSE 0 END AS cut
          FROM lagd)
        SELECT doc_id, count(*) AS n_frames, CAST(sum(cut) AS BIGINT) AS n_cuts,
          CAST(sum(cut) + 1 AS BIGINT) AS n_scenes,
          round(CAST(count(*) AS DOUBLE) / (sum(cut) + 1), 6) AS mean_scene_len
        FROM cuts GROUP BY doc_id ORDER BY doc_id ASC NULLS LAST""")),

    Q("m_audio_vad",
      "Energy-based voice-activity detection (the audio segmentation step before transcription/captioning): REAL WAV decode of 100 speech-pattern clips (32 fixed frames, deterministic voiced / noise-floor runs — unvoiced frames carry low-level noise, mean |v| ~ 8 vs the voiced ~512), per-frame Sum|sample| energies as exact int64s, frame voiced iff mean |sample| > 64, contiguous voiced runs resolved by the gaps-and-islands rewrite (frame_idx minus voiced row_number); per-clip voiced-frame count, segment count, longest segment and voiced ratio. Scale shape: partition-batched decode emits a 32-row-per-clip RELATION (doc_id, frame, energy) so the segmentation stays declarative; windows partition per clip, bounded frames each.",
      (s, dir) => {
        val ids = T(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") >= 1 && col("doc_id") <= 100)
        val media = T.spread(ids, cpuDense = true).select(col("doc_id"),
            graft.operators.AudioDecode.synthVadWavUdf(col("doc_id")).as("payload"))
        // r15: retain measured and LOST here (0.55 -> 0.62 min-of-3) —
        // the 100-clip decode is cheaper than the cache barrier. Kept
        // uncached deliberately.
        val fe = graft.operators.AudioDecode.frameEnergies(media)
          .withColumn("voiced", (col("e") > lit(64L) * col("n_in_frame")).cast("int"))
        val tot = fe.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_frames"), sum(col("voiced")).as("n_voiced"))
        val wv = Window.partitionBy(col("doc_id")).orderBy(col("f").asc)
        val segs = fe.filter(col("voiced") === 1)
          .withColumn("rn", row_number().over(wv))
          .withColumn("grp", col("f") - col("rn"))
          .groupBy(col("doc_id"), col("grp"))
          .agg(count(lit(1)).as("seg_len"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_segments"), max(col("seg_len")).as("longest_seg"))
        tot.join(segs, "doc_id")
          .withColumn("voiced_ratio",
            round(col("n_voiced").cast("double") / col("n_frames"), 6))
          .select(col("doc_id"), col("n_frames"), col("n_voiced"), col("n_segments"),
            col("longest_seg"), col("voiced_ratio"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id BETWEEN 1 AND 100),
        smp AS (SELECT doc_id, s.i, s.i // 50 AS f,
            CASE WHEN (doc_id + (s.i // 50) * (s.i // 50)) % 7 < 4
                 THEN abs((31*doc_id + (doc_id%13+2)*s.i*s.i + (doc_id%7+3)*s.i) % 2048 - 1024)
                 ELSE abs((31*doc_id + (doc_id%13+2)*s.i*s.i + (doc_id%7+3)*s.i) % 32 - 16) END AS av
          FROM ids, LATERAL (SELECT unnest(range(0, 1600)) AS i) s),
        fe AS (SELECT doc_id, f, CAST(sum(av) AS BIGINT) AS e, count(*) AS n_in_frame
               FROM smp GROUP BY doc_id, f),
        vf AS (SELECT doc_id, f, CASE WHEN e > 64 * n_in_frame THEN 1 ELSE 0 END AS voiced FROM fe),
        tot AS (SELECT doc_id, count(*) AS n_frames, CAST(sum(voiced) AS BIGINT) AS n_voiced
                FROM vf GROUP BY doc_id),
        isl AS (SELECT doc_id, f,
            f - row_number() OVER (PARTITION BY doc_id ORDER BY f ASC) AS grp
          FROM vf WHERE voiced = 1),
        sl AS (SELECT doc_id, grp, count(*) AS seg_len FROM isl GROUP BY doc_id, grp),
        segs AS (SELECT doc_id, count(*) AS n_segments, max(seg_len) AS longest_seg
                 FROM sl GROUP BY doc_id)
        SELECT tot.doc_id AS doc_id, n_frames, n_voiced, n_segments, longest_seg,
          round(CAST(n_voiced AS DOUBLE) / n_frames, 6) AS voiced_ratio
        FROM tot JOIN segs ON tot.doc_id = segs.doc_id
        ORDER BY tot.doc_id ASC NULLS LAST""")),

    Q("m_video_keyframes",
      "Keyframe extraction (the per-scene representative-frame step a video pipeline runs after shot-boundary detection, before captioning/embedding only ONE frame per scene): scene ids reconstruct as the running sum of the cut flags over each video's frame order, the keyframe is each scene's first frame, and the output is the (video, scene) relation with keyframe index and scene length. Scale shape: same per-video bounded lag/cumsum windows as m_video_scene_cut — no cross-video movement; the keyframe relation is what flows to the expensive downstream model, nf/sceneLen times smaller than the frame relation.",
      (s, dir) => {
        val ids = T(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") >= 1 && col("doc_id") <= 60)
        val media = T.spread(ids, cpuDense = true).select(col("doc_id"),
            graft.operators.MediaDecode.synthSceneVideoUdf(col("doc_id")).as("payload"))
        val fh = graft.operators.MediaDecode.videoDHash(media)
        val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx").asc)
        fh.withColumn("p1", lag(col("h1"), 1).over(w))
          .withColumn("p2", lag(col("h2"), 1).over(w))
          .withColumn("cut", when(col("p1").isNull, lit(0))
            .otherwise((expr("bit_count(h1 ^ p1) + bit_count(h2 ^ p2)") >= 8).cast("int")))
          .withColumn("scene_id", sum(col("cut"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("doc_id"), col("scene_id"))
          .agg(min(col("frame_idx")).as("keyframe_idx"), count(lit(1)).as("scene_len"))
          .orderBy(col("doc_id").asc_nulls_last, col("scene_id").asc_nulls_last)
      },
      Some("""WITH ids AS (SELECT doc_id AS src FROM documents WHERE doc_id BETWEEN 1 AND 60),
        vids AS (SELECT src AS doc_id, src,
                 CAST((3 + src % 3) * (2 + src % 2) AS INTEGER) AS nf,
                 CAST(2 + src % 2 AS INTEGER) AS sl,
                 CAST(9*(1 + src % 3) AS INTEGER) AS w, CAST(8*(1 + src % 2) AS INTEGER) AS h FROM ids),
        fr AS (SELECT doc_id, src, w, h, f.f AS fidx, (f.f // sl) * 17 AS fc
               FROM vids, LATERAL (SELECT unnest(range(0, nf)) AS f) f),
        px AS (SELECT doc_id, src, fidx, fc, w, h, x.x, y.y
               FROM fr, LATERAL (SELECT unnest(range(0, w)) AS x) x,
                        LATERAL (SELECT unnest(range(0, h)) AS y) y),
        gray AS (SELECT doc_id, fidx, w, h, x, y,
            (7*src + 19*fc + (src%13+2)*x*x + ((src+fc)%11+3)*y*y + x*y) % 256
          + (11*src + 23*fc + (src%7+2)*x*x + ((src+fc)%17+1)*y + 2*x*y) % 256
          + (13*src + 29*fc + (src%5+3)*y*y + ((src+fc)%19+1)*x + x*y) % 256 AS g
          FROM px),
        blocks AS (
          SELECT doc_id, fidx, j.j, i.i, sum(g) AS s, count(*) AS n
          FROM gray, LATERAL (SELECT unnest(range(0, 8)) AS j) j,
                     LATERAL (SELECT unnest(range(0, 9)) AS i) i
          WHERE x >= i.i * w // 9 AND x < (i.i + 1) * w // 9
            AND y >= j.j * h // 8 AND y < (j.j + 1) * h // 8
          GROUP BY doc_id, fidx, j.j, i.i),
        bits AS (
          SELECT a.doc_id, a.fidx, a.j, a.i, CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS bit
          FROM blocks a JOIN blocks b ON a.doc_id = b.doc_id AND a.fidx = b.fidx AND a.j = b.j AND b.i = a.i + 1
          WHERE a.i < 8),
        fh AS (SELECT doc_id, fidx,
            sum(CASE WHEN bit = 1 AND (j*8+i) < 32 THEN (1::BIGINT << CAST(j*8+i AS INT)) ELSE 0 END) AS h1,
            sum(CASE WHEN bit = 1 AND (j*8+i) >= 32 THEN (1::BIGINT << CAST(j*8+i-32 AS INT)) ELSE 0 END) AS h2
          FROM bits GROUP BY doc_id, fidx),
        lagd AS (SELECT doc_id, fidx, h1, h2,
            lag(h1) OVER (PARTITION BY doc_id ORDER BY fidx) AS p1,
            lag(h2) OVER (PARTITION BY doc_id ORDER BY fidx) AS p2
          FROM fh),
        cuts AS (SELECT doc_id, fidx,
            CASE WHEN p1 IS NULL THEN 0
                 WHEN bit_count(xor(CAST(h1 AS BIGINT), CAST(p1 AS BIGINT)))
                    + bit_count(xor(CAST(h2 AS BIGINT), CAST(p2 AS BIGINT))) >= 8 THEN 1
                 ELSE 0 END AS cut
          FROM lagd),
        sc AS (SELECT doc_id, fidx,
            CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY fidx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS scene_id
          FROM cuts)
        SELECT doc_id, scene_id, CAST(min(fidx) AS INT) AS keyframe_idx, count(*) AS scene_len
        FROM sc GROUP BY doc_id, scene_id
        ORDER BY doc_id ASC NULLS LAST, scene_id ASC NULLS LAST""")),

    Q("m_audio_snr",
      "Signal-to-noise estimate per clip (the audio-quality gate run before paying for transcription): voiced and noise-floor per-sample mean energies from the VAD frame relation (exact int64 sums over REAL WAV decode), snr_db = 10*log10(voiced_mean / (noise_mean + 1)) with identical division/log operands on both engines. Scale shape: one partition-batched decode + a per-clip 2-way conditional aggregate — constant state per clip.",
      (s, dir) => {
        val ids = T(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") >= 1 && col("doc_id") <= 100)
        val media = T.spread(ids, cpuDense = true).select(col("doc_id"),
            graft.operators.AudioDecode.synthVadWavUdf(col("doc_id")).as("payload"))
        val fe = graft.operators.AudioDecode.frameEnergies(media)
          .withColumn("voiced", col("e") > lit(64L) * col("n_in_frame"))
        fe.groupBy(col("doc_id"))
          .agg(
            sum(when(col("voiced"), 1L).otherwise(0L)).as("n_voiced"),
            sum(when(!col("voiced"), 1L).otherwise(0L)).as("n_noise"),
            sum(when(col("voiced"), col("e")).otherwise(0L)).as("sv"),
            sum(when(!col("voiced"), col("e")).otherwise(0L)).as("su"))
          .withColumn("mean_voiced",
            round(col("sv").cast("double") / (col("n_voiced") * 50), 6))
          .withColumn("mean_noise",
            round(col("su").cast("double") / (col("n_noise") * 50), 6))
          .withColumn("snr_db", round(
            lit(10.0) * log10(
              (col("sv").cast("double") / (col("n_voiced") * 50))
                / (col("su").cast("double") / (col("n_noise") * 50) + 1.0)), 6))
          .select(col("doc_id"), col("n_voiced"), col("n_noise"),
            col("mean_voiced"), col("mean_noise"), col("snr_db"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id BETWEEN 1 AND 100),
        smp AS (SELECT doc_id, s.i, s.i // 50 AS f,
            CASE WHEN (doc_id + (s.i // 50) * (s.i // 50)) % 7 < 4
                 THEN abs((31*doc_id + (doc_id%13+2)*s.i*s.i + (doc_id%7+3)*s.i) % 2048 - 1024)
                 ELSE abs((31*doc_id + (doc_id%13+2)*s.i*s.i + (doc_id%7+3)*s.i) % 32 - 16) END AS av
          FROM ids, LATERAL (SELECT unnest(range(0, 1600)) AS i) s),
        fe AS (SELECT doc_id, f, CAST(sum(av) AS BIGINT) AS e, count(*) AS n_in_frame
               FROM smp GROUP BY doc_id, f),
        vf AS (SELECT doc_id, f, e, (e > 64 * n_in_frame) AS voiced FROM fe),
        ag AS (SELECT doc_id,
            CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced,
            CAST(sum(CASE WHEN voiced THEN 0 ELSE 1 END) AS BIGINT) AS n_noise,
            CAST(sum(CASE WHEN voiced THEN e ELSE 0 END) AS BIGINT) AS sv,
            CAST(sum(CASE WHEN voiced THEN 0 ELSE e END) AS BIGINT) AS su
          FROM vf GROUP BY doc_id)
        SELECT doc_id, n_voiced, n_noise,
          round(CAST(sv AS DOUBLE) / (n_voiced * 50), 6) AS mean_voiced,
          round(CAST(su AS DOUBLE) / (n_noise * 50), 6) AS mean_noise,
          round(10.0 * log10(
            (CAST(sv AS DOUBLE) / (n_voiced * 50))
              / (CAST(su AS DOUBLE) / (n_noise * 50) + 1.0)), 6) AS snr_db
        FROM ag ORDER BY doc_id ASC NULLS LAST"""))
  )
}
