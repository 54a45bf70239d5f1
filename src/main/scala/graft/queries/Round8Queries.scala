package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Round-8 additions to the LLM-data-pipeline surface.
  *
  *   - n_dup_span_extract: the REMEDIATION output of exact-substring
  *     dedup (the public train-data dedup literature's "remove long
  *     duplicated substrings" step): per document, the maximal spans
  *     covered by corpus-duplicated 5-grams, merged gaps-and-islands
  *     style. n_dup_ngram_coverage reports how much is duplicated;
  *     this reports exactly WHERE, as cuttable [start, end] token
  *     ranges.
  *   - n_embed_covariance: cross-dimension covariance of the embedding
  *     space (representation-collapse / redundant-dimension
  *     diagnostic), computed the 100 TB way — a mergeable partial
  *     outer-product aggregate (one d²-double state per partition,
  *     map-side combined) instead of an n·d² explode-and-shuffle.
  */
object Round8Queries extends QueryModule {

  /** Buffer for CovAgg: row count, per-dim sums, flattened d×d sum of
    * outer products. ~(d² + d) doubles ≈ 33 KB at d = 64 — small enough
    * to map-side combine and shuffle one per partition.
    *
    * Applicability bound (round-8 verdict #3): the d² state is fine to
    * d ≈ 512–1024 (2–8 MB per partition buffer and shuffle record); at
    * modern embedding widths (d = 4096 → ~134 MB) switch to the
    * block-partitioned layout SCALE.md documents — explode vectors
    * into (i, x_i) dimension rows and aggregate per (i, j) block, the
    * same shape n_label_centroids uses.
    */
  final case class CovBuf(n: Long, sums: Array[Double], prods: Array[Double])

  /** Population covariance matrix over Array[Float] vectors as a typed
    * Aggregator (SURVEY §2.2 K surface; same shape as GeoMean in
    * ExtraQueries). finish() returns the flattened d×d matrix
    * cov(i,j) = Σxy/n − (Σx/n)(Σy/n).
    */
  final case class CovAgg(d: Int)
      extends Aggregator[Array[Float], CovBuf, Array[Double]] {
    override def zero: CovBuf = CovBuf(0L, new Array[Double](d), new Array[Double](d * d))
    override def reduce(b: CovBuf, v: Array[Float]): CovBuf = {
      // fail-loudly policy (round-8 verdict #4): a silently skipped
      // null/mis-sized vector would shrink the denominator without a
      // trace — a malformed-embedding corpus must surface, not bias
      if (v == null || v.length != d)
        throw new IllegalArgumentException(
          s"covariance: malformed embedding (${if (v == null) "null" else s"length ${v.length}"}, expected $d)")
      else {
        var i = 0
        while (i < d) {
          val xi = v(i).toDouble
          b.sums(i) += xi
          var j = 0
          val row = i * d
          while (j < d) { b.prods(row + j) += xi * v(j); j += 1 }
          i += 1
        }
        CovBuf(b.n + 1, b.sums, b.prods)
      }
    }
    override def merge(a: CovBuf, b: CovBuf): CovBuf = {
      var i = 0
      while (i < d) { a.sums(i) += b.sums(i); i += 1 }
      var k = 0
      while (k < d * d) { a.prods(k) += b.prods(k); k += 1 }
      CovBuf(a.n + b.n, a.sums, a.prods)
    }
    override def finish(b: CovBuf): Array[Double] = {
      val out = new Array[Double](d * d)
      if (b.n > 0) {
        val n = b.n.toDouble
        var i = 0
        while (i < d) {
          var j = 0
          while (j < d) {
            out(i * d + j) = b.prods(i * d + j) / n - (b.sums(i) / n) * (b.sums(j) / n)
            j += 1
          }
          i += 1
        }
      }
      out
    }
    override def bufferEncoder = org.apache.spark.sql.Encoders.product[CovBuf]
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Seeded priority w/u for priority sampling: u's mantissa is the
    * first 13 hex digits of md5("graft-ps-42:"+doc_id) — 52 bits,
    * exactly double-representable, so any engine computes the same two
    * IEEE ops on the same operands (n_priority_sample).
    */
  private def priorityExpr: org.apache.spark.sql.Column =
    round(col("n_chars").cast("double") * lit(4503599627370496.0)
      / (conv(substring(md5(concat(lit("graft-ps-42:"), col("doc_id").cast("string"))), 1, 13),
          16, 10).cast("long") + lit(1)).cast("double"), 4)

  override val queries: Seq[Q] = Seq(
    Q("n_dup_span_extract",
      "Exact-substring-dedup remediation: per document, the MAXIMAL token spans covered by corpus-duplicated 5-grams (a gram counts as duplicated when ≥2 distinct docs contain it), merged gaps-and-islands style into cuttable [span_start, span_end] ranges. Scale shape: gram identity shuffles as an 8-byte xxhash64, never text; duplicated-position lists are linear in corpus size (each position appears once); the island merge is a doc-keyed window — no self-join, nothing quadratic.",
      (s, dir) => {
        // shared with n_dup_ngram_coverage: same retained gram relation,
        // same ≥2-distinct-docs duplication set (one gram explode per
        // session for both). i is unique per doc, so the window below
        // never ties.
        val pos = DedupQueries.dupGramStarts(s, dir)
        val before = Window.partitionBy(col("doc_id")).orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val upTo = Window.partitionBy(col("doc_id")).orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // a gram at i covers [i, i+4]; a new island starts when this
        // start lies past every previously-seen end
        val isl = pos
          .withColumn("prev_end", max(col("i") + lit(4)).over(before))
          .withColumn("brk",
            when(col("prev_end").isNull || col("i") > col("prev_end"), 1).otherwise(0))
          .withColumn("island", sum(col("brk")).over(upTo))
        isl.groupBy(col("doc_id"), col("island"))
          .agg(min(col("i")).cast("long").as("span_start"),
            (max(col("i")) + lit(4)).cast("long").as("span_end"),
            count(lit(1)).as("n_grams"))
          .select(col("doc_id"), col("span_start"), col("span_end"),
            (col("span_end") - col("span_start") + lit(1)).as("span_tokens"),
            col("n_grams"))
          .orderBy(col("doc_id").asc_nulls_last, col("span_start").asc_nulls_last)
      },
      Some("""WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g AS (
          SELECT doc_id, i,
            w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] AS g
          FROM w, LATERAL (SELECT unnest(generate_series(0, len(w) - 5)) AS i) s
          WHERE len(w) >= 5),
        dup AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM g) t
                GROUP BY g HAVING count(*) >= 2),
        p AS (SELECT doc_id, i FROM g WHERE g IN (SELECT g FROM dup)),
        b AS (
          SELECT doc_id, i,
            CASE WHEN max(i + 4) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR i > max(i + 4) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 THEN 1 ELSE 0 END AS brk
          FROM p),
        isl AS (
          SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM b)
        SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
          CAST(max(i) + 4 AS BIGINT) AS span_end,
          CAST(max(i) + 4 - min(i) + 1 AS BIGINT) AS span_tokens,
          count(*) AS n_grams
        FROM isl GROUP BY doc_id, island
        ORDER BY doc_id ASC NULLS LAST, span_start ASC NULLS LAST""")),

    Q("n_dup_span_apply",
      "Exact-substring-dedup APPLY step: rewrite the corpus with duplicated spans cut. Policy: an island (maximal duplicated span, as in n_dup_span_extract) is kept only in the doc that OWNS its first gram — owner = min doc_id over all docs containing that gram — so exactly one copy of every duplicated run survives corpus-wide (whole-doc duplicates collapse to the owner, subsuming exact dedup). Output: per-doc before/after token counts, spans cut, and the md5 of the cleaned text. Scale shape: ownership is one gram-keyed aggregate, position cuts are linear, and token surgery touches ONLY docs that lose a span (untouched docs — the large majority — are digested row-locally); no self-join, text never shuffles (only 8-byte gram ids and int positions).",
      (s, dir) => {
        val pos = DedupQueries.dupGramStarts(s, dir)
        val before = Window.partitionBy(col("doc_id")).orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val upTo = Window.partitionBy(col("doc_id")).orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val isl = pos
          .withColumn("prev_end", max(col("i") + lit(4)).over(before))
          .withColumn("brk",
            when(col("prev_end").isNull || col("i") > col("prev_end"), 1).otherwise(0))
          .withColumn("island", sum(col("brk")).over(upTo))
        // per island: extent + the FIRST gram's id (i unique per doc →
        // min_by is deterministic)
        val spans = isl.groupBy(col("doc_id"), col("island"))
          .agg(min(col("i")).as("s"), (max(col("i")) + lit(4)).as("e"),
            min_by(col("g"), col("i")).as("g_first"))
        // gram ownership: the lowest doc_id containing the gram keeps it
        val owners = pos.groupBy(col("g"))
          .agg(min(col("doc_id")).as("owner"))
        // small (docs-with-cuts × spans) relation, read by three
        // consumers below — retained so the window pipeline above runs
        // once; released with the dedup-family relations
        val cut = Retained(
          spans.join(owners, spans("g_first") === owners("g"))
            .filter(col("owner") =!= col("doc_id"))
            .select(col("doc_id"), col("s"), col("e")))
        val cutPos = cut.select(col("doc_id"),
          explode(expr("sequence(s, e)")).as("p"))
        val cutStats = cut.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans_cut"))
        // r15: spread — the untouched-branch per-doc md5 digests and the
        // surgery-branch token explode are row-local CPU (guide §2.5)
        val docs = T.par(s, dir, "documents").select(col("doc_id"), col("text"))
        val cutDocs = cut.select(col("doc_id")).distinct()
        // token surgery only for docs that actually lose a span (the
        // small minority); everything else is a row-local re-join —
        // same output, no corpus-wide token explode
        val surgery = docs.join(cutDocs, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
          .join(cutPos, Seq("doc_id", "p"), "left_anti")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok_after"),
            md5(array_join(expr(
              "transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"),
              " ")).as("cleaned_md5"))
        val untouched = docs.join(cutDocs, Seq("doc_id"), "left_anti")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok_after"),
            md5(array_join(split(col("text"), " "), " ")).as("cleaned_md5"))
        val cleaned = surgery.unionByName(untouched)
        docs
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok_before"))
          .join(cleaned, Seq("doc_id"), "left")
          .join(cutStats, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tok_before"),
            coalesce(col("n_tok_after"), lit(0L)).as("n_tok_after"),
            coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
            coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some("""WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g AS (
          SELECT doc_id, i,
            w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] AS g
          FROM w, LATERAL (SELECT unnest(generate_series(0, len(w) - 5)) AS i) s
          WHERE len(w) >= 5),
        dup AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM g) t
                GROUP BY g HAVING count(*) >= 2),
        p AS (SELECT doc_id, i, g FROM g WHERE g IN (SELECT g FROM dup)),
        b AS (
          SELECT doc_id, i, g,
            CASE WHEN max(i + 4) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR i > max(i + 4) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 THEN 1 ELSE 0 END AS brk
          FROM p),
        isl AS (
          SELECT doc_id, i, g, sum(brk) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM b),
        spans AS (
          SELECT doc_id, island, min(i) AS s, max(i) + 4 AS e,
            arg_min(g, i) AS g_first
          FROM isl GROUP BY doc_id, island),
        owners AS (SELECT g, min(doc_id) AS owner FROM p GROUP BY g),
        cut AS (
          SELECT spans.doc_id, s, e FROM spans
          JOIN owners ON spans.g_first = owners.g
          WHERE owner <> spans.doc_id),
        cutpos AS (
          SELECT doc_id, unnest(generate_series(s, e)) AS p FROM cut),
        cutstats AS (
          SELECT doc_id, count(*) AS n_spans_cut FROM cut GROUP BY doc_id),
        toks AS (
          SELECT doc_id, generate_subscripts(w, 1) - 1 AS p, unnest(w) AS tok
          FROM w),
        cleaned AS (
          SELECT doc_id, count(*) AS n_tok_after,
            md5(string_agg(tok, ' ' ORDER BY p)) AS cleaned_md5
          FROM toks t
          WHERE NOT EXISTS (
            SELECT 1 FROM cutpos c WHERE c.doc_id = t.doc_id AND c.p = t.p)
          GROUP BY doc_id)
        SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok_before,
          CAST(coalesce(cl.n_tok_after, 0) AS BIGINT) AS n_tok_after,
          CAST(coalesce(cs.n_spans_cut, 0) AS BIGINT) AS n_spans_cut,
          coalesce(cl.cleaned_md5, md5('')) AS cleaned_md5
        FROM documents d
        LEFT JOIN cleaned cl ON d.doc_id = cl.doc_id
        LEFT JOIN cutstats cs ON d.doc_id = cs.doc_id
        ORDER BY d.doc_id ASC NULLS LAST""")),

    Q("n_priority_sample",
      "Weighted sampling without replacement via priority sampling (the Duffield–Thorup scheme the sketching literature uses for weighted subset selection): each doc gets priority w/u with u a seeded hash-uniform, top-k by priority is a replayable weighted sample — heavier docs proportionally more likely, yet fully deterministic across engines, clusters and reruns (no RNG state). Cross-engine exactness: u's mantissa is the first 13 hex digits of a seeded md5 (52 bits — exactly representable), so both engines perform the SAME two IEEE ops on the SAME operands and the priorities are bit-identical. Scale shape: map-only scoring + TakeOrderedAndProject top-k; no shuffle beyond the k-row merge.",
      (s, dir) => {
        T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .withColumn("priority", priorityExpr)
          .orderBy(col("priority").desc_nulls_last, col("doc_id").asc_nulls_last)
          .limit(20)
          .select(col("doc_id"), col("lang"),
            col("n_chars").cast("long").as("weight"), col("priority"))
      },
      Some("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
          round(CAST(n_chars AS DOUBLE) * 4503599627370496.0
            / (CAST(concat('0x', substr(md5('graft-ps-42:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1), 4) AS priority
        FROM documents
        ORDER BY priority DESC NULLS LAST, doc_id ASC NULLS LAST
        LIMIT 20""")),

    Q("n_pad_efficiency",
      "Length-bucketed batching efficiency: docs bucketed by token count (width-64 bands — the map-only stand-in for exact length-sorted batching), per bucket the padding overhead of batching to the bucket max vs padding everything to the corpus max (the no-bucketing baseline). The integer token sums are exact in both engines, so waste shares divide identical operands. Scale shape: bucket id is row-local arithmetic, per-bucket aggregates partial-combine, the corpus max is a one-row broadcast — no window, no sort.",
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        val globalMax = toks.agg(max(col("n_tok")).as("gmax"))
        val buckets = toks
          .withColumn("bucket", expr("n_tok div 64"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("real_tokens"),
            max(col("n_tok")).as("bucket_max"))
        buckets.crossJoin(broadcast(globalMax))
          .select(col("bucket"), col("n_docs"), col("real_tokens"),
            (col("n_docs") * col("bucket_max")).as("bucket_padded"),
            round(lit(1.0) - col("real_tokens").cast("double")
              / (col("n_docs") * col("bucket_max")).cast("double"), 6)
              .as("bucket_waste"),
            (col("n_docs") * col("gmax")).as("global_padded"),
            round(lit(1.0) - col("real_tokens").cast("double")
              / (col("n_docs") * col("gmax")).cast("double"), 6)
              .as("global_waste"))
          .orderBy(col("bucket").asc_nulls_last)
      },
      Some("""WITH t AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        g AS (SELECT max(n_tok) AS gmax FROM t),
        b AS (
          SELECT n_tok // 64 AS bucket, count(*) AS n_docs,
            CAST(sum(n_tok) AS BIGINT) AS real_tokens, max(n_tok) AS bucket_max
          FROM t GROUP BY 1)
        SELECT bucket, n_docs, real_tokens,
          CAST(n_docs * bucket_max AS BIGINT) AS bucket_padded,
          round(1.0 - CAST(real_tokens AS DOUBLE) / (n_docs * bucket_max), 6) AS bucket_waste,
          CAST(n_docs * gmax AS BIGINT) AS global_padded,
          round(1.0 - CAST(real_tokens AS DOUBLE) / (n_docs * gmax), 6) AS global_waste
        FROM b, g
        ORDER BY bucket ASC NULLS LAST""")),

    Q("n_embed_covariance",
      "Embedding-space covariance diagnostic: the 20 most-correlated dimension pairs by |population covariance| (redundant/collapsed-dimension detector for learned representations). Computed as ONE mergeable aggregate — a d²-double partial outer-product state per partition, map-side combined, so the shuffle carries kilobytes regardless of row count; the oracle's n·d² unnest self-join is the semantics, not the scale path.",
      (s, dir) => {
        import s.implicits._
        val emb = T(s, dir, "embeddings")
        val d = emb.select(size(col("embedding"))).as[Int].head()
        val cov = udaf(CovAgg(d))
        emb.select(cov(col("embedding")).as("m"))
          .select(posexplode(col("m")).as(Seq("k", "v")))
          .select((col("k") / lit(d)).cast("int").as("ii"),
            (col("k") % lit(d)).cast("int").as("jj"), col("v"))
          .filter(col("ii") < col("jj"))
          .select(col("ii").cast("long").as("i"), col("jj").cast("long").as("j"),
            round(col("v"), 6).as("cov"))
          .orderBy(abs(col("cov")).desc, col("i").asc_nulls_last, col("j").asc_nulls_last)
          .limit(20)
      },
      Some("""WITH x AS (
          SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
            CAST(unnest(embedding) AS DOUBLE) AS val
          FROM embeddings)
        SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
          round(covar_pop(a.val, b.val), 6) AS cov
        FROM x a JOIN x b USING (vec_id)
        WHERE a.i < b.i
        GROUP BY a.i, b.i
        ORDER BY abs(round(covar_pop(a.val, b.val), 6)) DESC, i ASC, j ASC
        LIMIT 20""")))
}
