package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data deduplication over `documents` (north-star ops):
  * exact, hash-keyed exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: exact dedup groups on md5(text) — 16-byte keys
  * shuffle instead of full document bodies, which is the difference
  * between shuffling 100 TB and shuffling ~2 TB of digests. The
  * near-dup pipelines never build the O(n²) pair space: candidate
  * pairs come from an equi-join on shingles (bounded bucket sizes) or
  * LSH band buckets, and only candidates are exactly verified.
  *
  * Lifecycle: the shared relations (capped shingles, the pair
  * intersections, the cluster labels) are persisted and memoized per
  * (session, dir) through [[graft.Retained]], so every query of the
  * family reads one materialization. They live until the session's
  * `Retained.release`, which the inventory loops call after each query.
  */
object DedupQueries extends QueryModule {

  /** `Retained.release(s)`, kept for callers compiled against it
    * (the perfbench harness). */
  def release(s: SparkSession): Unit = Retained.release(s)

  /** Hot-bucket ceiling for the candidate-pair self-joins, read per
    * query from `spark.graft.dedup.<knob>` (default 1000). A self-join
    * key shared by m rows emits m²/2 pairs INSIDE ONE SHUFFLE
    * PARTITION — at 100 TB a stop-phrase shingle or a degenerate LSH
    * band (e.g. empty docs) turns that into a quadratic explosion no
    * amount of parallelism can absorb, which is why production MinHash
    * pipelines cap document frequency. Dropping over-cap buckets is
    * also *more correct* for dedup: a shingle occurring in >1000 docs
    * is a stop-phrase carrying no near-dup signal. The default is 40×
    * the observed sf0.1 maximum (25), so every oracle-checked result
    * is byte-identical; DedupSkewSpec exercises the capped path with a
    * planted degenerate corpus.
    */
  private def maxBucket(s: SparkSession, knob: String): Int =
    s.conf.get(s"spark.graft.dedup.$knob", "1000").toInt

  /** Drop rows whose value of `keys` occurs more than `cap` times —
    * one window count over a hash partitioning on `keys`. For the
    * shingle relation this runs ONCE per (session, dir) and the capped
    * result is what gets persisted; for the band/chunk buckets it runs
    * inline on the same keys the self-join shuffles on.
    */
  private def capBuckets(df: DataFrame, cap: Int, keys: String*): DataFrame = {
    // r16 (guide §2.3/§2.4): the window count shuffled AND sorted the
    // ENTIRE relation by the bucket key just to learn which buckets are
    // over cap — paid cold by every dedup query now that the bench
    // releases caches per query. The over-cap key set is tiny by
    // construction (buckets above cap are stop-phrases/degenerate
    // bands: bounded by rows/cap), so aggregate it and anti-join it
    // back instead: the partial-aggregated count shuffle carries
    // (key, count) not full rows, the big relation itself never
    // re-exchanges, and AQE turns the anti-join into a broadcast from
    // observed sizes. Same semantics row for row: count per key is
    // global in both forms, and the anti-join removes exactly the rows
    // whose key count exceeds cap.
    val over = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > cap)
      .select(keys.map(col): _*)
    df.join(over, keys, "left_anti")
  }

  /** Distinct 3-gram word shingles per doc, (doc_id, sh), with
    * stop-shingles (document frequency > cap) removed — the relation
    * every candidate self-join AND every exact-verify must run on, so
    * all dedup queries share one Jaccard definition (round-4 advice:
    * verifying on uncapped shingles while pairing on capped ones
    * silently mixes two Jaccard definitions). Retained and memoized per
    * (session, dir): every consumer self-joins or multi-references this
    * relation, and recomputing the split+explode shuffle and the cap
    * per reference dominated the bench.
    */
  def cappedShingles(s: SparkSession, dir: String): DataFrame =
    Retained.memo(s, ("dedup.shingles", dir))(Retained(
      capBuckets(buildShingles(s, dir), maxBucket(s, "maxShingleDf"), "sh")))

  /** (doc_id, h0): each distinct capped shingle hashed once to 8
    * bytes — the shared input of the MinHash signature and the exact
    * verify step. Derived from [[cappedShingles]] so MinHash and the
    * jaccard-pair query agree on what a document's shingle set IS.
    */
  def hashedShingles(s: SparkSession, dir: String): DataFrame =
    cappedShingles(s, dir).select(col("doc_id"), xxhash64(col("sh")).as("h0"))

  /** One row per 5-gram START position: (doc_id, i, g) with g the
    * 8-byte xxhash64 of the gram — row-local, codegen'd; only the
    * digest leaves the row. RETAINED (plan-idempotent): the coverage
    * diagnostic reads it twice (duplicate detection + coverage join)
    * and the span extractor (Round8Queries) reads the same relation,
    * so within a session the corpus-wide gram explode runs once for
    * all consumers.
    */
  def gramPositions(s: SparkSession, dir: String): DataFrame =
    // r15: spread the single-split doc scan so the gram explode
    // parallelizes (guide §2.5, same as buildShingles below)
    Retained(T.par(s, dir, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"),
        posexplode(expr(
          """transform(sequence(0, size(w) - 5),
               i -> xxhash64(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))"""))
          .as(Seq("i", "g"))))

  /** (doc_id, i, g) of gram starts whose gram is CORPUS-duplicated —
    * present in ≥2 DISTINCT docs (a gram repeated only inside one doc
    * is repetition, not duplication). Shared definition between the
    * coverage diagnostic, the span extractor and the span-cut rewrite
    * so all report the same duplication set.
    */
  def dupGramStarts(s: SparkSession, dir: String): DataFrame = {
    val grams = gramPositions(s, dir)
    val dup = grams.select(col("g"), col("doc_id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("g"))
    grams.join(dup, "g").select(col("doc_id"), col("i"), col("g"))
  }

  /** MinHash+LSH candidate pairs (id_a < id_b), band buckets capped at
    * `spark.graft.dedup.maxBandBucket`. A band bucket of size m emits
    * m²/2 candidates in one task; degenerate buckets (near-empty docs
    * sharing a trivial signature) are exactly the inputs exact dedup
    * already catches, so dropping them loses no recall worth having.
    */
  def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    // 32 permutations: hash each shingle string ONCE, then derive
    // the permutation family by remixing the 8-byte digest —
    // 32× cheaper than re-hashing variable-length strings per seed
    val sig = hashedShingles(s, dir).groupBy(col("doc_id")).agg(
      array((0 until 32).map(i =>
        min(xxhash64(col("h0"), lit(i)))): _*).as("sig"))
    // 8 bands of 4 → band hash; equal band hash → candidate. The
    // banded relation is RETAINED (tiny: 8 rows/doc) because the
    // self-join below references it twice — uncached, the whole
    // signature aggregation runs once per side (measured: 2.2 s of
    // the 3.4 s candidate phase at sf0.1 was the duplicated
    // signature pass; the cache collapses it to one)
    val banded = Retained(capBuckets(
      sig.select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 7), b -> xxhash64(slice(sig, b * 4 + 1, 4)))"))
        .as(Seq("band", "bandhash"))),
      maxBucket(s, "maxBandBucket"), "band", "bandhash"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bandhash") === col("y.bandhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  /** SimHash chunk-bucket candidate pairs with Hamming distance, chunk
    * buckets capped at `spark.graft.dedup.maxChunkBucket` (same
    * quadratic-explosion argument as the LSH bands: a 16-bit chunk
    * value shared by a boilerplate cluster is one shuffle key).
    */
  def simhashCandidates(s: SparkSession, dir: String): DataFrame = {
    val docs = T.par(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), expr("transform(w, x -> xxhash64(x))").as("hs"))
    val sim = docs.select(col("doc_id"),
      graft.functions.SimHash64(col("hs")).as("simhash"))
    // band by 4×16-bit chunks: Hamming ≤ 3 guarantees one equal chunk
    // retained for the same both-sides-of-the-self-join reason as the
    // LSH banded relation (4 rows/doc)
    val chunks = Retained(capBuckets(
      sim.select(col("doc_id"), col("simhash"),
        posexplode(expr(
          "transform(sequence(0, 3), c -> (simhash >> (c * 16)) & 65535)"))
          .as(Seq("chunk", "chunkval"))),
      maxBucket(s, "maxChunkBucket"), "chunk", "chunkval"))
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") &&
        col("x.chunkval") === col("y.chunkval") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
  }

  /** (id_a, id_b, inter, na, nb) for every candidate pair sharing at
    * least one capped shingle — the SINGLE most expensive shuffle in
    * the dedup family, memoized because symmetric Jaccard (≥ 0.5),
    * asymmetric containment (≥ 0.8), and everything downstream of
    * them are just different ratio filters over this one relation.
    */
  def pairIntersections(s: SparkSession, dir: String): DataFrame =
    Retained.memo(s, ("dedup.pairs", dir))(Retained(pairIntersectionsUncached(s, dir)))

  /** Exact 3-gram-Jaccard ≥ 0.5 near-dup pairs (id_a < id_b): the
    * verified edge set shared by the pair query, the cluster
    * (connected-components) query, and quality-aware survivorship.
    */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    pairIntersections(s, dir)
      // filter on the RAW ratio exactly like the oracle does — filtering
      // on the rounded value would admit ratios in [0.4999995, 0.5)
      // that the oracle rejects; rounding is display-only
      .withColumn("raw", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("raw") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("raw"), 6).as("jaccard"))

  /** Min-label cluster assignment over [[jaccardPairs]] — memoized for
    * the same reason: the CC fixpoint is a multi-superstep iteration,
    * and both the cluster report and keep-best survivorship consume
    * the SAME label frame.
    */
  def clusterLabels(s: SparkSession, dir: String): DataFrame =
    Retained.memo(s, ("dedup.labels", dir))(
      graft.operators.ConnectedComponents.labels(
        jaccardPairs(s, dir).select(col("id_a").as("u"), col("id_b").as("v"))))

  private def pairIntersectionsUncached(s: SparkSession, dir: String): DataFrame = {
    // both candidate generation and the intersection/size counts run on
    // the capped relation: the semantics are "overlap over informative
    // shingles", consistently on both sides of every ratio
    val sh = cappedShingles(s, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b,
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
  }

  private def buildShingles(s: SparkSession, dir: String): DataFrame =
    // documents arrive as one small parquet split; spread the
    // CPU-heavy shingle explode across all cores (T.par: keyed hash —
    // round-robin paid a local input sort, SPARK-23207)
    T.par(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), expr(
        // guard: sequence(0, -1) is DESCENDING in Spark (not empty), so
        // sub-3-word docs must short-circuit to an empty shingle list
        // (matching DuckDB's empty generate_series(0, -1))
        """CASE WHEN size(w) >= 3
             THEN transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
             ELSE array() END""")
        .as("shs"))
      // per-doc dedup happens ROW-side (array_distinct before explode):
      // (doc_id, sh) is then globally unique with no distinct-shuffle
      // of half a million strings
      .select(col("doc_id"), explode(array_distinct(col("shs"))).as("sh"))

  override val queries: Seq[Q] = Seq(
    Q("n_dedup_exact",
      "Exact dedup: keep min doc_id per identical text; survivor + duplicate counts per lang.",
      (s, dir) =>
        T(s, dir, "documents")
          .groupBy(col("text"), col("lang"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_unique"),
               sum(col("n_copies") - 1).as("n_dropped"))
          .orderBy(col("lang").asc_nulls_last),
      Some("""SELECT lang, count(*) AS n_unique,
        CAST(sum(n_copies - 1) AS BIGINT) AS n_dropped
        FROM (SELECT text, lang, min(doc_id) AS keep_id, count(*) AS n_copies
              FROM documents GROUP BY text, lang) t
        GROUP BY lang ORDER BY lang ASC NULLS LAST""")),

    Q("n_dedup_exact_hash",
      "Hash-keyed exact dedup: group on md5(text) so only 16-byte digests shuffle (the 100 TB-safe variant); emits survivor ids.",
      (s, dir) =>
        T(s, dir, "documents")
          .groupBy(md5(col("text")).as("text_md5"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id").asc_nulls_last),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text)
        ORDER BY keep_id ASC NULLS LAST""")),

    Q("n_dedup_ngram_jaccard",
      "Near-dup by 3-gram Jaccard ≥ 0.5 over DF-capped shingles (stop-shingles with document frequency > 1000 carry no near-dup signal and are dropped on BOTH sides): candidate pairs from a shingle equi-join (never O(n²)), then exact verify.",
      (s, dir) =>
        jaccardPairs(s, dir)
          .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last),
      // the oracle applies the SAME default DF ≤ 1000 cap (sh0 → sh), so
      // query and oracle compute one function at every scale, not just
      // at scales below the cap (round-4 advice)
      Some("""WITH sh0 AS (
          SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
               LATERAL (SELECT unnest(generate_series(0, len(w) - 3)) AS i) g),
        sh AS (SELECT * FROM sh0 WHERE sh IN
                 (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
        ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""")),

    Q("n_dedup_containment",
      "Containment near-dup (|A∩B| / min(|A|,|B|) ≥ 0.8 over the SAME DF-capped shingle relation): catches doc-CONTAINS-doc partial duplication — a quote, a boilerplate wrapper, a page embedding another — which symmetric Jaccard misses whenever the sizes differ a lot. Same bucketed equi-join candidate generation (never O(n²)), flags whether symmetric Jaccard ≥ 0.5 would also have caught the pair.",
      (s, dir) => {
        // the shared memoized intersection relation — containment is
        // just a different ratio filter over the same self-join
        pairIntersections(s, dir)
          // raw-ratio filter, display-only rounding (same discipline as
          // jaccardPairs: a rounded filter would disagree with the oracle
          // on ratios just under the threshold)
          .withColumn("rawc", col("inter") / least(col("na"), col("nb")))
          .filter(col("rawc") >= 0.8)
          .select(col("id_a"), col("id_b"),
            round(col("rawc"), 6).as("containment"),
            (col("inter") / (col("na") + col("nb") - col("inter")) >= 0.5)
              .as("jaccard_would_catch"))
          .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last)
      },
      Some("""WITH sh0 AS (
          SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
               LATERAL (SELECT unnest(generate_series(0, len(w) - 3)) AS i) g),
        sh AS (SELECT * FROM sh0 WHERE sh IN
                 (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) AS containment,
          CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5 AS jaccard_would_catch
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.8
        ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""")),

    Q("n_dedup_minhash_lsh",
      "MinHash (32 perms via seeded xxhash64) + LSH banding (8 bands × 4 rows): candidate pairs verified with exact Jaccard over the SAME DF-capped shingle relation n_dedup_ngram_jaccard uses (one Jaccard definition everywhere). Oracle-exempt (engine-native hash) twin=n_minhash_portable (oracle-passing md5-hash twin; n_minhash_eval is the precision/recall harness); MinhashSpec asserts recall against the exact pairs.",
      (s, dir) => {
        val hashed = hashedShingles(s, dir)
        val cand = lshCandidates(s, dir)
        // exact-verify candidates only (pair space is already pruned).
        // Intersections join on the 8-byte shingle hashes, not the
        // shingle strings — at 100 TB that is the difference between
        // shuffling digests and shuffling text
        val sizes = hashed.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        val shA = hashed.select(col("doc_id").as("id_a"), col("h0"))
        val shB = hashed.select(col("doc_id").as("id_b"), col("h0").as("h1"))
        cand
          .join(shA, "id_a")
          .join(shB, "id_b")
          .filter(col("h0") === col("h1"))
          .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
          .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
          .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
          .withColumn("jaccard",
            round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
          .filter(col("jaccard") >= 0.5)
          .select(col("id_a"), col("id_b"), col("jaccard"))
          .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last)
      },
      None),

    Q("n_dedup_incremental",
      "Incremental ingestion dedup: a NEW batch (doc_id % 10 = 0) screened against the EXISTING corpus only — batch×corpus pairs come from the MEMOIZED pair-intersection relation (filter: exactly one side in the batch), exact Jaccard ≥ 0.5, then an ingest/drop verdict per new doc. The at-scale shape: the candidate shuffle is shared with the whole dedup family, corpus×corpus verdicts are never computed, and the screen itself is a filter + one small aggregate.",
      (s, dir) => {
        // batch×corpus pairs are a FILTERED VIEW of the memoized
        // pair-intersection relation (exactly one side in the batch;
        // both orientations, since pairIntersections holds id_a<id_b)
        // — the candidate shuffle is shared with the whole dedup
        // family instead of re-run per ingestion screen
        val inter = pairIntersections(s, dir)
        val aBatch = col("id_a") % 10 === 0
        val bBatch = col("id_b") % 10 === 0
        val scored = inter
          .filter(aBatch =!= bBatch)
          .select(
            when(aBatch, col("id_a")).otherwise(col("id_b")).as("new_id"),
            (col("inter") / (col("na") + col("nb") - col("inter"))).as("raw"))
          .filter(col("raw") >= 0.5)
          .groupBy(col("new_id"))
          .agg(count(lit(1)).as("nm"), max(col("raw")).as("best_raw"))
        T(s, dir, "documents").filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("new_id"))
          .join(scored, Seq("new_id"), "left")
          .select(col("new_id"),
            coalesce(col("nm"), lit(0L)).as("n_matches"),
            round(coalesce(col("best_raw"), lit(0.0)), 6).as("best_jaccard"),
            when(col("nm").isNotNull, lit("drop")).otherwise(lit("ingest")).as("verdict"))
          .orderBy(col("new_id").asc_nulls_last)
      },
      Some("""WITH sh0 AS (
          SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
               LATERAL (SELECT unnest(generate_series(0, len(w) - 3)) AS i) g),
        sh AS (SELECT * FROM sh0 WHERE sh IN
                 (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh
          WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
          GROUP BY a.doc_id, b.doc_id),
        scored AS (
          SELECT new_id, CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS raw
          FROM pairs
          JOIN sizes sa ON sa.doc_id = new_id
          JOIN sizes sb ON sb.doc_id = corpus_id
          WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
        agg AS (SELECT new_id, count(*) AS nm, max(raw) AS best_raw
                FROM scored GROUP BY new_id)
        SELECT d.doc_id AS new_id,
          CAST(coalesce(nm, 0) AS BIGINT) AS n_matches,
          round(coalesce(best_raw, 0), 6) AS best_jaccard,
          CASE WHEN nm IS NOT NULL THEN 'drop' ELSE 'ingest' END AS verdict
        FROM documents d LEFT JOIN agg ON agg.new_id = d.doc_id
        WHERE d.doc_id % 10 = 0
        ORDER BY new_id ASC NULLS LAST""")),

    Q("n_source_overlap",
      "Cross-source contamination matrix: near-dup pairs (3-gram Jaccard ≥ 0.5) counted per (source_a, source_b) cell — the dataset-curation diagnostic for which corpora duplicate each other. Reuses the verified pair pipeline; only doc_id→source lookups join on top.",
      (s, dir) => {
        val src = T(s, dir, "documents").select(col("doc_id"), col("source"))
        jaccardPairs(s, dir)
          .join(src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "source_a"), "id_a")
          .join(src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "source_b"), "id_b")
          .groupBy(
            least(col("source_a"), col("source_b")).as("src_1"),
            greatest(col("source_a"), col("source_b")).as("src_2"))
          .agg(count(lit(1)).as("n_pairs"),
            // exact-decimal mean: immune to partial-sum order drift
            graft.Exact.avgExact(col("jaccard"), 6, 6).as("mean_jaccard"))
          .orderBy(col("src_1").asc_nulls_last, col("src_2").asc_nulls_last)
      },
      Some("""WITH sh0 AS (
          SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
               LATERAL (SELECT unnest(generate_series(0, len(w) - 3)) AS i) g),
        sh AS (SELECT * FROM sh0 WHERE sh IN
                 (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        scored AS (
          SELECT id_a, id_b,
            round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
          FROM pairs
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5)
        SELECT least(da.source, db.source) AS src_1,
          greatest(da.source, db.source) AS src_2,
          CAST(count(*) AS BIGINT) AS n_pairs,
          round(CAST(sum(CAST(jaccard AS DECIMAL(24,6))) AS DOUBLE) / count(*), 6) AS mean_jaccard
        FROM scored
        JOIN documents da ON da.doc_id = id_a
        JOIN documents db ON db.doc_id = id_b
        GROUP BY 1, 2
        ORDER BY src_1 ASC NULLS LAST, src_2 ASC NULLS LAST""")),

    Q("n_dedup_simhash",
      "SimHash-64: per-word hashes vote on 64 bit positions; near-dups = pairs within Hamming distance ≤ 3 (bucketed by 16-bit chunks, never O(n²)). Oracle-exempt (engine-native hash) twin=n_simhash_portable (oracle-passing md5-hash twin).",
      (s, dir) =>
        simhashCandidates(s, dir)
          .filter(col("hamming") <= 3)
          .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last),
      None),

    Q("n_dup_ngram_coverage",
      "Duplicate-5-gram coverage (the exact-substring-dedup diagnostic from the public train-data dedup literature): per language, the share of token positions covered by a 5-gram occurring in ≥2 documents, plus how many docs are mostly-duplicated (coverage ≥ 0.5). Gram identity shuffles as an 8-byte hash, never gram text; coverage union is an integer count of exploded positions — int sums and ONE division, so both engines divide identical operands.",
      (s, dir) => {
        val w = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 5)
        // start i covers tokens [i, i+4]; union of covered positions =
        // count DISTINCT exploded ints — ×5 integer rows, doc-keyed agg
        val covered = dupGramStarts(s, dir)
          .select(col("doc_id"), explode(expr("sequence(i, i + 4)")).as("p"))
          .groupBy(col("doc_id")).agg(countDistinct(col("p")).as("covered"))
        w.select(col("doc_id"), col("lang"), size(col("w")).cast("long").as("n_tok"))
          .join(covered, Seq("doc_id"), "left")
          .withColumn("covered", coalesce(col("covered"), lit(0L)))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            round(sum(col("covered")).cast("double") / sum(col("n_tok")), 6)
              .as("dup_token_share"),
            sum(when(col("covered") * 2 >= col("n_tok"), 1L).otherwise(0L))
              .as("n_mostly_dup"))
          .orderBy(col("lang").asc_nulls_last)
      },
      Some("""WITH w AS (
          SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        d AS (SELECT doc_id, lang, len(w) AS n_tok FROM w WHERE len(w) >= 5),
        g AS (
          SELECT doc_id, i,
            w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] AS g
          FROM w, LATERAL (SELECT unnest(generate_series(0, len(w) - 5)) AS i) s
          WHERE len(w) >= 5),
        dup AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM g) t
                GROUP BY g HAVING count(*) >= 2),
        cov AS (
          SELECT doc_id, count(DISTINCT p) AS covered
          FROM (SELECT doc_id, i FROM g WHERE g IN (SELECT g FROM dup)) h,
               LATERAL (SELECT unnest(generate_series(i, i + 4)) AS p) u
          GROUP BY doc_id)
        SELECT lang, count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS n_tokens,
          round(CAST(sum(coalesce(covered, 0)) AS DOUBLE) / sum(n_tok), 6) AS dup_token_share,
          CAST(sum(CASE WHEN coalesce(covered, 0) * 2 >= n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_dup
        FROM d LEFT JOIN cov USING (doc_id)
        GROUP BY lang
        ORDER BY lang ASC NULLS LAST""")))
}
