package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (64-dim float vectors,
  * north-star ops): brute-force cosine top-k as the correctness
  * baseline, LSH-bucketed ANN as the scale path, and a
  * dimension-exploded centroid pipeline.
  *
  * Scale design: brute-force is O(n·q) with the small query set
  * broadcast — right for reranking, wrong for 10⁹×10⁹. The ANN
  * variant buckets by random-hyperplane signature so each probe only
  * scans its bucket; recall vs brute force is spec-tested. Dot
  * products run as codegen'd higher-order functions over primitive
  * arrays (no UDF, no MLlib dependency).
  */
object SimilarityQueries extends QueryModule {

  /** Cosine similarity between two Array[Float] columns: the native
    * codegen'd kernel (one fused primitive loop). Double accumulation,
    * left-to-right — numerically identical to [[cosineHof]].
    */
  def cosine(a: String, b: String): org.apache.spark.sql.Column =
    graft.functions.CosineSimilarity(col(a), col(b))

  /** Built-in higher-order-function formulation of the same cosine —
    * kept as the pure-builtins reference; CosineSpec proves equality.
    */
  def cosineHof(a: String, b: String): org.apache.spark.sql.Column =
    expr(s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)
      / (sqrt(aggregate($a, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
       * sqrt(aggregate($b, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""")

  override val queries: Seq[Q] = Seq(
    Q("n_cosine_topk_bruteforce",
      "Brute-force cosine top-5 per query vector (queries broadcast against the full corpus; exact baseline for ANN recall).",
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val scored = emb.join(broadcast(queries), col("vec_id") =!= col("qid"))
          .withColumn("sim", round(cosine("qv", "embedding"), 6))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc_nulls_last, col("vec_id").asc_nulls_last)
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("rk"), col("vec_id"), col("sim"))
          .orderBy(col("qid").asc_nulls_last, col("rk").asc_nulls_last)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT qid, vec_id,
            round(
              list_sum(list_transform(list_zip(qv, embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
          FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
        ranked AS (
          SELECT qid, vec_id, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC NULLS LAST, vec_id ASC NULLS LAST) AS rk
          FROM scored)
        SELECT qid, rk, vec_id, sim FROM ranked WHERE rk <= 5
        ORDER BY qid ASC NULLS LAST, rk ASC NULLS LAST""")),

    Q("n_cosine_threshold_pairs",
      "All-pairs cosine ≥ 0.3 within a label (blocked join: label is the blocking key, so the pair space is per-block, not global).",
      (s, dir) => {
        val a = T(s, dir, "embeddings").filter(col("vec_id") < 200)
          .select(col("label"), col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = T(s, dir, "embeddings").filter(col("vec_id") < 200)
          .select(col("label"), col("vec_id").as("id_b"), col("embedding").as("vb"))
        a.join(b, Seq("label"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("sim", round(cosine("va", "vb"), 6))
          .filter(col("sim") >= 0.3)
          .select(col("label"), col("id_a"), col("id_b"), col("sim"))
          .orderBy(col("label").asc_nulls_last, col("id_a").asc_nulls_last,
                   col("id_b").asc_nulls_last)
      },
      Some("""SELECT label, id_a, id_b, sim FROM (
          WITH e AS (SELECT label, vec_id, embedding FROM embeddings WHERE vec_id < 200)
          SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
            round(
              list_sum(list_transform(list_zip(a.embedding, b.embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) t
        WHERE sim >= 0.3
        ORDER BY label ASC NULLS LAST, id_a ASC NULLS LAST, id_b ASC NULLS LAST""")),

    Q("n_ann_lsh_buckets",
      "ANN via random-hyperplane LSH: 6-bit signatures from deterministic hash-seeded hyperplanes; probes scan only their bucket, exact cosine reranks. Oracle-exempt (engine-native hash) twin=n_ann_lsh_portable (oracle-passing md5-hyperplane twin); AnnSpec measures recall vs brute force.",
      (s, dir) => {
        // r15: spread — the 6-plane interpreted signature fold is the CPU
        val emb = T.par(s, dir, "embeddings")
        // hyperplane component (i, j) = ±1 from xxhash64 parity — no
        // stored model, reproducible on any cluster size
        val sigExpr = expr(
          """aggregate(sequence(0, 5), 0L, (acc, p) ->
               acc + if(aggregate(zip_with(embedding, sequence(0, 63),
                          (x, i) -> CAST(x AS DOUBLE) * (CAST(pmod(xxhash64(p, i), 2) AS DOUBLE) * 2D - 1D)),
                        0D, (a2, v) -> a2 + v) > 0D, shiftleft(1L, p), 0L))""")
        val sig = emb.withColumn("bucket", sigExpr)
        val probes = sig.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("bucket"))
        sig.join(broadcast(probes), Seq("bucket"))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("sim", round(cosine("qv", "embedding"), 6))
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("bucket_candidates"),
               max(col("sim")).as("best_sim"))
          .orderBy(col("qid").asc_nulls_last)
      },
      None),

    Q("n_label_centroids",
      "Per-label centroids via dimension-exploded layout (posexplode → group by (label, dim)) — the layout that scales to billions of vectors; pairwise centroid cosine.",
      (s, dir) => {
        val dims = T.par(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("label"), col("dim"))
          .agg(avg(col("x")).as("c"))
        val va = dims.select(col("label").as("la"), col("dim"), col("c").as("ca"))
        val vb = dims.select(col("label").as("lb"), col("dim"), col("c").as("cb"))
        va.join(vb, Seq("dim"))
          .filter(col("la") < col("lb"))
          .groupBy(col("la"), col("lb"))
          .agg(round(
            sum(col("ca") * col("cb")) /
              (sqrt(sum(col("ca") * col("ca"))) * sqrt(sum(col("cb") * col("cb")))), 6)
            .as("centroid_cos"))
          .orderBy(col("la").asc_nulls_last, col("lb").asc_nulls_last)
      },
      Some("""WITH dims AS (
          SELECT label, CAST(pos AS INT) AS dim, avg(CAST(x AS DOUBLE)) AS c
          FROM (SELECT label,
                  unnest(embedding) AS x,
                  unnest(generate_series(0, len(embedding) - 1)) AS pos
                FROM embeddings) t
          GROUP BY label, pos)
        SELECT a.label AS la, b.label AS lb,
          round(sum(a.c * b.c) / (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))), 6) AS centroid_cos
        FROM dims a JOIN dims b ON a.dim = b.dim AND a.label < b.label
        GROUP BY a.label, b.label
        ORDER BY la ASC NULLS LAST, lb ASC NULLS LAST""")),

    Q("n_dedup_semantic",
      "SemDeDup-style clustered embedding dedup (cf. the public semantic-dedup literature): vectors are assigned map-only to the nearest of k=8 broadcast centroid cells, near-dup pairs (cosine ≥ 0.3) are generated ONLY within a cell, and the greedy keep-lowest-id rule drops the rest. The cell assignment is the scale path — k grows with corpus size, so the per-cell quadratic stays bounded where a global (or even label-blocked) pair join would not. The deterministic low-id centroid seed stands in for an offline k-means model: same broadcast + argmax assignment shape, oracle-checkable.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // r15: spread — broadcast-assign cosine + per-cell pair cosines
        val e = T.par(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        // k is the scale knob: per-cell pair work is ~(n/k)² so k grows
        // with the corpus (k ≈ √n keeps it flat); the oracle mirrors the
        // default, same convention as the spark.graft.dedup.* caps
        val k = s.conf.get("spark.graft.semantic.k", "8").toInt
        val cents = e.filter(col("vec_id") < k)
          .select(col("vec_id").cast("int").as("cell"), col("embedding").as("cvec"))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("simr").desc, col("cell").asc)
        // persisted: the a-side, b-side and per-cell count all read it —
        // without the cache the broadcast-assign stage runs three times
        val assigned = Retained(e.crossJoin(broadcast(cents))
          .withColumn("simr", round(cosine("embedding", "cvec"), 6))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("cell"), col("vec_id"), col("embedding")))
        val a = assigned.select(col("cell"), col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = assigned.select(col("cell"), col("vec_id").as("id_b"), col("embedding").as("vb"))
        val pairs = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
          .filter(round(cosine("va", "vb"), 6) >= 0.3)
          .select(col("cell"), col("id_a"), col("id_b"))
        val pairCnt = pairs.groupBy(col("cell")).agg(count(lit(1)).as("n_pairs"))
        val dropCnt = pairs.select(col("cell"), col("id_b")).distinct()
          .groupBy(col("cell")).agg(count(lit(1)).as("n_dropped"))
        assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
          .join(pairCnt, Seq("cell"), "left")
          .join(dropCnt, Seq("cell"), "left")
          .select(col("cell"), col("n_vecs"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
            (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
          .orderBy(col("cell").asc_nulls_last)
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        c AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS cvec FROM e WHERE vec_id < 8),
        sim AS (SELECT e.vec_id, c.cell, e.embedding,
            round(list_sum(list_transform(list_zip(e.embedding, c.cvec),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS simr
          FROM e CROSS JOIN c),
        assigned AS (SELECT vec_id, cell, embedding FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY simr DESC, cell ASC) AS rn
            FROM sim) t
          WHERE rn = 1),
        pairs AS (SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b
          FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) >= 0.3),
        v AS (SELECT cell, count(*) AS n_vecs FROM assigned GROUP BY cell),
        p AS (SELECT cell, count(*) AS n_pairs FROM pairs GROUP BY cell),
        d AS (SELECT cell, count(*) AS n_dropped FROM
                (SELECT DISTINCT cell, id_b FROM pairs) t GROUP BY cell)
        SELECT v.cell, v.n_vecs,
          CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
          CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
          CAST(v.n_vecs - coalesce(d.n_dropped, 0) AS BIGINT) AS n_kept
        FROM v LEFT JOIN p ON v.cell = p.cell LEFT JOIN d ON v.cell = d.cell
        ORDER BY v.cell ASC NULLS LAST""")))
}
