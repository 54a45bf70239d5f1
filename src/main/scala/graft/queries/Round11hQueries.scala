package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 eighth batch — graph-structure forensics over the
  * near-dup relations (reference scope: fb64/uquery-rs exposes
  * arbitrary SQL over corpus tables, src/core/duckdb.rs:87; these are
  * the curation programs built on that surface):
  *
  *   - n_lpa_communities — weighted label propagation (Raghavan et
  *     al. 2007) over the shingle-overlap graph: two synchronous
  *     rounds of weighted-majority voting with deterministic
  *     tie-breaks — the community detector that, unlike connected
  *     components, does NOT merge clusters through a single weak
  *     bridge edge.
  *   - n_cluster_cohesion — the audit of the CC near-dup clusters
  *     themselves: internal edge density and Jaccard statistics per
  *     cluster, flagging low-density components (LSH/transitive
  *     CHAINING false merges — the classic MinHash-pipeline failure).
  *   - n_source_overlap — the pairwise source-redundancy matrix:
  *     top-k content fingerprints per source, Jaccard between every
  *     source pair — the map a mixture designer reads before weighting
  *     two crawls that are secretly the same data.
  */
object Round11hQueries extends QueryModule {

  /** Portable 52-bit trigram digests over the doc_id < 300 evaluation
    * slice (the n_dedup_ensemble relation shape). */
  private def shingleDigests(s: SparkSession, dir: String): DataFrame = {
    val shingleHash =
      "CAST(conv(substring(md5(concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))), 1, 13), 16, 10) AS BIGINT)"
    T(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> length(w) > 0)").as("ws"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(1, size(ws) - 2), i -> $shingleHash))"))
        .as("h"))
  }

  private val shingleSql =
    """sh AS (
        SELECT DISTINCT doc_id,
          CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 13)) AS BIGINT) AS h
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
              FROM documents WHERE doc_id < 300) d,
             LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) g)"""

  override val queries: Seq[Q] = Seq(

    Q("n_lpa_communities",
      "Weighted label propagation communities (Raghavan et al. 2007; the near-dup community detector that resists single-bridge chaining): edges are shingle-digest co-occurrence counts (weight = |A∩B|, kept at >= 2) over the doc_id < 300 slice, labels start as doc ids, and TWO synchronous rounds of weighted-majority voting run with fully deterministic tie-breaks (highest incident weight, then smallest label; isolated or tied-out nodes keep their label). Output: every connected doc with its round-2 community and the community's member count. Scale shape: edges come from a digest equi-join (never all-pairs), each round is one (node, label) weight aggregate + one keyed rank — two shuffles per round on the node key, state is one label per node.",
      (s, dir) => {
        val sh = shingleDigests(s, dir)
        val pw = Retained(
          sh.as("x").join(sh.as("y"),
              col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
            .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
            .agg(count(lit(1)).as("w"))
            .filter(col("w") >= 2))
        val edges = Retained(
          pw.select(col("a").as("n"), col("b").as("m"), col("w"))
            .union(pw.select(col("b").as("n"), col("a").as("m"), col("w"))))
        val nodes = edges.select(col("n")).distinct()
        def propagate(labels: DataFrame): DataFrame = {
          // votes: each neighbor m contributes its label with weight w
          val votes = edges
            .join(labels.select(col("id").as("m"), col("lbl")), Seq("m"))
            .groupBy(col("n"), col("lbl"))
            .agg(sum(col("w")).as("wsum"))
          val win = Window.partitionBy(col("n"))
            .orderBy(col("wsum").desc_nulls_last, col("lbl").asc_nulls_last)
          votes.withColumn("rk", row_number().over(win)).filter(col("rk") === 1)
            .select(col("n").as("id"), col("lbl"))
        }
        val l0 = nodes.select(col("n").as("id"), col("n").cast("bigint").as("lbl"))
        val l2 = propagate(propagate(l0))
        val sizes = l2.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
        l2.join(sizes, Seq("lbl"))
          .select(col("id").as("doc_id"), col("lbl").as("community"),
            col("community_size"))
          .orderBy(col("doc_id").asc_nulls_last)
      },
      Some(s"""WITH $shingleSql,
        pw AS (
          SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS w
          FROM sh x JOIN sh y ON x.h = y.h AND x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id
          HAVING count(*) >= 2),
        edges AS (
          SELECT a AS n, b AS m, w FROM pw
          UNION ALL SELECT b, a, w FROM pw),
        l0 AS (SELECT DISTINCT n AS id, CAST(n AS BIGINT) AS lbl FROM edges),
        v1 AS (SELECT e.n, l.lbl, sum(e.w) AS wsum
               FROM edges e JOIN l0 l ON e.m = l.id GROUP BY e.n, l.lbl),
        l1 AS (SELECT n AS id, lbl FROM (
                 SELECT n, lbl, row_number() OVER (PARTITION BY n
                   ORDER BY wsum DESC NULLS LAST, lbl ASC NULLS LAST) AS rk
                 FROM v1) WHERE rk = 1),
        v2 AS (SELECT e.n, l.lbl, sum(e.w) AS wsum
               FROM edges e JOIN l1 l ON e.m = l.id GROUP BY e.n, l.lbl),
        l2 AS (SELECT n AS id, lbl FROM (
                 SELECT n, lbl, row_number() OVER (PARTITION BY n
                   ORDER BY wsum DESC NULLS LAST, lbl ASC NULLS LAST) AS rk
                 FROM v2) WHERE rk = 1),
        sizes AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
                  FROM l2 GROUP BY lbl)
        SELECT l2.id AS doc_id, l2.lbl AS community, sizes.community_size
        FROM l2 JOIN sizes ON l2.lbl = sizes.lbl
        ORDER BY doc_id ASC NULLS LAST""")),

    Q("n_cluster_cohesion",
      "Near-dup cluster cohesion audit (the check against LSH/transitive CHAINING — the classic MinHash-pipeline failure where one weak bridge merges two unrelated families): for every connected component of the verified Jaccard >= 0.5 pair graph, the internal edge count vs the complete-graph pair count (density), the mean (exact-decimal) and minimum internal Jaccard, and a chained/cohesive verdict (density < 0.6 with > 2 members = suspicious). Scale shape: components come from the distributed CC operator, edges from the memoized digest-keyed pair relation; the audit itself is one label join + one cluster-keyed aggregate — no pair is recomputed.",
      (s, dir) => {
        val labels = DedupQueries.clusterLabels(s, dir)
        val pairs = DedupQueries.jaccardPairs(s, dir)
        val e = pairs.join(
          labels.select(col("id").as("id_a"), col("label")), Seq("id_a"))
        val sizes = labels.groupBy(col("label"))
          .agg(count(lit(1)).as("n_members"))
        val stats = e.groupBy(col("label")).agg(
          count(lit(1)).cast("bigint").as("n_edges"),
          round(sum(col("jaccard").cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 6).as("mean_j"),
          min(col("jaccard")).as("min_j"))
        sizes.join(stats, Seq("label"))
          .withColumn("possible_pairs",
            (col("n_members") * (col("n_members") - 1) / 2).cast("bigint"))
          .withColumn("density", round(
            col("n_edges").cast("double") / col("possible_pairs"), 6))
          .withColumn("verdict",
            when(col("n_members") > 2 && col("density") < 0.6, "chained")
              .otherwise("cohesive"))
          .select(col("label").as("cluster_id"),
            col("n_members").cast("bigint").as("n_members"), col("n_edges"),
            col("possible_pairs"), col("density"), col("mean_j"), col("min_j"),
            col("verdict"))
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
          SELECT id_a, id_b,
            round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
          FROM cpairs
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
        csizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
                   FROM labels GROUP BY label),
        estats AS (
          SELECT l.label,
            CAST(count(*) AS BIGINT) AS n_edges,
            round(CAST(sum(CAST(jp.jaccard AS DECIMAL(18,6))) AS DOUBLE)
              / count(*), 6) AS mean_j,
            min(jp.jaccard) AS min_j
          FROM jp JOIN labels l ON jp.id_a = l.id
          GROUP BY l.label)
        SELECT c.label AS cluster_id, c.n_members, e.n_edges,
          CAST(c.n_members * (c.n_members - 1) / 2 AS BIGINT) AS possible_pairs,
          round(CAST(e.n_edges AS DOUBLE)
            / (c.n_members * (c.n_members - 1) / 2), 6) AS density,
          e.mean_j, e.min_j,
          CASE WHEN c.n_members > 2
                AND round(CAST(e.n_edges AS DOUBLE)
                  / (c.n_members * (c.n_members - 1) / 2), 6) < 0.6
               THEN 'chained' ELSE 'cohesive' END AS verdict
        FROM csizes c JOIN estats e ON c.label = e.label
        ORDER BY cluster_id ASC NULLS LAST""")),

    Q("n_source_overlap_matrix",
      "Pairwise source-redundancy matrix (the map a mixture designer reads before weighting two crawls that are secretly the same data): each source reduces to its top-200 trigram digests by frequency (count desc, digest asc — fully deterministic), and every source pair reports fingerprint intersection and Jaccard with a redundant/distinct verdict. Scale shape: per-source top-k is a source-keyed rank over the digest-count relation (keys = sources x digests, never documents), the pair intersection is a digest equi-join between k-bounded sets — at 100 TB the matrix costs #sources * k rows of state, independent of corpus size.",
      (s, dir) => {
        val counts = shingleDigestsAllDocs(s, dir)
          .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
        val win = Window.partitionBy(col("source"))
          .orderBy(col("c").desc_nulls_last, col("h").asc_nulls_last)
        val top = Retained(
          counts.withColumn("rk", row_number().over(win))
            .filter(col("rk") <= 200).select(col("source"), col("h")))
        val sz = top.groupBy(col("source")).agg(count(lit(1)).as("k"))
        val inter = top.as("x").join(top.as("y"),
            col("x.h") === col("y.h") && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
          .agg(count(lit(1)).cast("bigint").as("inter"))
        inter
          .join(sz.select(col("source").as("sa"), col("k").as("ka")), Seq("sa"))
          .join(sz.select(col("source").as("sb"), col("k").as("kb")), Seq("sb"))
          .withColumn("jaccard", round(col("inter").cast("double")
            / (col("ka") + col("kb") - col("inter")), 6))
          .withColumn("verdict",
            when(col("jaccard") >= 0.35, "redundant_pair").otherwise("distinct"))
          .select(col("sa"), col("sb"), col("inter"), col("jaccard"),
            col("verdict"))
          .orderBy(col("sa").asc_nulls_last, col("sb").asc_nulls_last)
      },
      Some("""WITH sh AS (
          SELECT DISTINCT source, doc_id,
            CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 13)) AS BIGINT) AS h
          FROM (SELECT source, doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
                FROM documents) d,
               LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) g),
        counts AS (SELECT source, h, count(*) AS c FROM sh GROUP BY source, h),
        top AS (SELECT source, h FROM (
                  SELECT source, h, row_number() OVER (PARTITION BY source
                    ORDER BY c DESC NULLS LAST, h ASC NULLS LAST) AS rk
                  FROM counts) WHERE rk <= 200),
        sz AS (SELECT source, count(*) AS k FROM top GROUP BY source),
        i AS (SELECT x.source AS sa, y.source AS sb, CAST(count(*) AS BIGINT) AS inter
              FROM top x JOIN top y ON x.h = y.h AND x.source < y.source
              GROUP BY x.source, y.source)
        SELECT sa, sb, inter,
          round(CAST(inter AS DOUBLE) / (za.k + zb.k - inter), 6) AS jaccard,
          CASE WHEN round(CAST(inter AS DOUBLE) / (za.k + zb.k - inter), 6) >= 0.35
               THEN 'redundant_pair' ELSE 'distinct' END AS verdict
        FROM i JOIN sz za ON i.sa = za.source JOIN sz zb ON i.sb = zb.source
        ORDER BY sa ASC NULLS LAST, sb ASC NULLS LAST"""))
  )

  /** Per-(source, doc) distinct trigram digests over the WHOLE corpus
    * (the n_source_overlap input — per-doc distinct, so one spammy doc
    * cannot dominate a source's fingerprint counts). */
  private def shingleDigestsAllDocs(s: SparkSession, dir: String): DataFrame = {
    val shingleHash =
      "CAST(conv(substring(md5(concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))), 1, 13), 16, 10) AS BIGINT)"
    T(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        expr("filter(split(text, ' '), w -> length(w) > 0)").as("ws"))
      .select(col("source"), col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(1, size(ws) - 2), i -> $shingleHash))"))
        .as("h"))
  }
}
