package graft.operators

import graft.Retained
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation — the
  * production dedup step AFTER near-dup pair verification: pairs form
  * an undirected graph; every document takes the smallest doc id
  * reachable through it (its cluster's canonical survivor).
  *
  * Each iteration is one shuffle join + partial-aggregated min — the
  * Pregel/GraphFrames CC pattern without the dependency. Iteration
  * count ≈ component diameter, and near-dup clusters are shallow
  * (dupes of a common ancestor), so the loop converges in a handful
  * of supersteps at any corpus size. The driver-side `count()` per
  * step is an aggregate (a convergence check), never data collection.
  */
object ConnectedComponents {

  /** @param edgesIn (u, v) pairs, one row per undirected edge.
    * @return (id, label): label = min id of the component. Every frame
    *         the iteration persists is registered with [[graft.Retained]]
    *         under the edges' session: the intermediates are freed as
    *         soon as the fixpoint no longer reads them, and the returned
    *         label frame stays persisted until that session's release.
    */
  def labels(edgesIn: DataFrame): DataFrame = {
    // materialize the input ONCE before fanning out: the 4-way union
    // below would otherwise re-run the (possibly expensive) upstream
    // pair pipeline once per branch
    val halfRaw = Retained(edgesIn.select(col("u"), col("v")))
    val nEdges = halfRaw.count()
    // size-adaptive parallelism (the same runtime re-plan AQE applies
    // to single queries, done here for the iteration): each superstep
    // is a join+agg whose fixed scheduling cost dominates when the
    // verified-pair graph is small — ~100k edges per partition keeps
    // big graphs parallel without paying 32-task churn per superstep
    // on a 25-edge one
    val spark = edgesIn.sparkSession
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 100000L + 1L)).toInt
    val half = Retained(halfRaw.repartition(parts))
    half.count()
    Retained.free(halfRaw)
    if (nEdges == 0L) {
      // no edges → no clusters; short-circuit (the Σlabel witness
      // below would read a NULL aggregate off an empty frame)
      Retained.free(half)
      return half.select(col("u").as("id"), col("u").as("label"))
    }
    // both directions PLUS self-loops: one join+min per superstep then
    // covers "own label vs neighbors' labels" without a second join
    val edges = Retained(half
      .union(half.select(col("v").as("u"), col("u").as("v")))
      .union(half.select(col("u"), col("u").as("v")))
      .union(half.select(col("v").as("u"), col("v")))
      .distinct())
    var lab = Retained(edges.select(col("u").as("id"), col("u").as("label")).distinct())
    // labels only ever DECREASE, so Σlabel is a fixpoint witness: it
    // strictly drops until convergence — one cheap aggregate per
    // superstep instead of a compare join
    def sumLabels(df: DataFrame): Long =
      df.agg(sum(col("label"))).collect()(0).getLong(0)
    var prevSum = sumLabels(lab)
    var iter = 0
    var converged = false
    val MaxSupersteps = 50
    while (!converged && iter < MaxSupersteps) {
      // localCheckpoint (eager): materialize AND truncate lineage.
      // Without it the label plan nests one join level per superstep —
      // analysis cost grows quadratically with iteration count and any
      // downstream consumer of the returned frame drags the whole
      // unrolled fixpoint history through the optimizer (a driver-
      // memory risk at high component diameters; the same reason
      // GraphFrames CC checkpoints periodically). The label frame is
      // tiny (one row per graph node), so the checkpoint job is the
      // same work the convergence aggregate was already forcing.
      val next = Retained(edges.join(lab.withColumnRenamed("id", "v"), "v")
        .groupBy(col("u").as("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(true))
      val s = sumLabels(next)
      converged = s == prevSum
      prevSum = s
      Retained.free(lab)
      lab = next
      iter += 1
    }
    Retained.free(edges)
    Retained.free(half)
    // a silent partial merge would be wrong-but-plausible output; the
    // cap exists only to bound pathological inputs, so overrunning it
    // must fail loudly (project rule: an error beats silently-different)
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within $MaxSupersteps supersteps " +
        "(component diameter exceeds the cap) — raise MaxSupersteps or " +
        "pre-contract the graph")
    lab
  }
}
