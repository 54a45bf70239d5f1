package graft.operators

import graft.Retained
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.slf4j.LoggerFactory

/** Connected components by min-label — the production dedup step
  * AFTER near-dup pair verification: pairs form an undirected graph;
  * every document takes the smallest doc id reachable through it (its
  * cluster's canonical survivor).
  *
  * Two paths, one answer. A graph of at most [[LocalBudget]] edges is
  * collected to the driver once (16 bytes per edge, so 4 MB at the
  * budget) and labelled by a union-find; the verified near-dup graphs
  * of the inventory are this size, and one collect replaces the ~16
  * eager jobs of the fixpoint below, whose fixed per-job cost, not data
  * volume, set their time. The labels come back as a local relation,
  * one row per node, which every consumer re-reads: that read, not the
  * union-find, caps the budget. A larger graph runs distributed min-label
  * propagation: each superstep is one shuffle join + partial-aggregated
  * min — the Pregel/GraphFrames CC pattern without the dependency —
  * and the iteration count ≈ component diameter. Near-dup clusters are
  * shallow (dupes of a common ancestor), so it converges in a handful
  * of supersteps at any corpus size; its driver-side work per step is
  * one aggregate (a convergence check), never data collection.
  */
object ConnectedComponents {

  /** Largest edge count labelled on the driver. */
  private[graft] val LocalBudget: Long = 1L << 18

  private val MaxSupersteps = 50
  private val log = LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** @param edgesIn (u, v) pairs, one row per undirected edge; ids
    *        never NULL. Int and Long ids may take the driver path.
    * @return (id, label): label = min id of the component; one row per
    *         id that appears in an edge, of the ids' (widened) type.
    *         Every frame the distributed path persists is registered
    *         with [[graft.Retained]] under the edges' session: the
    *         intermediates are freed as soon as the fixpoint no longer
    *         reads them, and the returned label frame stays persisted
    *         until that session's release.
    */
  def labels(edgesIn: DataFrame): DataFrame = labels(edgesIn, LocalBudget)

  /** [[labels]] with the driver path's edge budget given; 0 takes the
    * distributed path for every non-empty graph.
    */
  private[graft] def labels(edgesIn: DataFrame, localBudget: Long): DataFrame = {
    // materialize the input ONCE before fanning out: the collect or the
    // 4-way union below would otherwise re-run the (possibly expensive)
    // upstream pair pipeline
    val halfRaw = Retained(edgesIn.select(col("u"), col("v")))
    val nEdges = halfRaw.count()
    if (nEdges == 0L) {
      // no edges → no clusters; short-circuit (the Σlabel witness
      // below would read a NULL aggregate off an empty frame)
      Retained.free(halfRaw)
      log.info("connected components: path=empty edges=0 nodes=0")
      return halfRaw.select(col("u").as("id"), col("u").as("label"))
    }
    // the id type both paths return: u and v widened as a union does
    val idType = halfRaw.select(col("u")).union(halfRaw.select(col("v"))).schema.head.dataType
    idType match {
      case IntegerType | LongType if nEdges <= localBudget => local(halfRaw, idType)
      case _ => distributed(halfRaw, nEdges, localBudget)
    }
  }

  /** One collect, then a union-find whose roots are component minima. */
  private def local(halfRaw: DataFrame, idType: DataType): DataFrame = {
    // one primitive array of (u, v) endpoints per partition, or None
    // where a NULL endpoint was seen
    val parts = halfRaw.select(col("u").cast(LongType), col("v").cast(LongType))
      .queryExecution.toRdd.mapPartitions { rows =>
        val b = Array.newBuilder[Long]
        var ok = true
        while (ok && rows.hasNext) {
          val r = rows.next()
          ok = !r.isNullAt(0) && !r.isNullAt(1)
          if (ok) { b += r.getLong(0); b += r.getLong(1) }
        }
        Iterator(Option.when(ok)(b.result()))
      }.collect()
    Retained.free(halfRaw)
    if (parts.contains(None)) throw new IllegalArgumentException(
      "connected components: an edge has a NULL endpoint; ids must be non-NULL")
    val ends = parts.flatten.flatten
    // dense indices in ascending id order: the smaller index is the
    // smaller id, so rooting every union at the smaller index leaves
    // each component's minimum id at its root
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    for (x <- ids) if (n == 0 || ids(n - 1) != x) { ids(n) = x; n += 1 }
    val nodes = java.util.Arrays.copyOf(ids, n)
    val parent = Array.range(0, nodes.length)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (parent(y) != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    var k = 0
    while (k < ends.length) {
      val a = find(java.util.Arrays.binarySearch(nodes, ends(k)))
      val b = find(java.util.Arrays.binarySearch(nodes, ends(k + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      k += 2
    }
    val back: Long => Any = if (idType == IntegerType) _.toInt else identity
    val rows = java.util.Arrays.asList(
      nodes.indices.map(i => Row(back(nodes(i)), back(nodes(find(i))))): _*)
    log.info(s"connected components: path=local edges=${ends.length / 2} nodes=${nodes.length}")
    halfRaw.sparkSession.createDataFrame(rows,
      StructType(Seq(StructField("id", idType), StructField("label", idType))))
  }

  /** Min-label propagation to a fixpoint, one checkpointed superstep at
    * a time.
    */
  private def distributed(halfRaw: DataFrame, nEdges: Long, localBudget: Long): DataFrame = {
    // size-adaptive parallelism (the same runtime re-plan AQE applies
    // to single queries, done here for the iteration): each superstep
    // is a join+agg whose fixed scheduling cost dominates when the
    // verified-pair graph is small — ~100k edges per partition keeps
    // big graphs parallel without paying 32-task churn per superstep
    // on a 25-edge one
    val spark = halfRaw.sparkSession
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 100000L + 1L)).toInt
    val half = Retained(halfRaw.repartition(parts))
    half.count()
    Retained.free(halfRaw)
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
    // superstep instead of a compare join; the same job counts the
    // nodes, which no superstep changes
    def sumLabels(df: DataFrame): (Long, Long) = {
      val r = df.agg(sum(col("label")), count(lit(1))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (sum0, nodes) = sumLabels(lab)
    var prevSum = sum0
    var iter = 0
    var converged = false
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
      val s = sumLabels(next)._1
      converged = s == prevSum
      prevSum = s
      Retained.free(lab)
      lab = next
      iter += 1
    }
    Retained.free(edges)
    Retained.free(half)
    log.info(s"connected components: path=distributed edges=$nEdges nodes=$nodes " +
      s"supersteps=$iter converged=$converged")
    // a silent partial merge would be wrong-but-plausible output; the
    // cap exists only to bound pathological inputs, so overrunning it
    // must fail loudly (project rule: an error beats silently-different)
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within $MaxSupersteps supersteps " +
        s"on $nEdges edges (component diameter exceeds the cap; graphs of at most " +
        s"$localBudget edges are solved on the driver) — raise MaxSupersteps or " +
        "pre-contract the graph")
    lab
  }
}
