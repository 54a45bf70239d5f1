package graftbench

/** Turns a traced pass (batch) or round (served path, in-process half)
  * into per-layer metrics. Span times come from the harness's own timers
  * around each public call; job, stage and task counts come from [[Tally]].
  */
object Trace {
  private final case class Exec(jobs: Long, stages: Long, tasks: Long,
      runS: Double, gcS: Double, shuffleMb: Double, spillMb: Double)

  private def exec(t: Tally, tags: Seq[String]): Exec = {
    val cs = tags.map(t.counts)
    def s(f: t.Counts => Long): Long = cs.map(f).sum
    Exec(s(_.jobs.sum), s(_.stages.sum), s(_.tasks.sum),
      s(_.runMs.sum) / 1e3, s(_.gcMs.sum) / 1e3,
      s(_.shuffleWriteBytes.sum) / 1048576.0, s(_.spillBytes.sum) / 1048576.0)
  }

  private def execMetrics(prefix: String, e: Exec, wallS: Double): Seq[(String, Double)] = Seq(
    s"${prefix}exec.s" -> wallS,
    s"${prefix}exec.jobs" -> e.jobs.toDouble,
    s"${prefix}exec.stages" -> e.stages.toDouble,
    s"${prefix}exec.tasks" -> e.tasks.toDouble,
    s"${prefix}exec.shuffle_write_mb" -> e.shuffleMb,
    s"${prefix}exec.spill_mb" -> e.spillMb,
    s"${prefix}exec.task_run_s" -> e.runS,
    s"${prefix}exec.gc_s" -> e.gcS,
    s"${prefix}exec.busy_cores" -> (if (wallS > 0) e.runS / wallS else 0.0))

  def obj(ms: Seq[(String, Double)]): String =
    ms.map { case (k, v) => s"${Common.quote(k)}:${Common.num(v)}" }.mkString("{", ",", "}")

  /** Batch pass: every span of every query, in total and per query set. */
  def batch(t: Tally, sets: Seq[String],
      pass: Seq[(String, String, Option[Batch.Timing])], passWall: Double): String = {
    val layers = Seq("optimize", "plan", "exec", "release")
    def forSets(prefix: String, ss: Seq[String]): Seq[(String, Double)] = {
      val ts = pass.filter(p => ss.contains(p._1)).flatMap(_._3)
      val execWall = ts.map(_.exec).sum
      Seq(
        s"${prefix}pass_s" -> ts.map(_.total).sum,
        s"${prefix}queries.build_s" -> ts.map(_.build).sum,
        s"${prefix}queries.eager_jobs" -> exec(t, ss.map(s => s"$s/build")).jobs.toDouble) ++
        execMetrics(prefix, exec(t, for (s <- ss; l <- layers) yield s"$s/$l"), execWall)
    }
    val ts = pass.flatMap(_._3)
    val all = forSets("", sets).filterNot(_._1 == "pass_s") ++ Seq(
      "ops" -> pass.size.toDouble,
      "catalyst.optimize_s" -> ts.map(_.optimize).sum,
      "catalyst.plan_s" -> ts.map(_.plan).sum,
      "lifecycle.release_s" -> ts.map(_.release).sum,
      "trace.pass_s" -> passWall,
      "trace.layer_share" -> ts.map(_.total).sum / passWall)
    obj(all ++ sets.flatMap(s => forSets(s"$s.", Seq(s))))
  }

  final case class Request(format: String, rows: Long, bytes: Long, rewrite: Double,
      analyze: Double, optimize: Double, plan: Double, encode: Double)

  /** In-process half of a served-path round: per-request means of the
    * calls before the first row, and encoder rates over rows collected
    * beforehand.
    */
  def serve(reqs: Seq[Request], formats: Seq[String]): String = {
    val n = reqs.size.toDouble
    val encode = formats.flatMap { f =>
      val rs = reqs.filter(_.format == f)
      val rows = rs.map(_.rows).sum.toDouble
      val secs = rs.map(_.encode).sum
      Seq(s"encode.${f}_rows_per_s" -> (if (secs > 0) rows / secs else 0.0),
        s"encode.${f}_bytes_per_row" -> (if (rows > 0) rs.map(_.bytes).sum / rows else 0.0))
    }
    obj(Seq(
      "catalyst.optimize_s" -> reqs.map(_.optimize).sum,
      "catalyst.plan_s" -> reqs.map(_.plan).sum,
      "dialect.rewrite_ms" -> reqs.map(_.rewrite).sum / n * 1e3,
      "server.analyze_plan_ms" -> reqs.map(r => r.analyze + r.optimize + r.plan).sum / n * 1e3) ++
      encode)
  }
}
