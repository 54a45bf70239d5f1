package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}

/** Round-15 optimization harness: times the named queries K times each
  * in one session (same methodology as Bench: queryExecution.toRdd.count
  * after a warmup query), printing per-run and min seconds. Iteration
  * tool only — the record stays with graft.Bench.
  *
  * `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 sbt 'runMain graft.tools.MicroBench <k> <query> [query ...]'`
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MicroBench <k> <query> [query ...]")
    val k = args.head.toInt
    val names = args.tail.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.T.all.foreach { t =>
      try graft.T(spark, sfDir, t).queryExecution.toRdd.count()
      catch { case _: Throwable => }
    }
    val qs = SparkEntry.queries
    names.foreach { n =>
      qs.get(n) match {
        case Some(fn) =>
          val times = (1 to k).map { _ =>
            val t0 = System.nanoTime()
            try fn(spark, sfDir).queryExecution.toRdd.count()
            catch { case e: Throwable =>
              System.err.println(s"[micro] $n FAILED: ${e.getMessage}") }
            val dt = (System.nanoTime() - t0) / 1e9
            // r16 (verdict r15 #2): iterations 2+ must not read
            // iteration 1's retained cache — min-of-k is cold-cache
            graft.Retained.release(spark)
            dt
          }
          println(f"[micro] $n%-34s min=${times.min}%8.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
        case None => System.err.println(s"[micro] unknown query: $n")
      }
    }
    spark.stop()
  }
}
