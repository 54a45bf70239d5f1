package graft

import org.apache.spark.sql.SparkSession

/** One shared tuned session for the whole test run, built with the
  * `ParamLiterals` planner rule as `ServerMain`'s is, so every suite runs
  * through parameterized literals.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder()
      .withExtensions(ParamLiterals.inject)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  val sf = "/root/testdata/sf0.001"
}
