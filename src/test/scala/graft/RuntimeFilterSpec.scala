package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.core.GraftSession.withConf

/** The engine-level sibling of q173's explicit bloom pre-gate: Catalyst's
  * own InjectRuntimeFilter plants a bloom `might_contain` probe on the
  * BIG side of a selective shuffle join, so the probe scan drops
  * non-joining rows before the exchange — the optimizer doing at plan
  * time what q173 builds as a first-class operator. Thresholds are
  * forced only because test-scale stats sit below the production
  * defaults (10 GB application side); the assertion is that the rule
  * fires and the filtered join still returns exactly the unfiltered
  * join's rows.
  */
class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a selective shuffle join gets a bloom runtime filter on the big " +
    "probe side, with identical results") {
    val d = TestSpark.Sf0001
    withConf(spark)(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val big = graft.core.Tables.events(spark, d)
        .select(col("user_id"), col("event_id"), col("value"))
      val small = graft.core.Tables.events(spark, d)
        .filter(col("event_type") === "signup" && col("value") < 50.0)
        .select(col("user_id").as("uid"))
      val joined = big.join(small, col("user_id") === col("uid"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"), optimized.take(4000))
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val control = big.join(small, col("user_id") === col("uid"))
      assert(joined.count() == control.count() && joined.count() > 0,
        "runtime filter must not change the join result")
    }
  }
}
