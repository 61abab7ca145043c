package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession.withConf

/** AQE skew-join handling — the AUTOMATIC counterpart to q58's manual
  * salting and q185's skew audit: when one join key carries a grossly
  * disproportionate share of rows, AQE's OptimizeSkewedJoin must split
  * the hot partition at runtime instead of letting one task own it.
  * The engine's 100 TB posture is "measure (q185), salt explicitly
  * where the key is known hot (q58), and let AQE catch the rest" —
  * this spec proves the third leg actually engages on this build and
  * that the split changes no rows.
  *
  * Thresholds are tuned down so test-scale data crosses them; at
  * production scale the defaults (256 MB) play the same role.
  */
class AqeSkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("OptimizeSkewedJoin splits the hot key's partition and the " +
    "answer matches the unsplit join") {
    import spark.implicits._
    // 200k rows on ONE key + 2k spread over 200 keys: the hot
    // partition is ~100x the median, far past the 2x/10kB test bars
    val left = spark.range(0, 202000).select(
      when(col("id") < 200000, 0L).otherwise(col("id") % 200 + 1)
        .as("k"),
      col("id").as("v"))
    val right = (0L to 200L).toDF("k")
      .withColumn("w", col("k") * 10)
    def run() = left.join(right, "k")
      .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      .collect()(0)
    val plain = run()
    val (skewed, plan) = withConf(spark)(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10k",
      // no broadcast: the skew path exists for the shuffle join
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      val row = df.collect()(0)
      (row, df.queryExecution.executedPlan.toString)
    }
    assert(plan.contains("isFinalPlan=true"), plan.take(500))
    // the executed SMJ must be marked skew-handled
    assert(plan.contains("skew=true"), plan.take(4000))
    assert(skewed == plain, s"skew split changed the answer: $skewed vs $plain")
  }
}
