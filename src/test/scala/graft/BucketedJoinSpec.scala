package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.core.GraftSession.withConf

/** The big-big CO-LOCATED join the 100 TB scaladocs lean on (q66/q172/
  * q175: "both sides bucket by doc_id and the join is exchange-free"),
  * demonstrated rather than asserted: two tables bucketed on the SAME
  * key with the SAME bucket count join with ZERO shuffle exchanges —
  * the one join shape where neither side fits a broadcast and a
  * shuffle of either would dominate the stage. Also pins the negative:
  * the same join against an UNBUCKETED side pays the exchange, so the
  * assertion is about the layout, not planner coincidence.
  */
class BucketedJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("two tables bucketed on doc_id join with zero shuffle exchanges; " +
    "the unbucketed control pays the exchange") {
    val d = TestSpark.Sf0001
    val docs = graft.core.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val meta = docs.select(col("doc_id"),
      (col("n_chars") * 2L).as("weight"))
    graft.core.Tables.writeBucketedSorted(docs, "bjs_docs",
      numBuckets = 8, bucketKeys = Seq("doc_id"), sortKeys = Seq("doc_id"))
    graft.core.Tables.writeBucketedSorted(meta, "bjs_meta",
      numBuckets = 8, bucketKeys = Seq("doc_id"), sortKeys = Seq("doc_id"))
    try {
      // broadcast off: force the co-located path to stand on its own
      withConf(spark)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("bjs_docs")
          .join(spark.table("bjs_meta"), "doc_id")
        val p = joined.queryExecution.executedPlan.toString
        assert(!p.contains("Exchange hashpartitioning"), p.take(4000))
        assert(joined.count() ==
          graft.core.Tables.documents(spark, d).count())
        val control = spark.table("bjs_docs").join(meta, "doc_id")
        val pc = control.queryExecution.executedPlan.toString
        assert(pc.contains("Exchange hashpartitioning"), pc.take(4000))
      }
    } finally {
      Seq("bjs_docs", "bjs_meta").foreach(t =>
        graft.queries.RunStore.dropWithLocation(spark, t))
    }
  }
}
