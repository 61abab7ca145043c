package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.core.GraftSession.withConf
import graft.queries.PlanGateQueries

/** Negative controls for the q278–q280 plan-mechanism gates: each
  * gate's boolean must be capable of going FALSE — a detector that
  * reports "mechanism engaged" unconditionally would green the oracle
  * forever while proving nothing. The positives are held by the
  * oracle rows themselves (CORRECTNESS pins every boolean TRUE); this
  * spec holds the detectors' discriminative power.
  */
class PlanGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("every registered plan gate (q278-q288) runs green at " +
    "sf0.001 with every mechanism boolean TRUE") {
    for ((name, q) <- PlanGateQueries.queries) {
      val df = q(spark, sf)
      val rows = df.collect()
      assert(rows.nonEmpty, s"$name returned no rows")
      // `is_null_group` is a DATA column (one group is legitimately
      // the null group) — the TRUE-pinned columns are the MECHANISM
      // booleans only
      val boolCols = df.schema.fields.filter(
        _.dataType == org.apache.spark.sql.types.BooleanType).map(_.name)
        .filterNot(_ == "is_null_group")
      assert(boolCols.nonEmpty, s"$name has no mechanism booleans")
      for (c <- boolCols; r <- rows)
        assert(r.getBoolean(r.fieldIndex(c)), s"$name.$c is false")
    }
  }

  test("q286's detector is discriminative: a filtered shape and a SUM " +
    "shape both REFUSE the aggregate pushdown (empty PushedAggregation) " +
    "and still answer correctly") {
    val dir = s"$sf/documents.parquet"
    withConf(spark)("spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "") {
      val expected = graft.core.Tables.documents(spark, sf)
        .filter(col("n_chars") >= 400)
        .agg(count(lit(1))).head().getLong(0)
      // filtered COUNT: pushdown must refuse (footer stats cannot
      // answer a row-level predicate), answer must still be right
      val filtered = spark.read.parquet(dir)
        .filter(col("n_chars") >= 400).agg(count(lit(1)).as("n"))
      val desc1 = PlanGateQueries.v2ScanDescription(filtered)
      assert(!desc1.contains("PushedAggregation: [COUNT"),
        s"filtered aggregate unexpectedly pushed: $desc1")
      assert(filtered.head().getLong(0) == expected)
      // SUM: not a footer-answerable aggregate on 4.1.2 — must refuse
      val summed = spark.read.parquet(dir).agg(sum(col("n_chars")).as("s"))
      val desc2 = PlanGateQueries.v2ScanDescription(summed)
      assert(!desc2.contains("PushedAggregation: [SUM"),
        s"SUM unexpectedly pushed: $desc2")
      // and the positive really is v2 + pushed (guards the detector
      // against a silent fall-back to the v1 reader, where the scan
      // census would be empty and agg_pushed trivially false)
      val pushed = spark.read.parquet(dir)
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("mn"))
      val desc3 = PlanGateQueries.v2ScanDescription(pushed)
      assert(desc3.contains("PushedAggregation: [COUNT(*), MIN(n_chars)]"),
        s"expected pushed COUNT/MIN, got: $desc3")
    }
  }

  test("q280's census is discriminative: with exchange reuse DISABLED " +
    "the same self-join runs two distinct shuffles and the gate's " +
    "booleans flip") {
    withConf(spark)("spark.sql.exchange.reuse" -> "false") {
      val df = PlanGateQueries.q280ExchangeReuse(spark, sf)
      val r = df.collect()
      // q280 itself re-enables reuse via withConf for its own run, so
      // drive the census through the raw shape instead: the same
      // self-join built here under reuse=false.
      val agg = graft.core.Tables.documents(spark, sf).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
      withConf(spark)("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
        val joined = agg.as("a")
          .join(agg.withColumnRenamed("n_docs", "n_docs_b").as("b"), "lang")
        joined.collect()
        val plan = joined.queryExecution.executedPlan
        val census = PlanGateQueries.censusForTest(plan)
        assert(census._2 >= 2,
          s"expected >= 2 distinct shuffles with reuse off, got $census\n" +
            plan.toString.take(4000))
        assert(!census._3, s"reuse reported engaged with reuse off: $census")
      }
      // and the registered query, which forces reuse back ON, still
      // reports one distinct shuffle even in a reuse-off session
      assert(r.forall(_.getBoolean(3)), "q280 exchange_reused false")
    }
  }

  test("q278's detector is discriminative: the unbucketed control " +
    "join DOES shuffle below the join (held inside the query as " +
    "control_paid_exchange; here: the bucketed table joined to a " +
    "plain DataFrame)") {
    val df = PlanGateQueries.q278BucketedColocatedJoin(spark, sf)
    val r = df.collect()
    assert(r.forall(_.getBoolean(3)), "colocated join shuffled")
    assert(r.forall(_.getBoolean(4)), "control join did not shuffle")
  }
}
