package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.GraftSession.withConf

/** The statistics-driven planning decision q225's hash gate cannot hold
  * (plan shape, not data): with `spark.sql.cbo.enabled` and column
  * statistics present, a selective filter's estimated output drops
  * below the broadcast threshold and the join plans as
  * BroadcastHashJoin; without CBO the size-only estimator passes the
  * full relation size through the Filter and the same query plans as a
  * shuffle join. This is the 100 TB-relevant decision: at scale the
  * optimizer can only learn "this side is small AFTER the filter" from
  * ANALYZE'd statistics.
  *
  * AQE is disabled for the assertion — AQE re-plans from RUNTIME sizes
  * and would rescue the broadcast at execution time; the point here is
  * what the COST-BASED planner decides up front (on a real cluster the
  * up-front decision shapes the whole stage DAG and AQE only patches
  * within it).
  */
class CboPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def joins(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] =
    plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        "broadcast"
      case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        "sortmerge"
      case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        "shuffledhash"
    }

  test("column stats flip the filtered fact side to a broadcast join " +
    "under CBO; without CBO the size-only estimator keeps it shuffled") {
    val fact = "graft_cbo_spec_fact"
    val dim = "graft_cbo_spec_dim"
    RunStore.dropWithLocation(spark, fact)
    RunStore.dropWithLocation(spark, dim)
    import spark.implicits._
    // md5 payload kills compression so the FILE size (the only thing
    // the size-only estimator sees through a Filter) stays well above
    // the broadcast threshold, while the filter's true output is ~100
    // tiny rows
    spark.range(1L, 200001L).toDF("k")
      .select(col("k"), md5(col("k").cast("string")).as("payload"))
      .write.saveAsTable(fact)
    // the join condition INFERS the filter onto dim too, so dim's file
    // size must also exceed the threshold or the size-only estimator
    // would broadcast it anyway and the flip would prove nothing
    spark.range(1L, 30001L).toDF("k")
      .select(col("k"), md5(col("k").cast("string")).as("dpay"))
      .write.saveAsTable(dim)
    spark.sql(s"ANALYZE TABLE $fact COMPUTE STATISTICS")
    spark.sql(s"ANALYZE TABLE $fact COMPUTE STATISTICS FOR COLUMNS k")
    spark.sql(s"ANALYZE TABLE $dim COMPUTE STATISTICS")
    spark.sql(s"ANALYZE TABLE $dim COMPUTE STATISTICS FOR COLUMNS k")
    val factSize = new java.io.File(
      new java.net.URI(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(fact))
        .location.toString))
      .listFiles().filter(_.getName.startsWith("part-")).map(_.length).sum
    val threshold = 256L * 1024
    assert(factSize > threshold,
      s"fixture too small to discriminate: fact files $factSize bytes")
    val dimSize = new java.io.File(
      new java.net.URI(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(dim))
        .location.toString))
      .listFiles().filter(_.getName.startsWith("part-")).map(_.length).sum
    assert(dimSize > threshold,
      s"fixture too small to discriminate: dim files $dimSize bytes")
    def plan() = spark.table(fact)
      .filter(col("k") <= 100L) // ~100 of 200k rows: stats know this
      .join(spark.table(dim), Seq("k"))
      .queryExecution.executedPlan
    withConf(spark)("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString,
      "spark.sql.cbo.enabled" -> "false") {
      assert(joins(plan()) == Seq("sortmerge"),
        s"without CBO expected a shuffle join, got: ${plan()}")
    }
    withConf(spark)("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString,
      "spark.sql.cbo.enabled" -> "true") {
      assert(joins(plan()) == Seq("broadcast"),
        s"with CBO + column stats expected a broadcast join, got: ${plan()}")
    }
    RunStore.dropWithLocation(spark, fact)
    RunStore.dropWithLocation(spark, dim)
  }

  test("CBO propagates the ANALYZE row count into plan costing " +
    "(q225's plan_row_count leg, asserted at the API seam)") {
    val t = "graft_cbo_spec_rc"
    RunStore.dropWithLocation(spark, t)
    import spark.implicits._
    spark.range(0L, 777L).toDF("k").write.saveAsTable(t)
    spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
    withConf(spark)("spark.sql.cbo.enabled" -> "true") {
      assert(spark.table(t).queryExecution.optimizedPlan.stats.rowCount
        .contains(BigInt(777)))
    }
    RunStore.dropWithLocation(spark, t)
  }

  test("CostBasedJoinReorder flips q276's worst-textual-order star: " +
    "parse order keeps the fact table's join FIRST, cost order joins " +
    "the filtered dims first and the fact LAST") {
    val sf = TestSpark.Sf0001
    // q276's own build (ANALYZE'd catalog tables) — run it once so the
    // tables exist with stats, and its gate column says reorder engaged
    val gate = RelationalQueries
      .queries("q276_cbo_join_reorder")(spark, sf).collect()
    assert(gate.nonEmpty && gate.forall(_.getAs[Boolean]("fact_joined_last")))
    def t(x: String) = RunStore.tableName(s"graft_cbojr_$x", sf)
    val text =
      s"""SELECT n_name, COUNT(*) AS n FROM
         |${t("li")}, ${t("or")}, ${t("cu")}, ${t("na")}
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND c_nationkey = n_nationkey AND c_custkey < 15
         |GROUP BY n_name""".stripMargin
    def leafOrder(reorder: String): Seq[String] =
      withConf(spark)("spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> reorder) {
        spark.sql(text).queryExecution.optimizedPlan.collectLeaves()
          .map(_.toString)
          .map(l => Seq("li", "or", "cu", "na")
            .find(x => l.contains(t(x))).getOrElse("?"))
      }
    val parseOrder = leafOrder("false")
    val costOrder = leafOrder("true")
    assert(parseOrder.head == "li",
      s"without reorder the textual order must stand: $parseOrder")
    assert(costOrder.last == "li",
      s"cost order must join the fact table last: $costOrder")
    assert(costOrder.take(2).toSet == Set("cu", "na"),
      s"cost order must start from the filtered dims: $costOrder")
  }
}
