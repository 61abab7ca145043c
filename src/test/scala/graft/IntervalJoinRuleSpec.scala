package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.core.GraftSession.withConf

/** The injected optimizer rule
  * ([[graft.plans.IntervalOverlapJoinRewrite]]): an interval-overlap
  * θ-join written naively plans as a tile EQUI-join — no cartesian, no
  * nested loop — and returns the θ-join's MULTISET of rows exactly,
  * including duplicate intervals, degenerate `start ≥ end` rows, nulls,
  * and extra join conjuncts.
  */
class IntervalJoinRuleSpec extends AnyFunSuite {

  private lazy val spark = graft.core.GraftSession.builder(4)
    .appName("graft-interval-rule")
    .getOrCreate()

  private def fixture() = {
    import spark.implicits._
    val rnd = new scala.util.Random(16016L)
    def rows(n: Int, tag: String) = (0 until n).map { i =>
      val s = rnd.nextInt(50000000).toLong
      val e = s + rnd.nextInt(8000000).toLong - 1000000L // some degenerate
      (i.toLong, s, e, s"$tag$i")
    } ++ Seq(
      (9000L, 1000L, 1000L, s"${tag}ـdeg"),   // empty interval
      (9001L, 5000L, 100L, s"${tag}_rev"),    // reversed
      (9002L, 7000L, 7000000L, s"${tag}_dup"),
      (9003L, 7000L, 7000000L, s"${tag}_dup")) // duplicate interval
    val a = rows(120, "a").toDF("id", "start_ms", "end_ms", "pay")
      // a null interval row: must join to nothing on both paths
      .unionByName(Seq((9100L, Option.empty[Long], Option(5L), "a_null"))
        .toDF("id", "start_ms", "end_ms", "pay"))
    val b = rows(150, "b").toDF("id", "start_ms", "end_ms", "pay")
    (a, b)
  }

  private def overlapJoin(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame) = {
    val bb = b.select(col("id").as("id_b"), col("start_ms").as("sb"),
      col("end_ms").as("eb"), col("pay").as("pay_b"))
    a.join(bb,
        col("start_ms") < col("eb") && col("sb") < col("end_ms") &&
          col("id") =!= col("id_b")) // extra conjunct must be retained
      .select(col("id"), col("id_b"))
  }

  /** The marker-less crisscross path is OPT-IN (round-13 advisory —
    * the Databricks RANGE_JOIN-hint model); these specs exercise it
    * explicitly. The marker path (q161) needs no flag.
    */
  private def withAutodetect[T](body: => T): T =
    withConf(spark)("spark.graft.intervalJoin.autodetect" -> "true")(body)

  test("the θ-join plans as the tile equi-join (Generate + no cartesian " +
    "or nested loop) and matches the rule-disabled multiset exactly — " +
    "duplicates, degenerate intervals, nulls, extra conjuncts included") {
    withAutodetect {
    val (a, b) = fixture()
    val df = overlapJoin(a, b)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("Generate explode"), p.take(3000))
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).map { case (k, v) => (k, v.length) }
    val rewritten = multiset(df.collect())
    val naive = withConf(spark)("spark.graft.intervalJoin.rewrite" -> "false")(
      multiset(overlapJoin(a, b).collect()))
    assert(rewritten.values.sum > 100, "fixture produced too few pairs")
    assert(rewritten == naive)
    }
  }

  test("without the autodetect opt-in, a bare crisscross θ-join is " +
    "left alone — only the explicit marker triggers the rewrite by " +
    "default (round-13 advisory: auto-tiling an SCD-style open-ended " +
    "interval turns a slow join into a hard failure)") {
    val (a, b) = fixture()
    val p = overlapJoin(a, b).queryExecution.executedPlan.toString
    assert(!p.contains("Generate explode"), p.take(3000))
  }

  test("a row spanning more tiles than maxTilesPerRow raises a clear " +
    "error naming the knobs instead of materializing the sequence") {
    withAutodetect {
      import spark.implicits._
      // one open-ended SCD-style interval: ~2.9M hour tiles
      val a = Seq((1L, 0L, 10_500_000_000_000L))
        .toDF("id", "start_ms", "end_ms")
      val b = Seq((2L, 5L, 50L)).toDF("id_b", "sb", "eb")
      val joined = a.join(b,
        col("start_ms") < col("eb") && col("sb") < col("end_ms"))
      val e = intercept[Exception](joined.collect())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      val all = messages(e).mkString("\n")
      assert(all.contains("maxTilesPerRow"), all.take(2000))
    }
  }

  test("a join that already carries a cross-side EQUI-key is left " +
    "alone — the planner has its hash join, tiles would only add " +
    "fan-out") {
    val (a, b) = fixture()
    import org.apache.spark.sql.functions.col
    val bb = b.select(col("id").as("id_b"), col("start_ms").as("sb"),
      col("end_ms").as("eb"))
    // the guard looks at cross-side ATTRIBUTE equalities
    val df2 = a.join(bb,
      col("id") === col("id_b") &&
        col("start_ms") < col("eb") && col("sb") < col("end_ms"))
    assert(!df2.queryExecution.executedPlan.toString
      .contains("Generate explode"))
    df2.collect() // and it still runs
  }

  test("a small tile size multiplies per-row fan-out but never the " +
    "output multiset (the first-tile guard is exact across tilings)") {
    withAutodetect {
      val (a, b) = fixture()
      def run() = overlapJoin(a, b).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val atDefault = run()
      val atSmall =
        withConf(spark)("spark.graft.intervalJoin.tileMs" -> "100000")(run())
      assert(atDefault == atSmall)
    }
  }
}
