package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.GraftSession.withConf
import graft.queries.EventQueries

/** q136's bit-interleave must be the textbook Morton code, and the
  * layout it exists for must actually engage: a zkey predicate over a
  * zkey-sorted file reaches the parquet reader as a pushed filter (the
  * row-group min/max pruning that makes Z-ordering worth a rewrite).
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def morton(bx: Long, by: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((bx >> i) & 1L) << (2 * i)
      z |= ((by >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("q136 zkey equals the scalar Morton interleave of its own " +
    "(bx, by), shard is the top 4 bits, and both dims de-interleave " +
    "back exactly") {
    val rows = EventQueries.queries("q136_zorder_layout")(spark, TestSpark.Sf0001)
      .collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val (bx, by, z, sh) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(z == morton(bx, by), s"event ${r.getLong(0)}")
      assert(sh == (z >> 28))
      // de-interleave: even bits back to bx, odd bits to by
      var (dx, dy) = (0L, 0L)
      (0 until 16).foreach { i =>
        dx |= ((z >> (2 * i)) & 1L) << i
        dy |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(dx == bx && dy == by)
    }
  }

  test("a zkey range predicate over the zkey-sorted layout reaches the " +
    "parquet reader (PushedFilters) — the scan shape row-group pruning " +
    "needs") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    EventQueries.queries("q136_zorder_layout")(spark, TestSpark.Sf0001)
      .orderBy("zkey")
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
      .filter(col("zkey") >= 1000000L && col("zkey") < 2000000L)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(zkey,1000000)"), plan.take(2000))
  }

  test("the pruning is QUANTITATIVE, not just a plan shape: a tile read " +
    "over the zkey-sorted layout scans a small fraction of the store's " +
    "rows (row-group min/max skipping measured via the scan's " +
    "numOutputRows metric)") {
    // small row groups over the sf0.01 layout make skipping observable
    // at test scale — a production 128 MB block is bigger than the
    // whole fixture, and sf0.001's 1000 rows span only ~3 groups
    // (40% granularity floor); 10k rows give ~25
    val dir = java.nio.file.Files.createTempDirectory("zorder_m").toString
    EventQueries.queries("q136_zorder_layout")(spark, "/root/testdata/sf0.01")
      .orderBy("shard", "zkey")
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", 16 * 1024)
      .parquet(dir)
    val total = spark.read.parquet(dir).count()
    // the q140 tile: the lower half of shard 5's key space
    val lo = 5L * 268435456L
    val hi = lo + 134217728L
    // AQE wraps the plan in a leaf AdaptiveSparkPlanExec, hiding the
    // scan node from collect — disable it for this one metric read
    withConf(spark)("spark.sql.adaptive.enabled" -> "false") {
      val tile = spark.read.parquet(dir)
        .filter(col("zkey") >= lo && col("zkey") < hi)
      val kept = tile.count()
      tile.collect()
      val scanned = tile.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
      info(s"zorder tile scan: $scanned of $total rows " +
        f"(${100.0 * scanned / total}%.1f%%), $kept in-tile")
      assert(scanned >= kept)
      // the layout's reason to exist: the scan reads the tile's row
      // groups, not the store — under 20% of rows cross the reader
      assert(scanned * 5 < total, s"scanned=$scanned total=$total")
    }
  }

  test("frozen-grid keying (q146's fold path) SATURATES out-of-grid " +
    "events to the edge tiles instead of shifting keys — the 16-bit " +
    "analog of the int8 coder's edge-bin clamp") {
    import spark.implicits._
    // grid frozen at users [100, 200], ts [1e12, 1e12 + 1e9]
    val grid = Seq((100L, 200L, 1000000000000L, 1000001000000L))
      .toDF("umin", "umax", "tmin", "tmax")
    val ev = Seq(
      (1L, 50L, 1000000500000L),    // user BELOW the grid
      (2L, 999L, 1000000500000L),   // user ABOVE the grid
      (3L, 150L, 999999999000L),    // ts below
      (4L, 150L, 2000000000000L),   // ts above
      (5L, 150L, 1000000500000L))   // in-grid
      .toDF("event_id", "user_id", "ms")
      .select(col("event_id"), col("user_id"),
        timestamp_millis(col("ms")).as("ts"))
    val rows = EventQueries.zorderKeysAgainst(ev, grid)
      .orderBy("event_id").collect()
    val bx = rows.map(_.getLong(1))
    val by = rows.map(_.getLong(2))
    assert(bx(0) == 0L && bx(1) == 65535L)
    assert(by(2) == 0L && by(3) == 65535L)
    assert(bx(4) > 0L && bx(4) < 65535L && by(4) > 0L && by(4) < 65535L)
    // keys stay inside the 32-bit Morton space → shard ∈ [0, 15]
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(3) < (1L << 32))
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 15L)
    }
  }
}
