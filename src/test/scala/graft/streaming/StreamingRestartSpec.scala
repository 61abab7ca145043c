package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.GraftSession.withConf
import graft.queries.StreamingQueries.{ChangelogKey, ProviderKey, RocksDbProvider}

/** Crash-recovery for the checkpointed streaming tiers: a query killed
  * MID-STREAM (an exception out of foreachBatch — the batch is executed
  * but never committed) must, on restart from the same checkpoint,
  * replay the uncommitted batch and finish with a sink identical to a
  * never-crashed run. This is the claim the batchId-addressed sinks and
  * the state checkpoints exist for: exactly-once output and state
  * continuity across a driver death, not merely across graceful stops
  * (q103 covers two clean runs of one lineage; this covers the crash).
  *
  * The machine under test is q181's: the engine's own stateful dedup
  * over the duplicated feed, whose copies are deliberately scattered
  * across micro-batches — so dedup state crossing the crash boundary is
  * load-bearing (a state loss would re-admit a duplicate and change the
  * sink).
  */
class StreamingRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private final class Boom extends RuntimeException("injected crash")

  private def runDedup(ckpt: String, out: String,
      crashAtBatch: Option[Long]): Unit = {
    val deltaPath = graft.queries.StreamingQueries.dupSpool(spark, sf)
    val span = spark.read.parquet(deltaPath)
      .agg(unix_millis(max(col("ts"))) - unix_millis(min(col("ts"))))
      .head().getLong(0)
    val q = spark.readStream
      .schema(spark.read.parquet(deltaPath).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(deltaPath)
      .withWatermark("ts", s"${span + 86400000L} milliseconds")
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (crashAtBatch.contains(batchId)) throw new Boom
        graft.queries.StreamingQueries.writeBatch(batch, out, batchId)
      }
      .start()
    q.awaitTermination()
  }

  private def sinkRows(out: String): Seq[(Long, String)] =
    graft.queries.StreamingQueries.readSink(spark, out)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("crash on an uncommitted batch, restart from the checkpoint: " +
    "the sink equals a clean run's, duplicates stay deduped across " +
    "the crash boundary") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fresh(tag: String): String = {
      val p = new org.apache.hadoop.fs.Path(wh, s"graft_restart_spec_$tag")
      if (fs.exists(p)) fs.delete(p, true)
      p.toString
    }
    val (ckptA, outA) = (fresh("a_ckpt"), fresh("a_out"))
    val (ckptB, outB) = (fresh("b_ckpt"), fresh("b_out"))

    // clean reference run
    runDedup(ckptA, outA, crashAtBatch = None)
    val clean = sinkRows(outA)
    assert(clean.nonEmpty)
    assert(clean.map(_._1) == clean.map(_._1).distinct, "clean run emitted a dup")

    // crashed run: batch 1 executes but never commits
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runDedup(ckptB, outB, crashAtBatch = Some(1L))
    }
    assert(boom.getCause.isInstanceOf[Boom], boom.getCause.toString)
    // the crash genuinely interrupted mid-stream: only batch 0 landed
    val landed = fs.listStatus(new org.apache.hadoop.fs.Path(outB))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    assert(landed == Set("batch_id=0"), landed.toString)

    // restart from the same checkpoint: the uncommitted batch replays
    // (same batchId -> idempotent overwrite), state resumes, the tail runs
    runDedup(ckptB, outB, crashAtBatch = None)
    assert(sinkRows(outB) == clean,
      "restarted run's sink differs from the clean run")
  }

  test("same crash-restart under the RocksDB provider WITH changelog " +
    "checkpointing: state replays from the changelog on restart and " +
    "the sink still equals a clean run's (round-15 verdict #2)") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fresh(tag: String): String = {
      val p = new org.apache.hadoop.fs.Path(wh, s"graft_restart_spec_$tag")
      if (fs.exists(p)) fs.delete(p, true)
      p.toString
    }
    val (ckptA, outA) = (fresh("ra_ckpt"), fresh("ra_out"))
    val (ckptB, outB) = (fresh("rb_ckpt"), fresh("rb_out"))
    withConf(spark)(ProviderKey -> RocksDbProvider,
      ChangelogKey -> "true") {
      runDedup(ckptA, outA, crashAtBatch = None)
      val clean = sinkRows(outA)
      assert(clean.nonEmpty)
      val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runDedup(ckptB, outB, crashAtBatch = Some(1L))
      }
      assert(boom.getCause.isInstanceOf[Boom], boom.getCause.toString)
      runDedup(ckptB, outB, crashAtBatch = None)
      assert(sinkRows(outB) == clean,
        "RocksDB restarted run's sink differs from the clean run")
    }
  }
}
