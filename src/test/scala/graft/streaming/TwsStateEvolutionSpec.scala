package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.GraftSession.withConf
import graft.queries.StreamingQueries.{ProviderKey, RocksDbProvider}

/** V1: one running per-key counter. Top-level for task serialization. */
private[streaming] class EvoCounterV1
    extends StatefulProcessor[String, String, (String, Long, Long)] {
  @transient private var n: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    n = getHandle.getValueState("n", Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[String],
      timerValues: TimerValues): Iterator[(String, Long, Long)] = {
    val t = (if (n.exists()) n.get() else 0L) + rows.size
    n.update(t)
    Iterator.single((key, t, -1L))
  }
  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long, Long)] =
    Iterator.empty
}

/** V2: the SAME query restarted with an ADDED state variable (`batches`,
  * counting micro-batches that touched the key) and V1's counter kept —
  * the state-schema-evolution move a long-lived pipeline ships as a
  * code upgrade against its existing checkpoint.
  */
private[streaming] class EvoCounterV2
    extends StatefulProcessor[String, String, (String, Long, Long)] {
  @transient private var n: ValueState[Long] = _
  @transient private var batches: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    n = getHandle.getValueState("n", Encoders.scalaLong, TTLConfig.NONE)
    batches = getHandle.getValueState("batches", Encoders.scalaLong,
      TTLConfig.NONE)
  }
  override def handleInputRows(key: String, rows: Iterator[String],
      timerValues: TimerValues): Iterator[(String, Long, Long)] = {
    val t = (if (n.exists()) n.get() else 0L) + rows.size
    val b = (if (batches.exists()) batches.get() else 0L) + 1L
    n.update(t)
    batches.update(b)
    Iterator.single((key, t, b))
  }
  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long, Long)] =
    Iterator.empty
}

/** V3: V2 with the ORIGINAL variable retired via `deleteIfExists` — the
  * cleanup half of state evolution (dropping a variable must be
  * explicit, or its column family lingers in every checkpoint).
  */
private[streaming] class EvoCounterV3
    extends StatefulProcessor[String, String, (String, Long, Long)] {
  @transient private var batches: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    batches = getHandle.getValueState("batches", Encoders.scalaLong,
      TTLConfig.NONE)
    getHandle.deleteIfExists("n")
  }
  override def handleInputRows(key: String, rows: Iterator[String],
      timerValues: TimerValues): Iterator[(String, Long, Long)] = {
    val b = (if (batches.exists()) batches.get() else 0L) + 1L
    batches.update(b)
    Iterator.single((key, -1L, b))
  }
  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long, Long)] =
    Iterator.empty
}

/** transformWithState STATE-SCHEMA EVOLUTION across checkpoint restarts
  * (the fourth leg of the TWS surface after q218's typed state +
  * timers, TtlConfigSpec's TTL, q227's initial state): a running
  * pipeline upgrades its processor against the SAME checkpoint —
  * adding a state variable (starts empty, everything else restores),
  * then dropping one (`deleteIfExists`) — without resetting state or
  * replaying history. fMGWS cannot do any of this: its single state
  * tuple's encoder is frozen at first checkpoint.
  */
class TwsStateEvolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("restarting the same checkpoint with an added state variable " +
    "keeps old state (counts continue), the new variable starts empty, " +
    "and a later restart can retire a variable with deleteIfExists") {
    import spark.implicits._
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fresh(tag: String): String = {
      val p = new org.apache.hadoop.fs.Path(wh, s"graft_tws_evo_$tag")
      if (fs.exists(p)) fs.delete(p, true)
      p.toString
    }
    val (spool, ckpt, out) = (fresh("spool"), fresh("ckpt"), fresh("out"))
    def append(keys: String*): Unit =
      keys.toSeq.toDF("k").coalesce(1).write.mode("append").parquet(spool)
    def runWith(proc: StatefulProcessor[String, String,
        (String, Long, Long)]): Unit =
      withConf(spark)(ProviderKey -> RocksDbProvider) {
        val q = spark.readStream
          .schema(spark.read.parquet(spool).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(spool)
          .as[String]
          .groupByKey(identity)
          .transformWithState(proc, TimeMode.None(), OutputMode.Append())
          .toDF("k", "n", "batches")
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.DataFrame, id: Long) =>
              graft.queries.StreamingQueries.writeBatch(b, out, id)
          }
          .start()
        q.awaitTermination()
      }
    def lastRow(): (Long, Long) = {
      val r = graft.queries.StreamingQueries.readSink(spark, out)
        .filter(col("k") === "a").orderBy(col("n").desc, col("batches").desc)
        .head()
      (r.getLong(1), r.getLong(2))
    }
    append("a", "a") // run 1, batch 0
    runWith(new EvoCounterV1)
    assert(lastRow() == (2L, -1L))
    append("a") // run 2 processes only this file
    runWith(new EvoCounterV2)
    // old counter RESTORED (2+1), added variable started empty (0+1)
    assert(graft.queries.StreamingQueries.readSink(spark, out)
      .filter(col("k") === "a" && col("n") === 3L && col("batches") === 1L)
      .count() == 1L)
    append("a") // run 3: V3 retires "n", keeps counting batches
    runWith(new EvoCounterV3)
    assert(graft.queries.StreamingQueries.readSink(spark, out)
      .filter(col("k") === "a" && col("n") === -1L && col("batches") === 2L)
      .count() == 1L)
  }
}
