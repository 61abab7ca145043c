package graft.streaming

import java.time.Duration

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.GraftSession.withConf
import graft.queries.StreamingQueries.{ProviderKey, RocksDbProvider}

/** The transformWithState TTL surface ([[TTLConfig]]): a state variable
  * declared with a TTL silently expires after the configured
  * PROCESSING-TIME duration — the state-hygiene knob production keyed
  * state relies on (q218's gate itself keeps end-of-stream flushing on
  * deterministic event-time timers; TTL is wall-clock and therefore
  * exercised here, not in a replayable hash gate). A control variable
  * with `TTLConfig.NONE` in the same processor must survive the same
  * wait, pinning that the expiry is the TTL's doing.
  */
/** Running per-key count held twice: once under a short TTL, once
  * durable. Emits (key, ttlCount, durableCount) per input row batch.
  * Top-level: a spec-nested processor would capture the suite and fail
  * task serialization.
  */
private[streaming] class TtlCounter(ttlMs: Long)
    extends StatefulProcessor[String, String, (String, Long, Long)] {
  @transient private var ttlCount: ValueState[Long] = _
  @transient private var durCount: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    ttlCount = getHandle.getValueState("ttl_n", Encoders.scalaLong,
      TTLConfig(Duration.ofMillis(ttlMs)))
    durCount = getHandle.getValueState("dur_n", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[String],
      timerValues: TimerValues): Iterator[(String, Long, Long)] = {
    val n = rows.size.toLong
    val t = (if (ttlCount.exists()) ttlCount.get() else 0L) + n
    val d = (if (durCount.exists()) durCount.get() else 0L) + n
    ttlCount.update(t)
    durCount.update(d)
    Iterator.single((key, t, d))
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long, Long)] =
    Iterator.empty
}

class TtlConfigSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a TTL'd ValueState expires between batches while the NONE-TTL " +
    "control in the same processor survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(spark)(ProviderKey -> RocksDbProvider) {
      val source = MemoryStream[String]
      // a TTL'd state makes the engine schedule batches CONTINUOUSLY
      // (shouldRunAnotherBatch stays true so expired entries get
      // evicted even with no input), which means processAllAvailable
      // never settles — poll the sink for the expected row count
      // instead, and pace the no-data batches with a 1 s trigger
      val q = source.toDS()
        .groupByKey(identity)
        .transformWithState(new TtlCounter(ttlMs = 500L),
          TimeMode.ProcessingTime(), OutputMode.Append())
        .writeStream.format("memory").queryName("ttl_spec")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("1 second"))
        .outputMode("append").start()
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (spark.table("ttl_spec").count() < n) {
          q.exception.foreach(throw _)
          if (System.nanoTime() > deadline)
            fail(s"timed out waiting for $n sink rows")
          Thread.sleep(200L)
        }
      }
      source.addData(Seq("a", "a"))
      awaitRows(1L)
      Thread.sleep(3000L) // comfortably past the 500 ms TTL
      source.addData(Seq("a"))
      awaitRows(2L)
      q.stop()
      val rows = spark.table("ttl_spec")
        .as[(String, Long, Long)].collect().sortBy(_._3)
      // batch 1: both counters saw 2; batch 2: the TTL'd one restarted
      // at 1, the durable one reached 3
      assert(rows.toSeq == Seq(("a", 2L, 2L), ("a", 1L, 3L)), rows.toSeq)
    }
  }
}
