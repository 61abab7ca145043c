package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.GraftSession.withConf
import graft.queries.StreamingQueries.{ProviderKey, RocksDbProvider}

/** One attribution input event for the parity runs. */
case class AttrEv(user_id: Long, ts: Timestamp, event_id: Long,
    event_type: String)

/** q218's port seam: [[StreamingAttributionTws]] (transformWithState,
  * RocksDB) must attribute EXACTLY like [[StreamingAttribution]]
  * (flatMapGroupsWithState, default provider) — same pure kernel by
  * construction, so what this spec holds is the PROTOCOL around it:
  * the typed-state round trip, the eviction-watermark stance, and the
  * re-armed event-time timer standing in for fMGWS's timeout.
  *
  *  - leg 1 (pure, 500 randomized arrival orders): the TWS fold
  *    ([[StreamingAttributionTws.foldBatch]] + flush) replays the
  *    StreamingAttributionSpec property verbatim — every batching of
  *    every order attributes exactly as the full log.
  *  - leg 2 (real engines): both operators run end-to-end over the
  *    same randomized multi-user MemoryStream batches; outputs must be
  *    identical row sets, and both must equal the brute-force batch
  *    attribution.
  */
class TwsAttributionParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val W = 120L // lookback window for the trials

  /** Brute-force q156 semantics over one user's full log. */
  private def expected(uid: Long, events: Seq[(Long, Long, Int)])
      : Seq[AttributionRow] = {
    val touches = events.collect { case (ms, id, t) if t <= 1 => (ms, id) }
    events.collect { case (ms, id, 2) => (ms, id) }.sorted.map { p =>
      val cands = touches.filter(t =>
        t._1 < p._1 || (t._1 == p._1 && t._2 < p._2))
      if (cands.isEmpty) AttributionRow(uid, p._2, None, None)
      else {
        val t = cands.max
        if (p._1 - t._1 <= W)
          AttributionRow(uid, p._2, Some(t._2), Some(p._1 - t._1))
        else AttributionRow(uid, p._2, None, None)
      }
    }
  }

  test("500 randomized watermark-consistent arrival orders through the " +
    "TWS fold: foldBatch + flush attribute every purchase exactly as " +
    "the full log, whatever the batching") {
    val rnd = new scala.util.Random(218218L)
    val types = Array("view", "click", "purchase", "other")
    for (_ <- 1 to 500) {
      val n = 1 + rnd.nextInt(25)
      val events = (0 until n).map(i =>
        (rnd.nextInt(500).toLong + 1L, i.toLong, rnd.nextInt(4)))
      val want = expected(9L, events)
      val order = rnd.shuffle(events)
      val cuts = order.grouped(1 + rnd.nextInt(5)).toSeq
      var wm = Long.MinValue
      var best = (Long.MinValue, Long.MinValue)
      var touches = Seq.empty[(Long, Long)]
      var pending = Seq.empty[(Long, Long)]
      var seen = Long.MinValue
      val out = Seq.newBuilder[AttributionRow]
      cuts.zipWithIndex.foreach { case (batch, i) =>
        val future = cuts.drop(i).flatten
        val bound = if (future.isEmpty) Long.MaxValue
          else future.map(_._1).min
        wm = math.max(wm, bound - rnd.nextInt(3))
        val rows = batch.iterator.map { case (ms, id, t) =>
          (9L, new Timestamp(ms), id, types(t)) }
        val (emitted, nb, nt, np, ns) = StreamingAttributionTws
          .foldBatch(9L, best, touches, pending, seen, rows, wm, W)
        out ++= emitted
        best = nb; touches = nt; pending = np; seen = ns
      }
      out ++= StreamingAttributionTws.flush(9L, best, touches, pending, W)
      val got = out.result().sortBy(_.purchase_id)
      assert(got == want.sortBy(_.purchase_id),
        s"events=$events order=$order")
    }
  }

  /** Run one implementation end-to-end over the given batches; the
    * trailing sentinel batch advances the watermark past everything so
    * pending verdicts flush before the stream stops.
    */
  private def run(
      impl: (DataFrame, Long, String, Long) => Dataset[AttributionRow],
      name: String, batches: Seq[Seq[AttrEv]], sentinelUid: Long)
      : Set[AttributionRow] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[AttrEv]
    // ttl = 600 ms: the flush timer lands at lastSeen+600 ≈ 1 s, far
    // below the sentinel-driven final watermark (≈ 99.4 s), so the
    // end-of-stream timeout/timer FIRES in the trailing no-data batch
    // — the q100 sentinel discipline in miniature
    val q = impl(source.toDF(), W, "600 milliseconds", 600L)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b => source.addData(b); q.processAllAvailable() }
    q.processAllAvailable() // the watermark-advance no-data batch
    q.stop()
    spark.table(name).as[AttributionRow].collect().toSet
      .filter(_.user_id != sentinelUid)
  }

  test("real engines, 3 randomized multi-user spools: transformWithState " +
    "under RocksDB and flatMapGroupsWithState under the default provider " +
    "emit identical attribution tables, both equal to the batch truth") {
    val rnd = new scala.util.Random(421L)
    val types = Array("view", "click", "purchase", "other")
    for (trial <- 1 to 3) {
      val users = 1 + rnd.nextInt(4)
      val perUser = (1 to users).map { u =>
        val n = 3 + rnd.nextInt(12)
        u.toLong -> (0 until n).map(i =>
          (rnd.nextInt(400).toLong + 1L, u * 1000L + i, rnd.nextInt(4)))
      }
      val all = rnd.shuffle(perUser.flatMap { case (u, evs) =>
        evs.map { case (ms, id, t) =>
          AttrEv(u, new Timestamp(ms), id, types(t)) } })
      // disorder bounded by the 600 ms watermark delay: the delay
      // covers the full 400 ms span, so ANY order is admissible
      val batches = all.grouped(1 + rnd.nextInt(6)).toSeq :+
        Seq(AttrEv(-1L, new Timestamp(100000L), -1L, "sentinel"))
      val fmgws = run(StreamingAttribution.attribute,
        s"parity_fmgws_$trial", batches, -1L)
      val tws = withConf(spark)(ProviderKey -> RocksDbProvider) {
        run(StreamingAttributionTws.attribute,
          s"parity_tws_$trial", batches, -1L)
      }
      val want = perUser.flatMap { case (u, evs) => expected(u, evs) }.toSet
      assert(tws == fmgws, s"trial=$trial tws vs fmgws")
      assert(tws == want, s"trial=$trial tws vs batch truth")
    }
  }

  test("initial-state bootstrap across a batch/stream seam: the seeded " +
    "live stream's verdicts equal the full-log truth for live purchases " +
    "(q227's machine, randomized)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(227227L)
    val types = Array("view", "click", "purchase", "other")
    for (trial <- 1 to 3) {
      val users = 1 + rnd.nextInt(4)
      val perUser = (1 to users).map { u =>
        val n = 6 + rnd.nextInt(12)
        u.toLong -> (0 until n).map(i =>
          (rnd.nextInt(400).toLong + 1L, u * 1000L + i, rnd.nextInt(4)))
      }
      val cut = 200L
      // per-user maximum backfill touch: the operator's domination
      // argument says this one row is the whole backfill's state
      val seed = perUser.flatMap { case (u, evs) =>
        val touches = evs.collect {
          case (ms, id, t) if t <= 1 && ms < cut => (ms, id) }
        if (touches.isEmpty) None
        else { val b = touches.max; Some((u, b._1, b._2)) }
      }.toDF("user_id", "best_ms", "best_id")
      val live = rnd.shuffle(perUser.flatMap { case (u, evs) =>
        evs.collect { case (ms, id, t) if ms >= cut =>
          AttrEv(u, new Timestamp(ms), id, types(t)) } })
      val batches = live.grouped(1 + rnd.nextInt(5)).toSeq :+
        Seq(AttrEv(-1L, new Timestamp(100000L), -1L, "sentinel"))
      val got = withConf(spark)(ProviderKey -> RocksDbProvider) {
        run((ev, w, delay, ttl) => StreamingAttributionTws
          .attributeBootstrapped(ev, seed, w, delay, ttl),
          s"parity_boot_$trial", batches, -1L)
      }
      // truth: full-log attribution, restricted to LIVE purchases
      val want = perUser.flatMap { case (u, evs) =>
        expected(u, evs).filter { r =>
          evs.exists(e => e._2 == r.purchase_id && e._1 >= cut) }
      }.toSet
      assert(got == want, s"trial=$trial bootstrapped vs full-log truth")
    }
  }
}
