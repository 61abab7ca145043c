package graft
import graft.core.GraftSession

/** Measurement harness for the streaming tier (optimization guide §1:
  * measure first). Runs the queries named in SPARK_GRAFT_ONLY (or args)
  * exactly like Bench does, but prints every StreamingQueryProgress's
  * full JSON — durationMs split (queryPlanning / addBatch / walCommit /
  * commitOffsets / latestOffset) and stateOperators commit metrics —
  * so per-trigger wall-clock can be attributed to planning vs state
  * I/O vs sink work instead of guessed at. Diagnostic only: never run
  * by the driver, writes no artifacts.
  */
object TriggerProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          println("[progress] " + e.progress.json)
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else sys.env.get("SPARK_GRAFT_ONLY").toSeq.flatMap(_.split(",").map(_.trim))
    val qs = SparkEntry.queries
    names.foreach { n =>
      val fn = qs.getOrElse(n, sys.error(s"unknown query $n"))
      val t0 = System.nanoTime()
      graft.core.CacheScope.withScope { fn(spark, sfDir).count() }
      println(f"[profile] $n total=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
