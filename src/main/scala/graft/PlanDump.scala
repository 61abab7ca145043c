package graft

import graft.core.GraftSession

/** Dump `.explain("formatted")` for named queries into per-query text
  * files — the before/after plan evidence for optimization rounds
  * (`plans/r20/<query>_<tag>.txt`). Usage:
  *
  *   sbt "runMain graft.PlanDump <outDir> <tag> [q1,q2,...]"
  *
  * Without a query list it dumps every registered query
  * (`SparkEntry.queries`), in sorted order.
  *
  * Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_CPUS (see `GraftSession.envCpus`) — the bench session's
  * shape, so the dumped plan is the plan the bench actually runs. NOTE:
  * constructing a query executes any construction-time work it does
  * (store builds, streaming runs); for pure-streaming queries the
  * returned frame is just the sink read, so plan evidence for those
  * lives in trigger telemetry instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: PlanDump <outDir> <tag> [q1,q2,...]")
    val Array(outDir, tag) = args.take(2)
    val qs = SparkEntry.queries
    val names = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(qs.keys.toSeq.sorted)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val fn = qs.getOrElse(n, sys.error(s"unknown query $n"))
      val plan = graft.core.CacheScope.withScope {
        fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
