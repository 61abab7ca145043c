package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.RunStore

/** The ONE store definition both race processes share — the build
  * derivation must be bit-identical across the JVMs or their
  * fingerprints would differ and the race would never meet.
  */
private[core] object StoreRaceFixture {
  /** Deterministic, mildly expensive build: per-doc band rows over the
    * sf0.001 documents — enough work that two near-simultaneous builds
    * genuinely overlap on the lock, small enough for a test budget.
    */
  val store = new RunStore("graft_race_spec", 4, Seq("band", "bkey"),
    (s: SparkSession, d: String) =>
      Tables.documents(s, d).select(col("doc_id"),
        (col("doc_id") % 4).cast("int").as("band"),
        md5(col("text")).as("bkey")))

  /** The cross-process FOLD fixture: a RunStore-managed (sidecar'd)
    * signature store whose schema is exactly the text admission band
    * derivation, so the parent can run a real admission stream against
    * it while the CHILD process folds into it.
    */
  val foldStore = new RunStore("graft_xfold_spec", 4, Seq("band", "bkey"),
    (s: SparkSession, d: String) =>
      graft.queries.DedupTextQueries.textBandFrame(
        Tables.documents(s, d).select(col("doc_id"), col("text"))))

  /** Order-free digest of the store's served contents. */
  def contentHash(s: SparkSession, d: String): String = {
    val rows = store.table(s, d)
      .select(concat_ws("|", col("doc_id"), col("band"), col("bkey")))
      .as(org.apache.spark.sql.Encoders.STRING)
      .collect().sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Spark 4 on JDK 17 outside spark-submit needs the module opens the
    * build injects for forked test JVMs — the child is forked by US,
    * so it needs its own copy (same list as build.sbt).
    */
  val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
}

/** The second process of [[TwoJvmStoreRaceSpec]]: builds its own
  * SparkSession against the SHARED warehouse, waits for the parent's
  * GO on stdin (so both `ensure` calls race as closely as possible),
  * ensures the shared store, and reports its mode + content hash on
  * stdout for the parent's assertions.
  */
object StoreRaceChild {
  def main(args: Array[String]): Unit = {
    val warehouse = args(0)
    val srcDir = args(1)
    val spark = graft.core.GraftSession.builder(2)
      .appName("graft-store-race-child")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.length > 2 && args(2) == "fold") {
      // FOLD mode (round-11 verdict #3's done-bar): revalidate+register
      // the parent-built store from its sidecar, then fold an admitted
      // doc into it — a mutation the PARENT's StoreEpochs can never
      // see; only the sidecar stamp carries it across the process
      // boundary.
      val Array(_, _, _, docId, text) = args
      import spark.implicits._
      val mode = StoreRaceFixture.foldStore.ensure(spark, srcDir)
      println(s"CHILD_MODE:$mode")
      graft.queries.DedupTextQueries.foldAdmitted(spark,
        StoreRaceFixture.foldStore.tableName(srcDir),
        Seq((docId.toLong, text)).toDF("doc_id", "text"))
      println("CHILD_FOLDED")
      Console.flush()
      spark.stop()
      return
    }
    println("CHILD_READY")
    Console.flush()
    scala.io.StdIn.readLine() // the parent's GO
    val mode = StoreRaceFixture.store.ensure(spark, srcDir)
    val hash = StoreRaceFixture.contentHash(spark, srcDir)
    println(s"CHILD_MODE:$mode")
    println(s"CHILD_HASH:$hash")
    Console.flush()
    spark.stop()
  }
}
