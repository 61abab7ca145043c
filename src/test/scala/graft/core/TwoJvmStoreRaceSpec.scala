package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.RunStore

/** The cross-process claims of the [[graft.queries.RunStore]] build
  * lock — winner builds, loser revalidates-and-reuses, one artifact —
  * exercised in TWO REAL JVMs (round-10 verdict #5: RunStoreSpec
  * simulates fresh processes by dropping the in-memory catalog; this
  * spec pays for the real thing once). The child process is
  * [[StoreRaceChild]], launched with this test JVM's own classpath; a
  * stdin GO handshake releases both `ensure` calls as close together
  * as two JVMs allow, and the assertions hold for EVERY interleaving:
  * full overlap serializes on the lock file (loser revalidates the
  * winner's build), no overlap degenerates to build-then-revalidate —
  * either way exactly one "built", one "reused", identical rows.
  */
class TwoJvmStoreRaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("two real JVMs ensuring the same store concurrently: exactly one " +
    "build, one fingerprint reuse, and byte-identical contents") {
    val src = TestSpark.Sf0001
    val store = StoreRaceFixture.store
    val t = store.tableName(src)
    RunStore.dropWithLocation(spark, t)
    store.reset()
    val child = new ProcessBuilder(
      (Seq(System.getProperty("java.home") + "/bin/java") ++
        StoreRaceFixture.jdk17AddOpens ++
        Seq("-Xmx2g",
          "-cp", System.getProperty("java.class.path"),
          "graft.core.StoreRaceChild",
          spark.conf.get("spark.sql.warehouse.dir"), src)): _*)
      .redirectError(ProcessBuilder.Redirect.to(
        java.io.File.createTempFile("store_race_child", ".err")))
      .start()
    try {
      val out = new java.io.BufferedReader(
        new java.io.InputStreamReader(child.getInputStream, "UTF-8"))
      def readUntil(prefix: String): String = {
        var line = out.readLine()
        while (line != null && !line.startsWith(prefix)) line = out.readLine()
        assert(line != null, s"child exited before printing $prefix")
        line.stripPrefix(prefix)
      }
      readUntil("CHILD_READY")
      // release both sides as simultaneously as two processes get
      child.getOutputStream.write("GO\n".getBytes("UTF-8"))
      child.getOutputStream.flush()
      val parentMode = store.ensure(spark, src)
      val childMode = readUntil("CHILD_MODE:")
      val childHash = readUntil("CHILD_HASH:")
      assert(child.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM did not finish")
      assert(child.exitValue() == 0, "child JVM failed — see its stderr file")

      val modes = Seq(parentMode, childMode).sorted
      assert(modes == Seq("built", "reused"),
        s"expected exactly one build and one reuse across the two " +
          s"processes, got parent=$parentMode child=$childMode")
      assert(StoreRaceFixture.contentHash(spark, src) == childHash,
        "both processes must serve the same artifact")
    } finally {
      child.destroyForcibly()
      RunStore.dropWithLocation(spark, t)
      store.reset()
    }
  }

  test("a CHILD-process fold is visible to the parent's RUNNING " +
    "admission stream within one trigger — the sidecar stamp carries " +
    "the invalidation across the process boundary (round-11 verdict " +
    "#3: StoreEpochs is per-JVM; the probe closes the gap) — and " +
    "quiet triggers still pay zero re-resolutions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val src = TestSpark.Sf0001
    val store = StoreRaceFixture.foldStore
    val t = store.tableName(src)
    RunStore.dropWithLocation(spark, t)
    store.reset()
    val novel = "cross process folds must surface through the sidecar " +
      "stamp probe or remote maintenance would be invisible forever"
    var child: Process = null
    try {
      assert(store.ensure(spark, src) == "built")
      val resolutions = new java.util.concurrent.atomic.AtomicInteger(0)
      def countedStore(): org.apache.spark.sql.DataFrame = {
        resolutions.incrementAndGet()
        spark.table(t)
      }
      val source = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Boolean, Long, Long)]
      val q = graft.streaming.StreamingAdmission.admissionQuery(
          source.toDS().toDF("doc_id", "text"), countedStore(),
          java.nio.file.Files.createTempDirectory("xfold_ckpt").toString,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
        (verdicts, _) =>
          got.synchronized {
            got ++= verdicts.collect().map(r => (r.getLong(0),
              r.getBoolean(1), r.getLong(2),
              if (r.isNullAt(3)) -1L else r.getLong(3)))
          }
          ()
      }
      try {
        // batch 1: the novel doc has no store collision — admitted
        source.addData((911001L, novel))
        q.processAllAvailable()
        assert(got.toSeq == Seq((911001L, false, 0L, -1L)))
        // quiet triggers: the sidecar probe must NOT cause re-resolves
        (1 to 2).foreach { i =>
          source.addData((911100L + i, s"quiet unrelated document " +
            s"number $i sharing no shingles with anything else here"))
          q.processAllAvailable()
        }
        val quiet = resolutions.get()
        assert(quiet == 2,
          s"expected 2 resolutions (table collection + first batch), " +
            s"got $quiet — the stamp probe must not thrash the cache")

        // the fold happens in ANOTHER JVM while the stream runs
        child = new ProcessBuilder(
          (Seq(System.getProperty("java.home") + "/bin/java") ++
            StoreRaceFixture.jdk17AddOpens ++
            Seq("-Xmx2g",
              "-cp", System.getProperty("java.class.path"),
              "graft.core.StoreRaceChild",
              spark.conf.get("spark.sql.warehouse.dir"), src,
              "fold", "911001", novel)): _*)
          .redirectError(ProcessBuilder.Redirect.to(
            java.io.File.createTempFile("store_fold_child", ".err")))
          .start()
        val out = new java.io.BufferedReader(
          new java.io.InputStreamReader(child.getInputStream, "UTF-8"))
        def readUntil(prefix: String): String = {
          var line = out.readLine()
          while (line != null && !line.startsWith(prefix)) line = out.readLine()
          assert(line != null, s"child exited before printing $prefix")
          line.stripPrefix(prefix)
        }
        assert(readUntil("CHILD_MODE:") == "reused",
          "the child must revalidate the parent's build, not rebuild it")
        readUntil("CHILD_FOLDED")
        assert(child.waitFor(120, java.util.concurrent.TimeUnit.SECONDS) &&
          child.exitValue() == 0, "fold child failed — see its stderr")

        // the very NEXT trigger must see the child's fold: the
        // re-submitted near-dup is rejected naming the folded doc —
        // and exactly ONE re-resolution was paid for it
        source.addData((911002L, novel))
        q.processAllAvailable()
        assert(got.toSeq.lastOption.contains((911002L, true, 1L, 911001L)),
          s"the child-process fold must be visible to the next " +
            s"micro-batch: $got")
        assert(resolutions.get() == quiet + 1,
          s"the stamp move must cost exactly one re-resolution, got " +
            s"${resolutions.get()} (was $quiet)")
      } finally q.stop()
    } finally {
      if (child != null) child.destroyForcibly()
      RunStore.dropWithLocation(spark, t)
      store.reset()
    }
  }
}
