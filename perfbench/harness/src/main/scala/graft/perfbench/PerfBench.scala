package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.{Row, SparkSession}

import graft.GraftExtensions
import graft.SparkEntry
import graft.quakes.{QuakePipeline, QuakeRunner}
import graft.quakes.QuakeModel.QuakeConfig
import graft.queries.RelationalQueries
import graft.sources.{GeoNetHttp, HttpResponse, HttpTransport}

/** The benchmark's JVM side. It sets the engine up several times, runs
  * one untimed warm-up pass, then passes of one workload for the given
  * number of seconds with a single caller, and writes what it saw under
  * `--work`:
  *
  *  - `run.json`: config, set-up repetitions, pass wall times, retained
  *    heap;
  *  - `ops.jsonl`: one record per operation (latency, outcome, and in a
  *    traced run the per-layer figures of that operation);
  *  - `spans.jsonl` (traced run only): every span;
  *  - `posts.jsonl` (quake_tick): each submitted snapshot;
  *  - `dumps/` and `oracle_sql.json` (lake): query results for
  *    the oracle comparison the launcher makes.
  *
  * It measures the engine only from outside: timed calls into public
  * functions, the `HttpTransport` seam it owns, listeners it attaches,
  * and the codegen compile counter.
  */
object PerfBench {

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, cpus: Int, reps: Int,
      queries: Seq[String], ensures: Seq[String])

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def list(k: String) = m.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("cpus").toInt,
      need("reps").toInt, list("queries"), list("ensures"))
  }

  /** Where set-up repetition `r` reads and writes. Each repetition has its
    * own alias of the input tables and its own warehouse and checkpoint
    * root, so every store and spool is built, never reused.
    */
  final case class Dirs(conf: Conf, r: Int) {
    val sf01 = s"${conf.data}/sf0.1/r$r"
    val sf0001 = s"${conf.data}/sf0.001/r$r"
    val warehouse = s"${conf.work}/warehouse$r"
    val checkpoints = s"${conf.work}/checkpoints$r"
  }

  private def newSession(conf: Conf, dirs: Dirs): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions())
      .master(s"local[${conf.cpus}]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", dirs.warehouse)
      .config("spark.sql.streaming.checkpointLocation", dirs.checkpoints)
      .config("spark.local.dir", s"${conf.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` and tells whether it left the session's conf changed.
    * Drift is only counted, never restored: a query that leaks a setting
    * must show in every run.
    */
  private def confDrifted(spark: SparkSession)(body: => Unit): Boolean = {
    val before = spark.conf.getAll
    body
    spark.conf.getAll != before
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args)); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(conf: Conf): Unit = {
    val workload = conf.workload match {
      case "quake_tick" => Workloads.QuakeTick
      case "lake" => Workloads.Lake(conf.queries, conf.ensures)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    new File(conf.work).mkdirs()
    val spans = new Spans
    val ticks = workload match {
      case Workloads.QuakeTick => Ticks.load(conf.data)
      case _ => IndexedSeq.empty[Tick]
    }
    val setups = ArrayBuffer.empty[Map[String, Any]]
    val drift = ArrayBuffer.empty[String]
    var spark: SparkSession = null
    var dirs: Dirs = null

    // ---------------------------------------------------------- set-up
    for (r <- 0 until conf.reps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      dirs = Dirs(conf, r)
      val t0 = spans.nowMs
      spark = newSession(conf, dirs)
      val t1 = spans.nowMs
      def step(label: String)(body: => Unit): Unit =
        if (confDrifted(spark)(body) && r == conf.reps - 1) drift += s"setup:$label"
      step("warmup") {
        RelationalQueries.q02StarRevenue(spark, dirs.sf0001).collect()
        workload match {
          case Workloads.QuakeTick =>
            runTick(spark, ticks.head, new SeamTransport(spans))
          case _ => ()
        }
      }
      val t2 = spans.nowMs
      val stores = workload.ensures.map { case (name, ensure) =>
        val s0 = spans.nowMs
        var mode = ""
        step(s"ensure:$name") { mode = ensure(spark, dirs.sf01) }
        if (mode != "built")
          throw new IllegalStateException(
            s"set-up $r: $name was $mode, not built — the run is not from a clean state")
        name -> (spans.nowMs - s0) / 1000
      }
      val t3 = spans.nowMs
      setups += Map("session_s" -> (t1 - t0) / 1000, "warmup_s" -> (t2 - t1) / 1000,
        "stores_s" -> (t3 - t2) / 1000, "total_s" -> (t3 - t0) / 1000,
        "stores" -> stores.toMap)
    }

    // Untimed, after set-up, in the session the passes use: one pass of the
    // workload's kind of work (each query at sf0.1; the feed's last ticks,
    // which no timed pass reaches), so class loading, JIT, the codegen
    // cache and the session's first-touch reads are done before timed
    // work. Without it the first pass pays them in whichever operations
    // the seed orders first. Set-up time does not include it.
    def warm(label: String)(body: => Unit): Unit =
      if (confDrifted(spark)(body)) drift += s"warm-up:$label"
    workload match {
      case lake: Workloads.Lake =>
        lake.queries.foreach { q =>
          warm(q)(graft.core.CacheScope.withScope(
            SparkEntry.queries(q)(spark, dirs.sf01).collect()))
        }
      case Workloads.QuakeTick =>
        ticks.takeRight(WarmTicks).foreach(t => warm("tick")(runTick(spark, t, new SeamTransport(spans))))
    }

    // ----------------------------------------------------- measurement
    val ops = new PrintWriter(new File(conf.work, "ops.jsonl"), "UTF-8")
    val posts = new PrintWriter(new File(conf.work, "posts.jsonl"), "UTF-8")
    val telemetry = new Telemetry(spark)
    val runner = new Runner(spark, conf, dirs, ticks, spans, telemetry, ops, posts, drift)
    val rng = new scala.util.Random(conf.seed)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    def runPasses(traced: Boolean, budgetS: Double, atLeast: Int): Unit = {
      val start = spans.nowMs
      val walls = ArrayBuffer.empty[Double]
      def elapsed = (spans.nowMs - start) / 1000
      def median = walls.sorted.apply(walls.size / 2)
      while (walls.size < atLeast || elapsed + median / 2 < budgetS) {
        val wall = runner.pass(passes.size, workload.pass(passes.size, rng), traced)
        walls += wall
        passes += Map("pass" -> (passes.size), "traced" -> traced, "wall_s" -> wall)
      }
    }
    if (!conf.trace) runPasses(traced = false, conf.seconds, atLeast = 1)
    else {
      // untraced passes before and after the traced ones give the
      // tracing overhead of this workload
      runPasses(traced = false, 0, atLeast = 1)
      telemetry.attach()
      spans.enabled = true
      runPasses(traced = true, conf.seconds, atLeast = 1)
      spans.enabled = false
      telemetry.detach()
      runPasses(traced = false, 0, atLeast = 1)
    }
    ops.close()
    posts.close()
    runner.writeOracle()

    // retained heap: what the session still holds after full GCs. Spark's
    // context cleaner frees shuffle and broadcast state only after a GC
    // has cleared their references, on its own thread, so GCs half a
    // second apart repeat until the used heap stops falling (at most five)
    def usedHeap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    System.gc()
    var heapUsed = usedHeap
    var settled = false
    var gcs = 1
    while (!settled && gcs < 5) {
      Thread.sleep(500)
      System.gc()
      gcs += 1
      val now = usedHeap
      settled = now >= heapUsed * 0.99
      heapUsed = math.min(heapUsed, now)
    }
    if (conf.trace) {
      val w = new PrintWriter(new File(conf.work, "spans.jsonl"), "UTF-8")
      spans.result.foreach(s => w.println(json.writeValueAsString(s)))
      w.close()
    }
    val run = Map(
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "retained_heap_mb" -> heapUsed / 1048576.0,
      "setups" -> setups.toSeq,
      "passes" -> passes.toSeq,
      "conf_drift" -> drift.toSeq)
    Files.write(Paths.get(conf.work, "run.json"),
      json.writeValueAsString(run).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  // ------------------------------------------------------------ ticks

  /** The in-process GeoNet endpoint and submit target: serves the tick's
    * body, records what the pipeline submits, and times both calls.
    */
  final class SeamTransport(spans: Spans) extends HttpTransport {
    var body = ""
    var getUrl = ""
    var postUrl = ""
    var posted = ""
    var fetchMs = 0.0
    var submitMs = 0.0
    override def get(url: String): HttpResponse = {
      val t0 = spans.nowMs
      val r = spans("sources.fetch") { getUrl = url; HttpResponse(200, "OK", body) }
      fetchMs += spans.nowMs - t0
      r
    }
    override def post(url: String, b: String, contentType: String): HttpResponse = {
      val t0 = spans.nowMs
      val r = spans("sources.submit") { postUrl = url; posted = b; HttpResponse(200, "OK", "") }
      submitMs += spans.nowMs - t0
      r
    }
  }

  /** Feed ticks of the untimed warm-up: enough that the JIT has compiled
    * the tick path before the first timed pass.
    */
  val WarmTicks = 20

  val QuakeEnv: Map[String, String] = Map("MMI" -> "-1", "Max Age Minutes" -> "10080")
  val SubmitUrl = "http://localhost/layer/feature"

  final case class Tick(nowMs: Long, body: String)

  object Ticks {
    def load(data: String): IndexedSeq[Tick] = {
      val lines = Files.readAllLines(Paths.get(data, "ticks.jsonl"), StandardCharsets.UTF_8)
      val out = ArrayBuffer.empty[Tick]
      lines.forEach { l =>
        val n = json.readTree(l)
        out += Tick(n.get("now_ms").asLong, n.get("body").asText)
      }
      out.toIndexedSeq
    }
  }

  /** One `QuakeRunner.run` with the tick's clock and body. */
  def runTick(spark: SparkSession, tick: Tick, t: SeamTransport): Long = {
    t.body = tick.body
    QuakeRunner.run(spark, QuakeEnv, SubmitUrl, t, tick.nowMs, _ => ())
  }

  /** The same tick as [[runTick]], call by call, so each public function
    * of the pipeline gets its own span. Besides the call times it records
    * the pipeline's own figures: `quakes.features_in`, the features in the
    * body the pipeline fetched, and `quakes.features_out`, the count
    * `snapshot` returned.
    */
  def runTickTraced(spark: SparkSession, tick: Tick, t: SeamTransport,
      spans: Spans, times: scala.collection.mutable.Map[String, Double],
      counts: scala.collection.mutable.Map[String, Double]): Long = {
    def timed[T](name: String)(body: => T): T = {
      val t0 = spans.nowMs
      try spans(name)(body) finally times(name) = spans.nowMs - t0
    }
    t.body = tick.body
    val cfg = QuakeConfig.fromEnv(QuakeEnv)
    val body = GeoNetHttp.fetchBody(t, cfg.mmi)
    counts("quakes.features_in") = json.readTree(body).get("features").size.toDouble
    val features = timed("quakes.parse")(QuakePipeline.parseFeatureCollection(spark, body))
    val cot = timed("quakes.transform")(QuakePipeline.transform(features, cfg, tick.nowMs))
    val (fc, n) = timed("quakes.snapshot")(QuakePipeline.snapshot(cot))
    counts("quakes.features_out") = n.toDouble
    GeoNetHttp.submit(t, SubmitUrl, fc)
    n
  }

  // ----------------------------------------------------------- runner

  /** Runs passes of operations and records each one. */
  final class Runner(spark: SparkSession, conf: Conf, dirs: Dirs, ticks: IndexedSeq[Tick],
      spans: Spans, telemetry: Telemetry, ops: PrintWriter, posts: PrintWriter,
      drift: ArrayBuffer[String]) {
    private val transport = new SeamTransport(spans)
    /** Digest of each query's first result, so later results are compared
      * without the harness holding the rows (they would count as retained
      * heap).
      */
    private val firstRows = scala.collection.mutable.Map.empty[String, String]
    private var opCount = 0
    private var triggerMs: Seq[Long] = Nil

    /** Runs one pass; returns its wall time in seconds. */
    def pass(n: Int, pass: Seq[Op], traced: Boolean): Double = {
      var wall = 0.0
      pass.foreach { op => wall += run(n, op, traced) }
      wall / 1000
    }

    /** Runs one operation; returns its latency in ms. */
    private def run(passNo: Int, op: Op, traced: Boolean): Double = {
      opCount += 1
      spans.op = opCount
      if (traced) telemetry.drain()
      // read outside the timed region, unlike confDrifted
      val confBefore = spark.conf.getAll
      val compiles0 = SparkInternals.codegenCompiles
      val times = scala.collection.mutable.Map.empty[String, Double]
      val counts = scala.collection.mutable.Map.empty[String, Double]
      var error: Option[String] = None
      var rows: Array[Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      transport.fetchMs = 0; transport.submitMs = 0
      val t0 = spans.nowMs
      spans(s"op:${op.name}") {
        try op match {
          case TickOp(i) =>
            if (i >= ticks.size)
              throw new IllegalStateException(s"the feed has no tick $i")
            if (traced) runTickTraced(spark, ticks(i), transport, spans, times, counts)
            else runTick(spark, ticks(i), transport)
          case QueryOp(q) =>
            val fn = SparkEntry.queries(q)
            graft.core.CacheScope.withScope {
              val b0 = spans.nowMs
              val df = spans("queries.build")(fn(spark, dirs.sf01))
              val b1 = spans.nowMs
              rows = spans("exec.action")(df.collect())
              times("queries.build") = b1 - b0
              times("exec.action") = spans.nowMs - b1
              schema = df.schema
            }
        } catch {
          case NonFatal(e) =>
            error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      }
      val latency = spans.nowMs - t0
      val compiles = SparkInternals.codegenCompiles - compiles0
      val drifted = spark.conf.getAll != confBefore
      if (drifted) drift += s"op:${op.name}"
      val rec = scala.collection.mutable.LinkedHashMap[String, Any](
        "op" -> opCount, "pass" -> passNo, "name" -> op.name, "traced" -> traced,
        "latency_ms" -> latency, "error" -> error.orNull)
      op match {
        case TickOp(i) =>
          rec("tick") = i
          if (error.isEmpty)
            posts.println(json.writeValueAsString(Map("op" -> opCount, "tick" -> i,
              "get_url" -> transport.getUrl, "post_url" -> transport.postUrl,
              "body" -> transport.posted)))
        case QueryOp(q) if error.isEmpty =>
          rec("rows") = rows.length
          rec("dump") = check(q, rows, schema).orNull
        case _ => ()
      }
      if (traced) {
        rec("layers") = layers(op, times, compiles, rows) ++ counts
        rec("trigger_ms") = triggerMs
      }
      ops.println(json.writeValueAsString(rec))
      latency
    }

    /** Keeps the first result of each query for the oracle; a later result
      * that differs from it is kept too. Returns the dump directory name
      * when this result was written.
      */
    private def check(q: String, rows: Array[Row],
        schema: org.apache.spark.sql.types.StructType): Option[String] = {
      val sha = java.security.MessageDigest.getInstance("SHA-256")
      rows.iterator.map(_.toString).toSeq.sorted
        .foreach(r => sha.update((r + "\n").getBytes(StandardCharsets.UTF_8)))
      val canon = sha.digest().map("%02x".format(_)).mkString
      val dump = firstRows.get(q) match {
        case None => firstRows(q) = canon; Some(q)
        case Some(first) if first == canon => None
        case Some(_) => Some(s"${q}__op$opCount")
      }
      dump.foreach { d =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(s"${conf.work}/dumps/$d")
      }
      dump
    }

    /** Per-layer figures of the operation that just ended, from the
      * listener window and the spans, with the listener-derived spans
      * (jobs, stages, triggers) attached under the span they ran in.
      */
    private def layers(op: Op, times: scala.collection.Map[String, Double],
        compiles: Long, rows: Array[Row]): Map[String, Double] = {
      val w = telemetry.drain()
      triggerMs = w.triggers.map(_.durMs)
      val id = spans.op
      val opSpan = spans.of(id, s"op:${op.name}").head
      val build = spans.of(id, "queries.build").headOption
      val action = spans.of(id, "exec.action").headOption
        .orElse(spans.of(id, "quakes.snapshot").headOption)
      def inside(s: Option[Span], t: Long) =
        s.exists(x => t.toDouble >= x.startMs - 1 && t.toDouble <= x.endMs + 1)
      // triggers run inside the registry call; a job started during a
      // trigger is that trigger's child
      val triggerSpans = w.triggers.map { t =>
        val start = t.startMs.toDouble
        val end = (t.startMs + t.durMs).toDouble
        Span(spans.add(build.getOrElse(opSpan).id, "stream.trigger", start, end),
          build.getOrElse(opSpan).id, id, "stream.trigger", start, end)
      }
      val jobParent = w.jobs.map { j =>
        val parent = triggerSpans.find(t => inside(Some(t), j.startMs))
          .orElse(action.filter(_ => inside(action, j.startMs)))
          .orElse(build.filter(_ => inside(build, j.startMs)))
          .getOrElse(opSpan)
        j.id -> (parent, spans.add(parent.id, "exec.job", j.startMs.toDouble, j.endMs.toDouble))
      }.toMap
      val stageJob = w.jobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
      w.stages.foreach { s =>
        stageJob.get(s.id).flatMap(jobParent.get).foreach { case (_, jobSpan) =>
          spans.add(jobSpan, "exec.stage", s.submitMs.toDouble, s.endMs.toDouble)
        }
      }
      // eager jobs: launched by the registry call itself, not by the
      // caller's action (a streaming query's triggers included)
      val eager = jobParent.values.count { case (p, _) => !action.contains(p) && p != opSpan }
      def phase(k: String) = w.phases.map(_.getOrElse(k, 0.0)).sum
      def part(k: String) = w.triggers.map(_.parts.getOrElse(k, 0L)).sum.toDouble
      val out = scala.collection.mutable.Map[String, Double](
        "catalyst.analysis_ms" -> phase("analysis"),
        "catalyst.optimization_ms" -> phase("optimization"),
        "catalyst.planning_ms" -> phase("planning"),
        "codegen.compiles" -> compiles.toDouble,
        "exec.jobs" -> w.jobs.size.toDouble,
        "exec.stages" -> w.stages.size.toDouble,
        "exec.result_rows" -> Option(rows).map(_.length.toDouble).getOrElse(0.0),
        "trace.bus_timeouts" -> (if (w.timedOut) 1.0 else 0.0))
      out ++= w.counters
      times.foreach { case (k, v) => out(s"${k}_ms") = v }
      op match {
        case _: TickOp =>
          out("sources.fetch_ms") = transport.fetchMs
          out("sources.submit_ms") = transport.submitMs
          // the snapshot is the tick's one action
          out("exec.action_ms") = times.getOrElse("quakes.snapshot", 0.0)
        case _: QueryOp =>
          out("queries.eager_jobs") = eager.toDouble
      }
      if (w.triggers.nonEmpty) {
        out("stream.triggers") = w.triggers.size.toDouble
        out("stream.empty_triggers") = w.triggers.count(_.inputRows == 0).toDouble
        out("stream.latest_offset_ms") = part("latestOffset")
        out("stream.get_batch_ms") = part("getBatch")
        out("stream.query_planning_ms") = part("queryPlanning")
        out("stream.add_batch_ms") = part("addBatch")
        out("stream.wal_commit_ms") = part("walCommit")
        out("stream.commit_offsets_ms") = part("commitOffsets")
        out("stream.input_rows") = w.triggers.map(_.inputRows).sum.toDouble
        out("state.commit_ms") = w.triggers.map(_.stateCommitMs).sum.toDouble
        out("state.rows_total") = w.triggers.map(_.stateRows).max.toDouble
        out("state.memory_bytes") = w.triggers.map(_.stateMemBytes).max.toDouble
      }
      out.toMap
    }

    /** The DuckDB oracle SQL of every query this run dumped. */
    def writeOracle(): Unit = {
      val sql = firstRows.keys.toSeq.sorted
        .flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
      Files.write(Paths.get(conf.work, "oracle_sql.json"),
        json.writeValueAsString(sql).getBytes(StandardCharsets.UTF_8))
    }
  }
}
