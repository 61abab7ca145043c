package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.GraftExtensions
import graft.SparkEntry
import graft.queries.RelationalQueries

/** One pass over the whole query registry, the measurement the `lake`
  * workload's query subset is drawn from (`perfbench/sweep.py` runs it).
  *
  * For every registry query it records, in `sweep.jsonl` under `--work`:
  *
  *  - `build_ms`: the registry call that returns the DataFrame, at sf0.1;
  *  - `action_ms`: computing every row of that DataFrame, none collected;
  *  - `triggers`: streaming triggers fired inside the call (a streaming
  *    query drains its spool there), and `stateful_triggers`: those that
  *    reported a state operator;
  *  - `stores`: the store and spool ensures it needs, and `writes`: the
  *    other warehouse tables it creates. Both come from running the query
  *    once at sf0.001 over its own alias of the tables and listing the
  *    warehouse entries the call created; the ensure an entry belongs to
  *    is learnt the same way, by running each ensure over an alias.
  *
  * The sf0.001 call also serves as the query's warm-up, as in
  * `graft.Bench`; every store and spool is ensured at sf0.1 before the
  * timed calls, so no timed call builds one.
  */
object Sweep {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.exit(code)
  }

  /** The part a store's or spool's table name takes from its source
    * directory `d` (`RunStore.tableName`): the mangled path and its hash.
    */
  private def dirParts(d: String): (String, String) = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    (d.replaceAll("[^A-Za-z0-9]+", "_"), h)
  }

  private def run(m: Map[String, String]): Unit = {
    val (sf01, sf0001, work) = (m("sf01"), m("sf0001"), m("work"))
    val cpus = m("cpus").toInt
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions())
      .master(s"local[$cpus]")
      .appName("perfbench-sweep")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val triggers = new java.util.concurrent.atomic.AtomicInteger()
    val statefulTriggers = new java.util.concurrent.atomic.AtomicInteger()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        triggers.incrementAndGet()
        if (e.progress.stateOperators.nonEmpty) statefulTriggers.incrementAndGet()
        ()
      }
    })
    val warehouse = new File(s"$work/warehouse")
    warehouse.mkdirs()
    def entries: Set[String] = Option(warehouse.list()).map(_.toSet).getOrElse(Set.empty)

    /** A fresh alias of the sf0.001 tables, so stores keyed by the data
      * directory are built anew for it.
      */
    def alias(tag: String): String = {
      val dir = new File(s"$work/alias/$tag")
      dir.mkdirs()
      new File(sf0001).listFiles().foreach { f =>
        Files.createLink(Paths.get(dir.getPath, f.getName), f.toPath)
      }
      dir.getPath
    }

    /** Runs `body` over a fresh alias; returns the warehouse entries it
      * created, with the alias's part of each name replaced by `<d>` and
      * `<h>`.
      */
    def created(tag: String)(body: String => Unit): Set[String] = {
      val d = alias(tag)
      val (path, hash) = dirParts(d)
      val before = entries
      body(d)
      (entries -- before).map(_.replace(path, "<d>").replace(s"_$hash", "_<h>"))
    }

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    }

    RelationalQueries.q02StarRevenue(spark, sf0001).collect()

    // which warehouse entries each ensure creates
    val ensureEntries = Workloads.AllEnsures.map { case (name, ensure) =>
      // shared entries (the build-lock directory) belong to no one store
      name -> created(s"ensure-$name")(d => ensure(spark, d)).filter(_.contains("<d>"))
    }
    // every store and spool at sf0.1, outside the timed calls
    val ensureMs = Workloads.AllEnsures.map { case (name, ensure) =>
      name -> timed(ensure(spark, sf01))._2
    }
    val out = new PrintWriter(new File(work, "sweep.jsonl"), "UTF-8")
    out.println(json.writeValueAsString(Map(
      "ensure_order" -> Workloads.AllEnsures.map(_._1), "ensures" -> ensureEntries.toMap,
      "ensure_ms" -> ensureMs.toMap, "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master)))
    out.flush()

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    queries.zipWithIndex.foreach { case ((name, fn), i) =>
      if (i % 10 == 0) System.gc()
      var error: Option[String] = None
      val made = try created(s"q-$name") { d =>
        graft.core.CacheScope.withScope(fn(spark, d).queryExecution.toRdd.count())
      } catch {
        case NonFatal(e) =>
          error = Some(s"sf0.001: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          Set.empty[String]
      }
      val stores = ensureEntries.filter { case (_, es) => es.nonEmpty && es.subsetOf(made) }
      val writes = made -- stores.flatMap(_._2)
      var buildMs, actionMs = 0.0
      var rows = 0L
      if (error.isEmpty) {
        SparkInternals.drainListenerBus(spark.sparkContext)
        triggers.set(0)
        statefulTriggers.set(0)
        try graft.core.CacheScope.withScope {
          val (df, b) = timed(fn(spark, sf01))
          val (n, a) = timed(df.queryExecution.toRdd.count())
          buildMs = b; actionMs = a; rows = n
        } catch {
          case NonFatal(e) =>
            error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
        SparkInternals.drainListenerBus(spark.sparkContext)
      }
      out.println(json.writeValueAsString(Map(
        "name" -> name, "build_ms" -> buildMs, "action_ms" -> actionMs,
        "rows" -> rows, "triggers" -> triggers.get,
        "stateful_triggers" -> statefulTriggers.get,
        "stores" -> stores.map(_._1).sorted, "writes" -> writes.toSeq.sorted,
        "oracle" -> SparkEntry.oracleSql.contains(name), "error" -> error.orNull)))
      out.flush()
    }
    out.close()
    spark.stop()
  }
}
