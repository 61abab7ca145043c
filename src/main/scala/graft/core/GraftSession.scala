package graft.core

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The engine's two session contracts, defined once: how a session is
  * built, and how a query scopes a conf to its own run.
  */
object GraftSession {

  /** Cores for the mains' local master: `SPARK_GRAFT_CPUS` (a deployment
    * setting), else every core the JVM sees.
    */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(v => v.toIntOption
    .getOrElse(sys.error(s"SPARK_GRAFT_CPUS must be an integer, got '$v'")))
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine's session shape: graft's extensions, `local[cpus,4]`
    * (task retries on, the production default `spark.task.maxFailures=4`
    * — plain `local[N]` deletes the retry path q272 exercises), one
    * shuffle partition per core, UTC session time and no UI. Callers add
    * their own app name or warehouse before `getOrCreate()`.
    */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .withExtensions(new GraftExtensions())
    .master(s"local[$cpus,4]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  /** Run `body` with `kvs` set on `s`, then put each key back as it was,
    * even when `body` throws. The snapshot is `s.conf.getAll` — the keys
    * explicitly set — so a key that was unset before is unset again
    * after, not pinned to its registered default.
    */
  def withConf[T](s: SparkSession)(kvs: (String, String)*)(body: => T): T = {
    val before = s.conf.getAll
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => s.conf.set(k, v)
        case None => s.conf.unset(k)
      }
    }
  }
}
