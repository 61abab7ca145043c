package graft.quakes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.quakes.QuakeModel._
import graft.quakes.QuakeFunctions._

/** The GeoNet → CoT pipeline (reference task.ts:160-261), Spark-first.
  *
  * Logical plan: Project(P1-P11) ∘ Filter(quality) ∘ Filter(age) ∘
  * Generate(clock). Both dictionary lookups (P4 icon, P5 intensity) are
  * map literals; Catalyst pushes the quality filter below the clock and
  * folds every constant subexpression, so the three manual optimizations
  * the reference hand-codes (SURVEY.md §4) fall out automatically.
  *
  * `now` is captured ONCE per run — matching the reference's single
  * `Date.now()` at task.ts:184 (we deliberately collapse its second clock
  * read at task.ts:221 into the same instant for determinism; divergence
  * is timing-only). It reaches the plan as data, so the generated code is
  * the same at every clock (see [[transform]]).
  *
  * At scale: the input is one API snapshot today, and a run is one job of
  * one stage — scan, filter, project, then the snapshot's `collect`. There
  * is no join and no exchange, so the same `transform` runs unchanged over
  * a 100 TB backfill of historical feature archives partitioned by event
  * date; only the driver-side snapshot assembly is snapshot-sized.
  */
object QuakePipeline {

  /** Parse a GeoNet API response body (a FeatureCollection JSON string)
    * into one row per feature (reference task.ts:183 + loop at 187).
    */
  def parseFeatureCollection(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(json)).toDF("body")
      .select(from_json(col("body"), FeatureCollectionSchema).as("fc"))
      .select(explode(col("fc.features")).as("feature"))
      .select(col("feature.*"))
  }

  /** Full transform: GeoNet feature rows → CoT feature rows.
    *
    * @param features one row per GeoNet feature, schema [[GeoNetFeatureSchema]]
    * @param cfg      validated env config (task.ts:162-172)
    * @param nowMs    run timestamp, epoch millis (task.ts:184)
    */
  def transform(features: DataFrame, cfg: QuakeConfig, nowMs: Long): DataFrame = {
    // The clock is a column exploded from a one-element array literal, not
    // `lit(nowMs)`: whole-stage codegen writes a long literal into the
    // generated Java source, so each new clock would compile new classes
    // every tick, while an array literal is handed to the generated code by
    // reference and leaves its source the same at every clock.
    val now = col("__now")
    val p = col("properties")
    val eventTs = to_timestamp(p("time"))

    val filtered = features
      .withColumn("__now", explode(typedlit(Array(nowMs))))
      // F2 (task.ts:190-193): keep iff ageMinutes <= maxAge (strict `>` drops)
      .filter(ageMinutes(eventTs, now) <= cfg.maxAgeMinutes)
      // F3 (task.ts:195-204): GeoNet reclassified events are excluded
      .filter(p("quality") =!= "deleted")

    // P4/P5 (J1): both dictionary lookups are map literals with a default
    // on miss — no join, so a tick plans no broadcast exchange
    val icon = lookupWithDefault(p("mmi"), MmiIcons, DefaultIcon)
    val intensity =
      lookupWithDefault(p("mmi"), MmiIntensity, DefaultIntensity)

    val timeLocal = nzLocal(eventTs, now)
    val staleIso = toIso(timestamp_millis(now + lit(5L * 60 * 1000)))

    // P9 (task.ts:233-242): 8 formatted lines joined with '\n'
    val remarks = concat_ws("\n",
      format_string("Magnitude: %.2f", p("magnitude")),
      concat(lit("MMI: "), p("mmi").cast("string")),
      concat(lit("Intensity: "), intensity),
      concat(lit("Location: "), p("locality")),
      concat(lit("Time (UTC): "), p("time")),
      concat(lit("Time (NZ): "), timeLocal),
      format_string("Depth: %.1f km", p("depth")),
      concat(lit("Information Quality: "), p("quality")))

    filtered.select(
      // P1 (task.ts:213)
      concat(lit("earthquake-"), p("publicID")).as("id"),
      lit("Feature").as("type"),
      struct(
        // P2 (task.ts:216) — JS toFixed(1) ≈ JVM %.1f; divergence only at
        // shortest-decimal half-boundaries (SURVEY.md §7.4 risk 1)
        format_string("M%.1f %s", p("magnitude"), p("locality")).as("callsign"),
        lit(CotType).as("type"),
        icon.as("icon"),
        p("time").as("time"),
        p("time").as("start"),
        staleIso.as("stale"),
        // P8 (task.ts:222-232) — field order is the published contract
        struct(
          p("magnitude").as("magnitude"),
          p("mmi").as("mmi"),
          intensity.as("intensity"),
          p("locality").as("locality"),
          p("depth").as("depth"),
          p("quality").as("quality"),
          p("publicID").as("publicID"),
          p("time").as("timeUTC"),
          timeLocal.as("timeLocal")
        ).as("metadata"),
        remarks.as("remarks")
      ).as("properties"),
      // P10/P11 (task.ts:206-208,244-247): [lon, lat, -depth] — CoT altitude
      // is up-positive HAE, quake depth is km down, hence the negation
      struct(
        lit("Point").as("type"),
        array(
          col("geometry.coordinates").getItem(0),
          col("geometry.coordinates").getItem(1),
          -p("depth")
        ).as("coordinates")
      ).as("geometry")
    )
  }

  /** K1 (task.ts:251-256): assemble the run's snapshot FeatureCollection as
    * a single JSON payload, assembled on the driver — the POST itself is an
    * external side effect outside the engine.
    */
  def toFeatureCollectionJson(cot: DataFrame): String = snapshot(cot)._1

  /** K1 payload + feature count in one action (the count feeds the
    * reference's `ok - fetched N earthquakes` log line, task.ts:255).
    */
  def snapshot(cot: DataFrame): (String, Long) = {
    val (json, n, _) = snapshotWithIds(cot)
    (json, n)
  }

  /** [[snapshot]] plus the snapshot's feature ids, still ONE action: the
    * streaming expiry sink needs the id set, and a `foreachBatch` frame
    * is recomputed per action — a separate ids collect would run the
    * whole micro-batch twice. Each feature is serialized to JSON where it
    * lives and the envelope is wrapped on the driver: a `collect_list`
    * aggregate would add a shuffle (and a second job) for ≤100 rows.
    */
  def snapshotWithIds(cot: DataFrame): (String, Long, Seq[String]) = {
    val rows = cot.select(col("id"), to_json(struct(col("id"), col("type"),
      col("properties"), col("geometry")))).collect()
    val json = rows.iterator.map(_.getString(1))
      .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
    (json, rows.length.toLong, rows.map(_.getString(0)).toSeq)
  }

  /** J2 (task.ts:195-203 comment): the snapshot sink's expiry semantics —
    * ids present in the previous snapshot but absent from the current one
    * are expired. A left-anti join computes the expired set.
    */
  def expiredIds(previous: DataFrame, current: DataFrame): DataFrame =
    previous.select("id").join(current.select("id"), Seq("id"), "left_anti")
}
