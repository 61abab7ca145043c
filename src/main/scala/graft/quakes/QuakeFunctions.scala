package graft.quakes

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-combinator implementations of the reference's scalar helpers
  * (task.ts:81-138). Everything here is a pure `Column => Column`
  * composition of built-in functions — fully visible to Catalyst
  * (constant folding, codegen), no UDFs, and directly expressible as
  * ANSI SQL for the DuckDB oracle.
  */
object QuakeFunctions {

  val NzTz = "Pacific/Auckland"

  /** Age of an event in minutes against a per-run `now` captured once
    * (task.ts:184,190-191): `(now - eventMs) / 60000` as a double.
    */
  def ageMinutes(eventTs: Column, nowMs: Column): Column =
    (nowMs - unix_millis(eventTs)) / lit(60000.0)

  /** Whole minutes/hours/days since the event (JS Math.floor semantics,
    * task.ts:113,119,124). Kept as LONG so string rendering matches JS
    * integer Number printing.
    */
  private def wholeMinutesAgo(eventTs: Column, nowMs: Column): Column =
    floor((nowMs - unix_millis(eventTs)) / lit(60000L)).cast("long")

  private def unitPhrase(n: Column, unit: String): Column =
    concat(n.cast("string"), lit(" " + unit),
      when(n === 1, lit("")).otherwise(lit("s")), lit(" ago"))

  /** task.ts:111-126 — "time ago" with the largest whole unit that applies:
    * minutes under an hour, hours under a day, else days; singular iff the
    * count is exactly 1.
    */
  def timeAgo(eventTs: Column, nowMs: Column): Column = {
    val mins = wholeMinutesAgo(eventTs, nowMs)
    val hours = floor(mins / lit(60L)).cast("long")
    val days = floor(hours / lit(24L)).cast("long")
    when(mins < 60, unitPhrase(mins, "minute"))
      .when(hours < 24, unitPhrase(hours, "hour"))
      .otherwise(unitPhrase(days, "day"))
  }

  /** UTC-offset of Pacific/Auckland at the event instant, in milliseconds.
    * `from_utc_timestamp` shifts the instant so its UTC rendering equals the
    * NZ wall clock; the shift (+12h NZST / +13h NZDT) is the offset.
    */
  private def nzOffsetMillis(ts: Column): Column =
    unix_millis(from_utc_timestamp(ts, NzTz)) - unix_millis(ts)

  /** task.ts:93-105 — 'NZDT' | 'NZST', fallback 'NZT'. Implemented from the
    * UTC offset instead of locale data (Intl `timeZoneName:'short'` in the
    * reference): +13h ⇒ NZDT, +12h ⇒ NZST, anything else ⇒ the reference's
    * 'NZT' fallback. Handles the DST transition instants exactly because the
    * offset itself is what flips there.
    */
  def nzTzName(ts: Column): Column =
    when(nzOffsetMillis(ts) === lit(13L * 3600 * 1000), lit("NZDT"))
      .when(nzOffsetMillis(ts) === lit(12L * 3600 * 1000), lit("NZST"))
      .otherwise(lit("NZT"))

  /** task.ts:81-86,134 — en-NZ `dd/MM/yyyy` in Pacific/Auckland. */
  def nzDate(ts: Column): Column =
    date_format(from_utc_timestamp(ts, NzTz), "dd/MM/yyyy")

  /** task.ts:87-92,135 — 24h `HH:mm` in Pacific/Auckland. */
  def nzTime(ts: Column): Column =
    date_format(from_utc_timestamp(ts, NzTz), "HH:mm")

  /** task.ts:132-138 — `"dd/MM/yyyy, HH:mm NZST|NZDT (N units ago)"`. */
  def nzLocal(ts: Column, nowMs: Column): Column =
    concat(nzDate(ts), lit(", "), nzTime(ts), lit(" "), nzTzName(ts),
      lit(" ("), timeAgo(ts, nowMs), lit(")"))

  /** Dictionary lookup with default (task.ts:218,225): a map literal +
    * `element_at` + `coalesce`. Constant-folded by Catalyst; both of
    * [[QuakePipeline.transform]]'s lookups (icon, intensity) use it.
    */
  def lookupWithDefault(key: Column, dict: Map[Int, String],
      default: String): Column =
    coalesce(element_at(typedlit(dict), key), lit(default))

  /** JS `Date.prototype.toISOString` shape: `yyyy-MM-ddTHH:mm:ss.SSSZ`. */
  def toIso(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
}
