package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lower, md5}

/** Loaders for the driver-provided test tables (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst's parquet source handles
  * predicate pushdown, column pruning and (on a real cluster) partition
  * pruning for free. At 100 TB these tables would be partitioned/bucketed
  * parquet or an open table format; the query code below never assumes a
  * physical layout beyond "columnar scan with pushdown".
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events.ts` has shipped as BOTH parquet TIMESTAMP(NANOS) (rounds
    * 1-10) and plain TIMESTAMP(MICROS) (the round-11 regeneration) —
    * handle either, keyed on the type the reader actually infers, so a
    * testdata regeneration can never silently break the event family
    * again.
    *
    *  - NANOS: Spark's vectorized reader rejects it outright; read as
    *    raw nanos (legacy long mode) and floor-divide to microseconds —
    *    integer division, since the ns epoch (~1.7e18) overflows double
    *    precision. The driver data is µs-aligned (verified: no sub-µs
    *    components), so this matches DuckDB's native TIMESTAMP_NS reads
    *    exactly.
    *  - MICROS: Spark reads it natively (TIMESTAMP_NTZ under the
    *    session's UTC zone) — pass it through untouched; DuckDB reads
    *    the same µs values.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Ingest-time bucketed layout: write `df` into the session catalog
    * bucketed AND sorted by `keys`. Any later join, window or aggregation
    * keyed on `keys` then plans WITHOUT its exchange (bucket layout
    * satisfies the required hash distribution; `sortBy` the required
    * ordering) — the one shuffle is paid once at write time instead of
    * once per query. At 100 TB that is the difference between an ingest
    * cost and a per-run corpus shuffle: q02's fact-fact join and q30's
    * fingerprint dedup both run exchange-free over tables written here
    * (proved executable, and exchange-free, in BucketingSpec). Choose
    * `numBuckets` so corpus/numBuckets rows fit one task's memory —
    * buckets are the parallelism floor for bucket-local stages.
    */
  def writeBucketed(df: DataFrame, tableName: String, numBuckets: Int,
      keys: String*): Unit =
    writeBucketedSorted(df, tableName, numBuckets, keys, keys)

  /** [[writeBucketed]] with an independent sort spec — the sort columns
    * may be a superset of the bucket columns (or empty for an unsorted
    * bucketed layout); `compactStore` uses this to rewrite a store
    * under its EXACT catalog spec instead of collapsing the sort spec
    * to the bucket columns. With `path` set, the table is created
    * EXTERNAL at that location (compaction's write-aside scaffold:
    * dropping the catalog entry later must not touch the files) —
    * either way the bucket-spec plumbing lives HERE, once, so a
    * divergent copy can never silently rebucket a store.
    */
  def writeBucketedSorted(df: DataFrame, tableName: String, numBuckets: Int,
      bucketKeys: Seq[String], sortKeys: Seq[String],
      path: Option[String] = None): Unit = {
    require(bucketKeys.nonEmpty, "bucketed layout needs at least one key")
    // A fresh MANAGED store write owns its name's on-disk locations:
    // since compaction retains demoted generations for the sweep
    // retention window, a dropped-and-rewritten store can meet its own
    // previous default dir (or generation dirs) as debris, and
    // saveAsTable's CREATE refuses an existing location. Clearing
    // catalog entry + default dir + generations here keeps "write a
    // fresh store" meaning exactly that. External writes (compaction's
    // write-aside scaffold) must NOT touch the main table's dirs.
    if (path.isEmpty)
      graft.queries.RunStore.dropWithLocation(df.sparkSession, tableName)
    val writer = df.write
      .bucketBy(numBuckets, bucketKeys.head, bucketKeys.tail: _*)
    val placed = path.map(p => writer.option("path", p)).getOrElse(writer)
    sortKeys.headOption
      .map(h => placed.sortBy(h, sortKeys.tail: _*))
      .getOrElse(placed)
      .mode("overwrite")
      .saveAsTable(tableName)
    // every (re)write is a mutation cached readers must observe
    StoreEpochs.bump(tableName)
  }

  /** The q30 ingest layout: documents with the exact-dedup fingerprint
    * (md5 of lowercased text — q30's definition) materialized once and
    * bucketed on it, so every subsequent exact-dedup pass
    * ([[graft.queries.DedupTextQueries.dedupBucketed]]) is shuffle-free.
    */
  def writeFingerprintedDocuments(s: SparkSession, d: String,
      tableName: String, numBuckets: Int = 8): Unit =
    writeBucketed(
      documents(s, d).withColumn("fp", md5(lower(col("text")))),
      tableName, numBuckets, "fp")
}
