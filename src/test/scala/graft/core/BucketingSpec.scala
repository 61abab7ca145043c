package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.GraftSession.withConf

/** Bucketing: the 100 TB answer to the one real shuffle in the star join
  * (q02's lineitem⋈orders). Both facts bucketed+sorted on the join key
  * co-locate matching rows at write time, so the join plans with NO
  * exchange on either side — the shuffle is paid once at ingest, not per
  * query.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("bucketed fact-fact join plans without a shuffle and matches results") {
    // force the sort-merge path so the exchange (or its absence) is visible
    try withConf(spark)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Tables.writeBucketed(Tables.lineitem(spark, sf),
        "li_bucketed", 8, "l_orderkey")
      Tables.writeBucketed(Tables.orders(spark, sf),
        "orders_bucketed", 8, "o_orderkey")

      val joined = spark.table("li_bucketed")
        .join(spark.table("orders_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      // neither join input needs an exchange: bucket layout == join keys
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"),
        joinSection.take(2000))
      assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"),
        joinSection.take(2000))

      // and the result is identical to the unbucketed plan
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    }
  }

  test("exact dedup over a fingerprint-bucketed layout runs with ZERO " +
    "exchange (the 100 TB q30 story, executable)") {
    // the ingest-time layout API: fingerprint materialized once,
    // documents bucketed+sorted by it — the one shuffle exact dedup
    // needs is paid at write time, and every subsequent dedup pass
    // (DedupTextQueries.dedupBucketed) is shuffle-free
    try {
      Tables.writeFingerprintedDocuments(spark, sf, "docs_bucketed")
      val dedup = graft.queries.DedupTextQueries
        .dedupBucketed(spark, "docs_bucketed")

      val plan = dedup.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(3000))

      // and it matches the unbucketed q30 rows exactly
      val expected = graft.queries.DedupTextQueries
        .q30DedupExact(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val got = dedup.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got == expected)
    } finally spark.sql("DROP TABLE IF EXISTS docs_bucketed")
  }

  test("q66's cross-modal manifest join runs exchange-free over " +
    "id-bucketed tables (the claim in its doc, executable)") {
    try withConf(spark)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Tables.writeBucketed(Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang")), "docs_by_id", 8, "doc_id")
      Tables.writeBucketed(Tables.embeddings(spark, sf)
        .select(col("vec_id").as("doc_id"), col("label")),
        "emb_by_id", 8, "doc_id")
      val joined = spark.table("docs_by_id")
        .join(spark.table("emb_by_id"), Seq("doc_id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning(doc_id"),
        plan.take(2000))
      val expected = Tables.documents(spark, sf)
        .join(Tables.embeddings(spark, sf),
          col("doc_id") === col("vec_id")).count()
      assert(joined.count() == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS docs_by_id")
      spark.sql("DROP TABLE IF EXISTS emb_by_id")
    }
  }

  test("incremental near-dup from a bucketed SIGNATURE STORE plus " +
    "per-row delta band keys gives q64's exact verdicts (the production " +
    "ingest shape: corpus signed once at admission, never re-signed)") {
    val isDelta = col("doc_id") % 10 === 0
    try {
      graft.queries.DedupTextQueries
        .writeSignatureStore(spark, sf, "sig_store", !isDelta)
      // the delta arrives fresh: per-row native band keys, no aggregation
      val deltaBands = Tables.documents(spark, sf).filter(isDelta)
        .select(col("doc_id"),
          posexplode(graft.functions.MinHashBandKeys.bandKeys(col("text")))
            .as(Seq("band", "bkey")))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getBoolean(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
      val fromStore = graft.core.CacheScope.withScope {
        rows(graft.queries.DedupTextQueries.incrementalNeardup(
          spark.table("sig_store").unionByName(deltaBands),
          Tables.documents(spark, sf).filter(isDelta).select(col("doc_id")),
          isDelta))
      }
      val onePass = graft.core.CacheScope.withScope {
        rows(graft.queries.DedupTextQueries
          .q64IncrementalNeardup(spark, sf))
      }
      assert(fromStore.nonEmpty)
      assert(fromStore == onePass)
      assert(fromStore.exists(_._2), "dup branch unexercised")
      assert(fromStore.exists(!_._2), "admit branch unexercised")
    } finally spark.sql("DROP TABLE IF EXISTS sig_store")
  }
}
