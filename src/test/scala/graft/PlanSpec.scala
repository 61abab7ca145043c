package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession.withConf
import graft.queries._

/** Physical-plan assertions: the plans we'd want at 100 TB, not just
  * plans that produce correct rows (builder prompt: ".explain the plan
  * and iterate until it's the plan you'd want").
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 star join: dimensions broadcast, no shuffle on the dim side") {
    val p = physical(RelationalQueries.q02StarRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q04 global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = physical(RelationalQueries.q04TopKGlobal(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q05 semi / q06 anti plan as existence joins") {
    assert(physical(RelationalQueries.q05SemiJoin(spark, sf)).contains("LeftSemi"))
    assert(physical(RelationalQueries.q06AntiJoin(spark, sf)).contains("LeftAnti"))
  }

  test("q12 scan pushdown: quantity predicate reaches the parquet reader") {
    val p = RelationalQueries.q12Except(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,48.0)]"),
      p.take(3000))
  }

  test("q01 aggregation is whole-stage codegen'd with partial aggregation") {
    val df = RelationalQueries.q01PricingSummary(spark, sf)
    assert(physical(df).contains("partial_sum"), physical(df).take(3000))
    df.collect() // let AQE finalize, then inspect the executed plan
    val finalPlan = df.queryExecution.executedPlan.toString
    // `*(N)` prefixes mark whole-stage-codegen spans in the plan string
    assert(finalPlan.contains("*(1)"), finalPlan.take(3000))
  }

  test("q17 lookup join broadcasts the 25-row dimension") {
    val p = physical(EventQueries.q17LookupDefault(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q40 knn: query vector broadcast + TakeOrderedAndProject top-k") {
    val p = physical(SimilarityQueries.q40KnnBrute(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q39 trigram aggregate materializes once: both consumers read the " +
    "cached relation (round-1 audit found it computed twice)") {
    val df = DedupTextQueries.q39LangNgram(spark, TestSpark.Sf0001)
    val p = physical(df)
    // the shared (doc, lang, trigram, count) aggregate is persisted; the
    // profile and hits branches must BOTH read it from memory, so the
    // expensive explode+substring stage runs exactly once
    assert(p.split("InMemoryTableScan").length - 1 >= 2, p.take(4000))
    spark.sharedState.cacheManager.clearCache()
  }

  test("q44 per-label top-k aggregates over InternalRow: no typed " +
    "Deserialize/Serialize boundary (round-2 audit: encoder tax)") {
    val p = physical(SimilarityQueries.q44TopkPerLabel(spark, sf))
    assert(!p.contains("DeserializeToObject"), p.take(4000))
    assert(!p.contains("SerializeFromObject"), p.take(4000))
    assert(p.contains("ObjectHashAggregate"), p.take(4000))
  }

  test("q45 IVF probe pass reads the source directly: no corpus-sized " +
    "cached relation (round-2 audit: corpus-wide unit-vector persist)") {
    graft.core.CacheScope.withScope {
      val df = SimilarityQueries.ivfKmeansTopK(spark, sf, queryId = 0L)
      val p = physical(df)
      // the only persisted frame is the bounded TRAINING SAMPLE, consumed
      // during fit; the search itself scans parquet + broadcasts the
      // 1-row query vector — cache-free
      assert(!p.contains("InMemoryTableScan"), p.take(4000))
      assert(p.contains("Scan parquet"), p.take(4000))
    }
  }

  test("q45 construction runs no bare corpus pass: every un-cached " +
    "parquet execution is cache population or the pushed-down point " +
    "lookup (round-3 audit: dedicated count() was a third corpus scan)") {
    val plans =
      java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try graft.core.CacheScope.withScope {
      SimilarityQueries.ivfKmeansTopK(spark, sf, queryId = 0L)
      org.apache.spark.grafttest.ListenerBusBridge
        .waitUntilEmpty(spark.sparkContext)
      // every construction-time action over the corpus must go through
      // the cached sampling frame (InMemoryTableScan — the ONE sampling
      // pass populates it) or be the query-vector point lookup
      // (CollectLimit with the vec_id filter pushed to parquet). A bare
      // `Scan parquet` aggregate — the removed dedicated count() — is a
      // full extra corpus pass and fails here.
      import scala.jdk.CollectionConverters._
      val offenders = plans.asScala.filter(p =>
        p.contains("Scan parquet") && !p.contains("InMemoryTableScan") &&
          !p.contains("CollectLimit"))
      assert(plans.size() > 0)
      assert(offenders.isEmpty, offenders.headOption.getOrElse("").take(3000))
    } finally spark.listenerManager.unregister(listener)
  }

  test("q64 incremental near-dup: both join sides scan the ON-DISK " +
    "band store, the skew-cap window runs with NO exchange over its " +
    "(band,bkey) bucket layout (round-8), and the delta side is " +
    "broadcast — the corpus text is never shuffled, the band rows " +
    "aren't either") {
    graft.core.CacheScope.withScope {
      val p = physical(DedupTextQueries.q64IncrementalNeardup(spark, sf))
      // store leg + delta leg each read the bucketed band table
      assert(p.split("graft_bandstore").length - 1 >= 2, p.take(4000))
      assert(p.contains("BroadcastHashJoin"), p.take(4000))
      assert(!p.toLowerCase.contains("wordshingles"), p.take(4000))
      // the cap window's distribution comes from the bucket layout —
      // a band-keyed exchange reappearing is the regression this pins
      assert(!p.contains("Exchange hashpartitioning(band"), p.take(4000))
    }
  }

  test("q105 incremental cluster maintenance: the returned plan is the " +
    "ASSEMBLY only — one documents scan joined to the dup-proportional " +
    "label frame (driver-built under the union-find threshold), with " +
    "no text derivation and no band-keyed exchange anywhere; the edge " +
    "derivation ran store-fed at construction (its shape is pinned by " +
    "the q64/q32 band-store specs over the same shared derivation)") {
    graft.core.CacheScope.withScope {
      val df = DedupTextQueries.queries("q105_incremental_clusters")(spark, sf)
      val p = physical(df)
      assert(!p.toLowerCase.contains("wordshingles"), p.take(4000))
      assert(!p.contains("Exchange hashpartitioning(band"), p.take(4000))
      // corpus side: exactly ONE parquet scan (documents ids); the
      // maintenance output joins in as a local/small relation — a
      // second corpus scan appearing here is the regression
      assert(p.split("Scan parquet ").length - 1 == 1, p.take(4000))
    }
  }

  test("q89 media near-dup reads the ON-DISK media signature store " +
    "(no payload re-signing — round-7 verdict #1) and plans with NO " +
    "join anywhere: candidate pairs are enumerated inside buckets " +
    "(BucketPairs), never by self-joining the corpus") {
    val p = physical(MultimodalQueries.queries("q89_media_neardup")(spark, sf))
    assert(!p.contains("Join"), p.take(4000))
    // the bounded bucket enumeration runs as an ObjectHashAggregate
    // (collect_list buckets) over ONE scan — of the signature store,
    // not the documents payloads
    assert(p.contains("ObjectHashAggregate"), p.take(4000))
    assert(p.contains("graft_media_sigstore"), p.take(4000))
    assert(p.split("Scan parquet ").length - 1 == 1, p.take(4000))
    // zero digest work: the byte-window md5 pass lives in the store
    // build, never in the query
    assert(!p.contains("md5"), p.take(4000))
  }

  test("q91 media admission is fully store-fed (both sides scan the " +
    "media signature store, no payload digesting) and the delta side " +
    "broadcasts onto the store bands — no corpus-grain shuffle join, " +
    "no cartesian product") {
    val p = physical(MultimodalQueries.queries("q91_media_admission")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.split("graft_media_sigstore").length - 1 >= 2, p.take(4000))
    assert(!p.contains("md5"), p.take(4000))
  }

  test("q93 media release is PAYLOAD-FREE: all four gates read the " +
    "media profile store — zero digest expressions in the whole " +
    "composed plan") {
    val p = physical(MultimodalQueries.queries("q93_media_release")(spark, sf))
    // exact leg (1 scan) + near-dup leg (1) + admission store/delta (2)
    assert(p.split("graft_media_sigstore").length - 1 >= 4, p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("md5"), p.take(4000))
  }

  test("q86/q87 read the media profile store: the exact-dedup digest " +
    "and byte stats are ingest-time columns, not per-query payload " +
    "scans (round-8)") {
    for (q <- Seq("q86_media_dedup", "q87_media_stats")) {
      val p = physical(MultimodalQueries.queries(q)(spark, sf))
      assert(p.contains("graft_media_sigstore"), s"$q\n" + p.take(3000))
      assert(!p.contains("md5"), s"$q digests payloads\n" + p.take(3000))
    }
  }

  test("q65 balanced mixture: corpus is one scan with broadcast-joined " +
    "rates — every hash exchange is on the tiny per-lang count key, " +
    "never a corpus-grain key") {
    val p = physical(IngestQueries.q65BalancedMixture(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    // the lang-count subtree is evaluated for the rate join and again for
    // n_max — two exchanges, both carrying |langs| map-side partial rows
    val hashExchanges = p.split("Exchange hashpartitioning").length - 1
    val langExchanges = p.split("Exchange hashpartitioning\\(lang").length - 1
    assert(hashExchanges == langExchanges, p.take(4000))
  }

  test("q68 fixed stratified sample aggregates over InternalRow " +
    "(ObjectHashAggregate, no typed boundary) like q44") {
    val p = physical(IngestQueries.q68FixedStratified(spark, sf))
    assert(p.contains("ObjectHashAggregate"), p.take(4000))
    assert(!p.contains("DeserializeToObject"), p.take(4000))
  }

  test("q69 outlier clip broadcasts the per-language quantile table " +
    "back onto the corpus — no corpus-sized shuffle") {
    val p = physical(CorpusStatsQueries.q69OutlierClip(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("BroadcastExchange"), p.take(4000))
    // budget: the histogram aggregate + the quantile window repartition
    // are the ONLY hash exchanges (both over histogram-grain rows); a
    // corpus-side shuffle sneaking in ahead of the broadcast join would
    // add a third and fail here
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2,
      p.take(4000))
    // histogram window sorts aggregated rows, so every Sort sits above a
    // partial_count aggregate, never directly over the corpus scan
    assert(p.contains("partial_count"), p.take(4000))
  }

  test("q67 chunking is pure map-side: tokenize + explode + slice with " +
    "no hash exchange anywhere (only the presentation sort)") {
    val p = physical(IngestQueries.q67TokenChunks(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p.take(4000))
    assert(p.contains("Generate"), p.take(4000))
  }

  test("q115 Luhn scrub is a pure map-side codegen'd projection: the " +
    "native expression rides WholeStageCodegen, no hash exchange " +
    "anywhere (only the presentation sort)") {
    val df = DedupTextQueries.q115LuhnScrub(spark, sf)
    val p = physical(df)
    assert(!p.contains("Exchange hashpartitioning"), p.take(4000))
    assert(p.contains("luhnscrub"), p.take(4000))
    df.collect() // let AQE finalize, then inspect the executed plan
    val finalPlan = df.queryExecution.executedPlan.toString
    // `*(N)` prefixes mark whole-stage-codegen spans: the scrub's
    // Project must sit inside one (no eval fallback)
    assert(finalPlan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.matches("""^.*\*\(\d+\) Project.*$""")),
      finalPlan.take(3000))
  }

  test("q118 composed release scrub stays ONE map-side projection: " +
    "regex + Luhn composition adds expressions, never passes or " +
    "exchanges") {
    val df = DedupTextQueries.q118ReleaseScrub(spark, sf)
    val p = physical(df)
    assert(!p.contains("Exchange hashpartitioning"), p.take(4000))
    assert(p.contains("luhnscrub") && p.contains("regexp_replace"),
      p.take(4000))
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.matches("""^.*\*\(\d+\) Project.*$""")),
      finalPlan.take(3000))
  }

  test("q116 mixed-modality metadata: one partition-wise decode pass, " +
    "no exchange before the presentation sort — payload bytes never " +
    "shuffle") {
    val p = physical(MultimodalQueries.q116MediaMetaDispatch(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p.take(4000))
    assert(p.contains("MapPartitions") || p.contains("mapPartitions") ||
      p.contains("SerializeFromObject"), p.take(4000))
  }

  test("q46 reads the ON-DISK hyperplane band store: six precomputed " +
    "ints explode per vector, ZERO hyperplane dot-products in the " +
    "plan (round-7 verdict #5: q46 and q88 each ran the 36-plane " +
    "projection)") {
    val p = physical(SimilarityQueries.queries("q46_embed_lsh")(spark, sf))
    assert(p.contains("graft_embstore"), p.take(4000))
    // plan-string spelling: the custom expression renders as its
    // lowercased class name ("dotproduct"); cosine scoring renders as
    // "cosinesimilarity" and must remain — only the projection moved
    assert(!p.toLowerCase.contains("dotproduct"), p.take(4000))
    assert(p.toLowerCase.contains("cosinesimilarity"), p.take(4000))
  }

  test("q88 is store-fed like q46: the candidate leg scans " +
    "graft_embstore and recomputes no hyperplane projection") {
    graft.core.CacheScope.withScope {
      val p = physical(SimilarityQueries.queries("q88_pruned_pair_mining")(spark, sf))
      assert(p.contains("graft_embstore"), p.take(4000))
      assert(!p.toLowerCase.contains("dotproduct"), p.take(4000))
    }
  }

  test("q88 construction launches ZERO Spark jobs (round-8 verdict #4: " +
    "the adaptive isEmpty check ran the whole pipeline at build time); " +
    "the fallback leg is in-plan with its uncovered sliver broadcast") {
    // the store build runs jobs on first access — pay it before counting
    SimilarityQueries.EmbBandStore.ensure(spark, sf)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try graft.core.CacheScope.withScope {
      val df = SimilarityQueries.queries("q88_pruned_pair_mining")(spark, sf)
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // a construction-time job blocks until completion, so its
      // JobStart was posted before we got here; the grace period only
      // covers listener-bus delivery
      Thread.sleep(1000)
      assert(jobs.get() == 0,
        s"construction/explain launched ${jobs.get()} Spark jobs")
      assert(p.contains("BroadcastHashJoin"), p.take(4000))
    } finally sc.removeSparkListener(listener)
  }

  test("q41 probes the ON-DISK IVF index: the literal cell-IN " +
    "predicate is pushed to the parquet reader over the cell-sorted " +
    "store, and the per-query assignment pass is gone (round-8: the " +
    "n x 16 cosines are an ingest cost)") {
    val p = physical(SimilarityQueries.queries("q41_knn_ivf")(spark, sf))
    assert(p.contains("graft_ivfstore"), p.take(4000))
    assert(p.contains("In(cell"), p.take(4000))
    // exactly two parquet scans remain: the pruned index probe and the
    // 1-row query-vector lookup — the corpus-wide assignment subtree
    // (a third scan + 16-centroid crossjoin + groupBy) is gone
    assert(p.split("Scan parquet").length - 1 == 2, p.take(4000))
  }

  test("q45 serves from the TRAINED-quantizer store: literal cell-IN " +
    "pushed to the parquet reader, centroids from the SIDECAR — no " +
    "training subtree and no per-query assignment pass in the plan") {
    val p = physical(SimilarityQueries.queries("q45_knn_ivf_kmeans")(spark, sf))
    assert(p.contains("graft_kmivf"), p.take(4000))
    assert(p.contains("In(cell"), p.take(4000))
    // exactly two parquet scans: the pruned index probe and the 1-row
    // query-vector lookup — training + the n x 16 assignment crossjoin
    // are ingest costs frozen into the store, not serve-time work
    assert(p.split("Scan parquet").length - 1 == 2, p.take(4000))
  }

  test("q121 serves from the stored compressed index: literal cell-IN " +
    "pushed to the code scan, grid/centroids from the SIDECAR — no " +
    "corpus-wide grid aggregation or assignment subtree in the plan") {
    val p = physical(SimilarityQueries.queries("q121_ivf_adc_serve")(spark, sf))
    assert(p.contains("graft_sqidx"), p.take(4000))
    assert(p.contains("In(cell"), p.take(4000))
    // four scans: pruned code probe, 2 query-vector point lookups, and
    // the 20-row re-rank's fp32 fetch — NO grid posexplode/groupBy and
    // no n x 16 assignment crossjoin survive to serve time
    assert(p.split("Scan parquet").length - 1 == 4, p.take(4000))
    assert(!p.contains("Generate"), p.take(4000))
  }

  test("q122 batch serving scans the code store ONCE with the probe " +
    "set broadcast onto it, and the per-query top-20 aggregates over " +
    "InternalRow (ObjectHashAggregate, map-side partials)") {
    val p = physical(SimilarityQueries.queries("q122_batch_ann_serve")(spark, sf))
    assert(p.split("graft_sqidx").length - 1 >= 1, p.take(4000))
    // the store side is never broadcast; the probe pairs are
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("ObjectHashAggregate"), p.take(4000))
  }

  test("q142 IVF-PQ serving scans the nibble-code store ONCE with the " +
    "probe set and anchors broadcast onto it — centroids, anchors and " +
    "codebook all from sidecar metadata (no corpus-grain assignment or " +
    "anchor subtree in the serve plan), top-20 via ObjectHashAggregate") {
    val p = physical(SimilarityQueries.queries("q142_ivfpq_serve")(spark, sf))
    assert(p.split("graft_ivfpq").length - 1 >= 1, p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("ObjectHashAggregate"), p.take(4000))
    // serve-time plan rebuilds neither the assignment argmax nor the
    // midrange anchors: no min/max grid aggregation over the corpus,
    // no NearestCentroid coding subtree (the only explode is the
    // k-bounded topk one)
    assert(!p.contains("partial_min"), p.take(4000))
    assert(!p.contains("partial_max"), p.take(4000))
    assert(!p.contains("nearest_centroid"), p.take(4000))
  }

  test("q161's NAIVE θ-join (interval_overlap marker) is rewritten by " +
    "the injected optimizer rule: the executed plan carries the tile " +
    "Generate and no cartesian/nested-loop — correct rows alone could " +
    "come from a BNLJ, so the pin is the proof the rule fired") {
    graft.core.CacheScope.withScope {
      val p = physical(
        EventQueries.queries("q161_overlap_join_via_rule")(spark, sf))
      assert(p.contains("Generate explode"), p.take(4000))
      assert(!p.contains("CartesianProduct"), p.take(4000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    }
  }

  test("q160 interval-overlap join runs on the tile EQUI-join — the " +
    "overlap predicate only VERIFIES candidates; no cartesian product " +
    "or nested-loop θ-join anywhere in the plan") {
    graft.core.CacheScope.withScope {
      val p = physical(
        EventQueries.queries("q160_session_overlap_join")(spark, sf))
      assert(!p.contains("CartesianProduct"), p.take(4000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    }
  }

  test("q151 boolean search probes the term-bucketed posting store " +
    "with a LITERAL term-IN — the predicate reaches the parquet reader " +
    "of the term-sorted bucket files (posting-list reads, not a corpus " +
    "scan) and the ranked cut is TakeOrderedAndProject") {
    val p = physical(SearchQueries.queries("q151_boolean_search")(spark, sf))
    assert(p.contains("graft_postings"), p.take(4000))
    assert(p.contains("PushedFilters"), p.take(4000))
    assert(p.contains("In(term"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
  }

  test("q154 hybrid retrieval broadcasts a LIMIT-BOUNDED candidate set " +
    "(round-13 verdict #1: the raw boolean-AND hit set of the two " +
    "highest-df terms is corpus-proportional — only the BM25-ranked " +
    "top-1000 TakeOrderedAndProject cut may reach the broadcast) and " +
    "the dense leg hash-joins it, never sort-merging the embeddings") {
    val p = physical(
      SearchQueries.queries("q154_lexical_dense_hybrid")(spark, sf))
    assert(p.contains(
      s"TakeOrderedAndProject(limit=${SearchQueries.LexCandidateLimit}"),
      p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("q164 BM25 scoring stays index-shaped: literal term-IN reaches " +
    "the posting store's parquet reader (postings of the 16 query " +
    "terms move, never the corpus), df broadcasts, the corpus scalars " +
    "ride as sidecar-fed LITERALS (no corpus-grain distinct/total " +
    "aggregate anywhere in the serving plan), and the top-20 cut is " +
    "TakeOrderedAndProject") {
    val p = physical(SearchQueries.queries("q164_bm25_topk")(spark, sf))
    assert(p.contains("graft_postings"), p.take(4000))
    assert(p.contains("In(term"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject(limit=20"), p.take(4000))
    assert(!p.toLowerCase.contains("distinct"), p.take(4000))
  }

  test("q125 PQ assignment is a pure map-side projection: 8 codegen'd " +
    "NearestCentroid argmins, NO shuffle exchange and NO sort-aggregate " +
    "anywhere (the groupBy(min(struct)) formulation shuffles the corpus " +
    "to fold 16 already-co-located rows)") {
    val p = physical(SimilarityQueries.queries("q125_pq_knn")(spark, sf))
    assert(!p.contains("SortAggregate"), p.take(4000))
    assert(!p.replace("BroadcastExchange", "BX").contains("Exchange"),
      p.take(4000))
  }

  test("q126 serves over the FOLDED lifecycle store: literal cell-IN " +
    "on the bucketed table, frozen grid as literals — no grid or " +
    "assignment subtree at serve time") {
    val p = physical(SimilarityQueries.queries("q126_quant_index_fold")(spark, sf))
    assert(p.contains("graft_sq_lifecycle"), p.take(4000))
    assert(p.contains("In(cell"), p.take(4000))
    assert(!p.contains("Generate"), p.take(4000))
  }

  test("q130 PageRank: per-round persists truncate the iteration " +
    "lineage — the final plan reads ONE cached frame, zero parquet " +
    "scans (the unpersisted formulation doubles the plan every round: " +
    "2^5 corpus scans at the tail)") {
    graft.core.CacheScope.withScope {
      // the rendered string re-prints every InMemoryRelation's cached
      // BUILD plan (so a fully truncated lineage still "shows" dozens
      // of scans), and AdaptiveSparkPlanExec hides its subtree from
      // collect() — assert on the top-level section instead: everything
      // ABOVE the first cache boundary must be scan-free
      val p = physical(GraphQueries.queries("q130_pagerank")(spark, sf))
      val top = p.split("InMemoryRelation")(0)
      assert(top.contains("InMemoryTableScan"), p.take(2000))
      assert(!top.contains("Scan parquet"), p.take(2000))
    }
  }

  test("q131 recall eval: ground truth aggregates through the bounded " +
    "top-k buffer (ObjectHashAggregate — the shuffle carries k rows per " +
    "query per partition, never the |Q|·n score matrix) and the index " +
    "leg reads the same stored codes q122 serves from") {
    val p = physical(SimilarityQueries.queries("q131_ann_recall")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), p.take(4000))
    assert(p.contains("graft_sqidx"), p.take(4000))
  }

  test("q132 SemDeDup prune: the corpus never meets itself — members " +
    "scan the IVF store, centroids and medoids broadcast (cluster-grain " +
    "frames), no sort-merge join anywhere") {
    val p = physical(SimilarityQueries.queries("q132_semdedup_prune")(spark, sf))
    assert(p.contains("graft_ivfstore"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("q134 hybrid retrieval: the k-bounded shortlist broadcasts onto " +
    "the documents scans — the corpus never sort-merge-joins itself for " +
    "a |Q|*10-pair lexical re-rank") {
    val p = physical(SimilarityQueries.queries("q134_hybrid_retrieval")(spark, sf))
    assert(p.contains("graft_sqidx"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("q135 token drift: the corpus is tokenized ONCE (vocab-grain " +
    "counts persisted for both consumers), totals broadcast, and the " +
    "top-20 cut is TakeOrderedAndProject — no global sort") {
    graft.core.CacheScope.withScope {
      val p = physical(CorpusStatsQueries.queries("q135_token_drift")(spark, sf))
      val top = p.split("InMemoryRelation")(0)
      assert(!top.contains("Scan parquet"), p.take(4000))
      assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    }
  }

  test("q140 zorder serve: the literal zkey range reaches the parquet " +
    "reader of the (shard, zkey)-sorted store — the pushdown that makes " +
    "the layout a contiguous tile read") {
    val p = physical(EventQueries.queries("q140_zorder_serve")(spark, sf))
    assert(p.contains("graft_zstore"), p.take(4000))
    assert(p.contains("PushedFilters"), p.take(4000))
    assert(p.contains("GreaterThanOrEqual(zkey"), p.take(4000))
  }

  // The real q137/q138 invariant (round-12 verdict #1): the former pin
  // asserted BroadcastHashJoin — but the step frames are USER-grain
  // (cardinality grows with the data), so the broadcast()-hint that
  // forced it was an OOM at 100× users. What must hold instead: (a) no
  // forced broadcast of a user-grain frame — the planner may still
  // size-pick one, which degrades to a shuffle join as users grow
  // (graceful, where the hint was fatal); (b) the event source is
  // scanned exactly ONCE, into the cached projection — the event
  // stream never self-joins at event grain against a fresh scan;
  // (c) every step aggregation folds MAP-SIDE (partial_min before its
  // exchange), so step shuffles carry user-grain partials, never the
  // event stream.
  test("q137 funnel: no broadcast() hint of a user-grain frame, the " +
    "event source scans once (into the cache), and step mins fold " +
    "map-side so every step shuffle is user-grain partials") {
    graft.core.CacheScope.withScope {
      val df = EventQueries.queries("q137_funnel")(spark, sf)
      val opt = df.queryExecution.optimizedPlan
      assert(!opt.toString.contains("strategy=broadcast"),
        opt.toString.take(4000))
      val leaves = opt.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        leaves.map(_.getClass.getName).mkString(","))
      assert(physical(df).contains("partial_min"), physical(df).take(6000))
    }
  }

  test("q138 cohort retention: no broadcast() hint of the user-grain " +
    "cohort map, one event scan (into the cache), map-side partials on " +
    "both the cohort min and the distinct count") {
    graft.core.CacheScope.withScope {
      val df = EventQueries.queries("q138_cohort_retention")(spark, sf)
      val opt = df.queryExecution.optimizedPlan
      assert(!opt.toString.contains("strategy=broadcast"),
        opt.toString.take(4000))
      val leaves = opt.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        leaves.map(_.getClass.getName).mkString(","))
      val p = physical(df)
      assert(p.contains("partial_min"), p.take(6000))
      assert(p.contains("partial_count"), p.take(6000))
    }
  }

  test("q139 session paths: path frequencies partial-aggregate (the " +
    "shuffle carries distinct paths, not sessions) and the cut is " +
    "TakeOrderedAndProject") {
    val p = physical(EventQueries.queries("q139_session_paths")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(p.contains("partial_count"), p.take(4000))
  }

  test("q128 BPE encode is ONE map-side projection over ONE scan: the " +
    "trained merges chain as nested literal replaces — no join, no " +
    "re-derivation of the merged corpus") {
    val p = physical(CorpusStatsQueries.queries("q128_bpe_encode")(spark, sf))
    assert(p.split("Scan parquet").length - 1 == 1, p.take(4000))
    assert(!p.contains("Join"), p.take(4000))
  }

  test("q42 near-dup joins on (label, salt) with no broadcast of the " +
    "embeddings table (round-1 audit: full-table broadcast)") {
    val p = physical(SimilarityQueries.q42EmbedNearDup(spark, sf))
    assert(p.contains("ShuffledHashJoin"), p.take(4000))
    assert(!p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("q104 semantic clusters: the dup-proportional label frame " +
    "BROADCASTS onto the corpus scan (never a corpus-side shuffle for " +
    "a tiny right side), one cluster-window exchange above it") {
    val p = physical(
      SimilarityQueries.queries("q104_semantic_dup_clusters")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("LeftOuter, BuildRight"), p.take(4000))
  }

  test("q77 pair mining: salted shuffle join (no broadcast) and the " +
    "argmax reduces map-side — the pair matrix never crosses an exchange") {
    val p = physical(SimilarityQueries.queries("q77_pair_mining")(spark, sf))
    assert(p.contains("ShuffledHashJoin"), p.take(4000))
    assert(!p.contains("BroadcastHashJoin"), p.take(4000))
    // partial min(struct) collapses each task's block to one candidate
    // row per vector before the final (label, vec_id) shuffle
    assert(p.contains("partial_min"), p.take(4000))
    assert(!p.contains("Window"), p.take(4000))
  }

  test("q34 moves the shingle stream through ONE exchange: no distinct " +
    "shuffle, no count window (round-2 rewrite)") {
    val p = physical(DedupTextQueries.q34NgramJaccard(spark, TestSpark.Sf0001))
    assert(!p.contains("Window"), p.take(4000))
    // bucket groupBy + (tiny) pair groupBy + final sort — nothing else
    assert(p.split("Exchange").length - 1 <= 4, p.take(4000))
  }

  test("q57 shingles the corpus once: the dedup chain and the " +
    "decontamination branch both read one cached shingle relation") {
    graft.core.CacheScope.withScope {
      val p = physical(DedupTextQueries.q57ReleaseVerdict(spark, TestSpark.Sf0001))
      assert(p.split("InMemoryTableScan").length - 1 >= 2, p.take(4000))
    }
  }

  test("AQE splits a skewed sort-merge join at runtime (the engine-level " +
    "complement to the manual salting in core/Skew)") {
    import spark.implicits._
    withConf(spark)(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      // one hot key carrying ~90% of rows, joined against a small dim
      val fact = (0 until 60000)
        .map(i => (if (i % 10 == 0) i.toLong % 97 else 7L, s"payload-$i"))
        .toDF("k", "v")
      val dim = (0L until 97L).map(k => (k, s"dim-$k")).toDF("k", "name")
      val joined = fact.join(dim, "k")
      joined.collect() // AQE re-plans at runtime
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.take(4000))
    }
  }

  test("q61 quantiles aggregate the histogram BEFORE any window: " +
    "exactly the window sort + final ORDER BY, no corpus-wide sort") {
    val p = physical(CorpusStatsQueries.q61LengthQuantiles(spark, sf))
    assert(p.contains("partial_count"), p.take(4000))
    // a regression that sorts the corpus pre-aggregation (the classic
    // quantile trap) adds a third Sort / fourth Exchange
    assert(p.split("Sort ").length - 1 <= 2, p.take(4000))
    assert(p.split("Exchange").length - 1 <= 3, p.take(4000))
  }

  test("q72 reads the ON-DISK stores: the pair leg scans the band " +
    "store (exchange-free enumeration), both signature join sides " +
    "scan the signature store — no shingle re-derivation anywhere") {
    graft.core.CacheScope.withScope {
      val p = physical(DedupTextQueries.queries("q72_minhash_jaccard")(spark, sf))
      assert(p.split("graft_sigstore").length - 1 >= 2, p.take(4000))
      assert(p.contains("graft_bandstore"), p.take(4000))
      // the shingle expression must appear ZERO times — no text touched
      assert(!p.toLowerCase.contains("wordshingles"), p.take(4000))
    }
  }

  test("the LSH family reads the on-disk stores — q32/q53/q64 plans " +
    "are WordShingles-free and their band legs scan the bucketed " +
    "BAND table (round-5 headline: the chain was rebuilt cold per " +
    "query; round-8: the band shuffle moved into the store build)") {
    for (q <- Seq("q32_minhash_pairs", "q53_dedup_verdict",
        "q64_incremental_neardup")) {
      graft.core.CacheScope.withScope {
        val p = physical(DedupTextQueries.queries(q)(spark, sf))
        assert(!p.toLowerCase.contains("wordshingles"), s"$q rebuilds shingles\n" + p.take(3000))
        // the store table must appear by NAME (round-6 advisory: an
        // InMemoryTableScan alternative would also accept a persisted
        // inline recompute — the word_shingles guard alone doesn't
        // prove the store is read)
        assert(p.contains("graft_bandstore"),
          s"$q does not read the band store\n" + p.take(3000))
      }
    }
  }

  test("q84 reads the ON-DISK bigram LM store: the plan is the rank " +
    "window over the stored table — zero corpus tokenizes (round-7 " +
    "verdict #2)") {
    val p = physical(DedupTextQueries.queries("q84_bigram_topnext")(spark, sf))
    assert(p.contains("graft_lmstore"), p.take(4000))
    assert(!p.toLowerCase.contains("wordshingles"), p.take(4000))
  }

  test("q90 tokenizes the corpus exactly ONCE (the scoring stream); " +
    "the LM side scans the store table (round-7 verdict #2: the " +
    "double tokenize+explode)") {
    val p = physical(DedupTextQueries.queries("q90_lm_support")(spark, sf))
    assert(p.contains("graft_lmstore"), p.take(4000))
    // plan-string spelling: the custom expression renders as its
    // lowercased class name, NOT the SQL-registered word_shingles
    assert(p.toLowerCase.split("wordshingles").length - 1 == 1,
      s"expected exactly one corpus tokenize\n${p.take(4000)}")
  }

  test("q80 persists the near-dup edge frame: both leakage legs read " +
    "one cached relation instead of re-running the store→pairs shuffle " +
    "(round-5 advisory)") {
    graft.core.CacheScope.withScope {
      val p = physical(DedupTextQueries.queries("q80_split_leakage")(spark, sf))
      assert(p.split("InMemoryTableScan").length - 1 >= 2, p.take(4000))
      assert(!p.toLowerCase.contains("wordshingles"), p.take(4000))
    }
  }

  test("q73 coverage curve aggregates the vocabulary BEFORE the single-" +
    "partition rank window (the q61 two-phase discipline)") {
    val p = physical(CorpusStatsQueries.q73VocabCoverage(spark, sf))
    assert(p.contains("partial_count"), p.take(4000))
    // windows rank the vocab-bounded count table, never corpus rows: the
    // plan prints root-first, so nothing BELOW the corpus explode (after
    // it in the string) may sort — a pre-aggregation sort is the trap
    val exploded = p.indexOf("Generate explode")
    assert(exploded >= 0, p.take(4000))
    assert(!p.substring(exploded).contains("Sort "),
      s"no sort may appear below the corpus explode\n${p.take(4000)}")
  }

  test("q74 shard manifest: one hash exchange on shard + per-shard sort, " +
    "no global sort below the window") {
    val p = physical(CorpusStatsQueries.q74ShardManifest(spark, sf))
    // exchanges: hashpartitioning(shard) for the window + the final
    // ORDER BY's range exchange — nothing else
    assert(p.split("Exchange").length - 1 <= 2, p.take(4000))
    assert(p.contains("hashpartitioning"), p.take(4000))
  }

  test("q63 joins are all broadcast at this scale — a vocabulary join " +
    "regressing to sort-merge would be the corpus-sized-shuffle trap") {
    graft.core.CacheScope.withScope {
      val df = CorpusStatsQueries.q63TokenRarity(spark, sf)
      df.collect() // let AQE pick strategies from real sizes
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p.take(4000))
      assert(!p.contains("SortMergeJoin"), p.take(4000))
    }
  }

  test("q95 embedding admission: the store-side cap window runs over " +
    "the (band,bkey)-bucketed admission band store with NO band-keyed " +
    "exchange — the corpus side of the semantic gate is exchange-free " +
    "like q64's") {
    graft.core.CacheScope.withScope {
      val p = physical(SimilarityQueries.queries("q95_embedding_admission")(spark, sf))
      assert(p.contains("graft_embbandstore"), p.take(4000))
      assert(!p.contains("Exchange hashpartitioning(band"), p.take(4000))
      assert(p.contains("BroadcastHashJoin"), p.take(4000))
    }
  }

  test("q96 pattern search: ONE user-keyed exchange builds every " +
    "window, scoring is map-side, and the cut is " +
    "TakeOrderedAndProject — no global sort of the scored stream") {
    val p = physical(EventQueries.queries("q96_pattern_topk")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p.take(4000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(4000))
  }

  test("q176 SCD2: ONE user-keyed hash exchange feeds both windows AND " +
    "the segment fold — gaps-and-islands shares the partitioning, no " +
    "re-exchange on (user, grp) or for the user-grain report") {
    val p = physical(EventQueries.q176Scd2Dimension(spark, sf))
    val ex = p.split("Exchange hashpartitioning").length - 1
    val userEx = p.split("Exchange hashpartitioning\\(user_id").length - 1
    assert(ex == userEx, p.take(4000))
    assert(userEx == 1, p.take(4000))
  }

  test("q175 merge: every doc-grain hash exchange keys on doc_id (the " +
    "compaction fold and the full-outer merge share the key) and the " +
    "merge is a full-outer join, never a broadcast") {
    val p = physical(IngestQueries.q175MergeUpsert(spark, sf))
    assert(p.contains("FullOuter"), p.take(4000))
    val ex = p.split("Exchange hashpartitioning").length - 1
    val docEx = p.split("Exchange hashpartitioning\\(doc_id").length - 1
    val statusEx = p.split("Exchange hashpartitioning\\(status").length - 1
    // doc_id exchanges + the single 4-row status report exchange account
    // for every hash exchange in the plan
    assert(ex == docEx + statusEx && statusEx == 1, p.take(4000))
  }

  test("q173 bloom: the word-frame build partial-aggregates map-side " +
    "(bit_or partials before its bounded exchange) and the probe side " +
    "joins the <=256-row sketch without shuffling the probe stream on " +
    "a sketch key") {
    val p = physical(CorpusStatsQueries.q173BloomMembership(spark, sf))
    assert(p.contains("partial_bit_or") || p.contains("partial_"),
      p.take(4000))
    // the probe join must not hash-exchange the probe stream on `word`
    // at corpus grain more than once (build + probe sides only)
    val wordEx = p.split("Exchange hashpartitioning\\(word").length - 1
    assert(wordEx <= 2, p.take(4000))
  }

  test("q185 skew audit: the only table-grain work per key is a " +
    "map-side-combined count (partial_count before the key exchange); " +
    "the totals frame broadcasts back onto the key frame") {
    val p = physical(RelationalQueries.q185SkewAudit(spark, sf))
    assert(p.contains("partial_count"), p.take(4000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(4000))
  }

  test("q186 runtime-filter prune: the fact table is NEVER hash-" +
    "exchanged — every bit test and the exact confirm are broadcast " +
    "joins, the only hash exchanges are dim-grain (sketch build + " +
    "dim-key dedup)") {
    val p = physical(RelationalQueries.q186BloomJoinPrune(spark, sf))
    // no exchange keyed on any fact (orders) column
    assert(!p.contains("Exchange hashpartitioning(o_"), p.take(6000))
    // the bit tests + confirm are broadcast
    assert(p.split("BroadcastHashJoin").length - 1 >= 3, p.take(6000))
  }

  test("q187 interpolation: one cached events scan, and the user-grain " +
    "cache layout satisfies the bounds agg, the grid join and all four " +
    "window frames — ZERO hash exchanges outside the cached daily frame") {
    graft.core.CacheScope.withScope {
      val df = EventQueries.q187Interpolate(spark, sf)
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        leaves.map(_.getClass.getName).mkString(","))
      // collect stops at InMemoryTableScan leaves: this is the OUTER plan
      val outerShuffles = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val hash = outerShuffles.filter(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
      assert(hash.isEmpty, outerShuffles.mkString("\n"))
    }
  }

  test("q188 triangles: wedge and closing joins are equi-joins (no " +
    "cartesian product anywhere), the closing join is a LEFT SEMI, and " +
    "the oriented edge frame is cached once for both join sides") {
    graft.core.CacheScope.withScope {
      val df = GraphQueries.queries("q188_triangle_count")(spark, sf)
      val p = physical(df)
      assert(!p.contains("CartesianProduct"), p.take(6000))
      assert(p.contains("LeftSemi"), p.take(6000))
      assert(p.contains("InMemoryTableScan"), p.take(6000))
    }
  }

  test("q189 IVM serve: the bucketed partial store satisfies the " +
    "merge aggregation's clustering — ZERO hash exchanges in the serve " +
    "plan (base and delta partials meet co-located)") {
    val df = RelationalQueries.q189IncrementalAggView(spark, sf)
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val hash = shuffles.filter(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(hash.isEmpty, shuffles.mkString("\n"))
  }

  test("q206 widened-store serve: schema evolution must not break the " +
    "bucket layout's exchange elision — zero hash exchanges across " +
    "the schema seam, exactly like q189") {
    val df = RelationalQueries.q206StoreWidenFold(spark, sf)
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val hash = shuffles.filter(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(hash.isEmpty, shuffles.mkString("\n"))
  }

  test("q190 grouped HLL: the register fold partial-aggregates " +
    "map-side (max partials) — the shuffle carries at most " +
    "groups x 256 register rows, never the event stream") {
    graft.core.CacheScope.withScope {
      val p = physical(EventQueries.queries("q190_grouped_hll")(spark, sf))
      assert(p.contains("partial_max"), p.take(4000))
    }
  }

  test("q191 retractable IVM serve: the bucketed signed-partial store " +
    "satisfies the merge aggregation — zero hash exchanges in the " +
    "serve plan, like q189") {
    val df = IngestQueries.queries("q191_retractable_agg_view")(spark, sf)
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val hash = shuffles.filter(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(hash.isEmpty, shuffles.mkString("\n"))
  }

  test("q192 rolling HLL: daily registers fold with map-side max " +
    "partials and the ONLY window in the plan partitions by the " +
    "bounded register key — never an event-grain or user-grain frame") {
    graft.core.CacheScope.withScope {
      val p = physical(EventQueries.queries("q192_rolling_hll")(spark, sf))
      assert(p.contains("partial_max"), p.take(4000))
      val windows = p.linesIterator
        .filter(_.contains("windowspecdefinition(")).toSeq
      assert(windows.nonEmpty &&
        windows.forall(_.contains("windowspecdefinition(reg")),
        windows.mkString("\n"))
    }
  }

  test("q194 concurrency: the boundary-delta prefix sum partitions by " +
    "day (each day's window scans only its own rows); the only " +
    "unpartitioned window is the day-grain carry") {
    graft.core.CacheScope.withScope {
      val p = physical(EventQueries.queries("q194_concurrency")(spark, sf))
      val windows = p.linesIterator
        .filter(_.contains("windowspecdefinition(")).toSeq
      assert(windows.exists(w => w.contains("windowspecdefinition(day#") &&
        w.contains(", ms#")), windows.mkString("\n"))
      val unpart = windows.filterNot(w =>
        w.contains("windowspecdefinition(day#") && w.contains(", ms#"))
      assert(unpart.nonEmpty && unpart.forall(
        _.matches(".*windowspecdefinition\\(day#\\d+L? ASC.*")),
        windows.mkString("\n"))
    }
  }

  test("column pruning: q16 scans only the columns it projects") {
    val scan = EventQueries.q16ProjCot(spark, sf)
      .queryExecution.executedPlan.toString
    // events has 6 columns; props/value/user_id/event_id are used, ts is not
    assert(scan.contains("ReadSchema"), scan.take(3000))
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("\"ts\""), readSchema)
  }
}
