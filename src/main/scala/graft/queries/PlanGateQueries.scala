package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.core.GraftSession.withConf
import graft.core.Tables._
import graft.queries.FaultGateQueries.allNodes

/** Plan-mechanism gates (q278–q288): the physical-plan
  * mechanisms a 100 TB deployment leans on that were previously proved
  * only at scalatest grain (BucketedJoinSpec, AqeSkewSpec's strategy
  * notes, VectorFunctionsSpec's parity tests, TpcdsShapeSpec's
  * ReusedExchange check), each promoted to a driver-visible oracle
  * row in the q272–q274 style: the DATA columns are recomputed cleanly
  * by DuckDB (hash equality = the mechanism changes no bytes), and the
  * MECHANISM columns are booleans read from the executed plan itself,
  * pinned TRUE by the oracle — a run where the mechanism silently
  * failed to engage (a bucketed join that shuffled anyway, an AQE that
  * never switched strategies, an exchange recomputed instead of
  * reused, a nested scan that materialized the payload) fails the gate
  * as loudly as a wrong answer. PlanGateSpec holds each detector's
  * discriminative power with negative controls.
  *
  * Why these: at 100 TB the expensive resources are the shuffle and
  * the scan —
  *  - q278: the big-big join where NEITHER side broadcasts; bucketing
  *    both sides on the join key at write time is the only plan that
  *    moves zero bytes at read time.
  *  - q279: runtime join-strategy switching is AQE's third leg (q274
  *    gates the skew-split and coalesce legs) — static size estimates
  *    over a derived dimension are garbage, and the planner must be
  *    allowed to recover AFTER seeing real stage output sizes.
  *  - q280: a multi-consumer subplan (self-joins, diffing a dataset
  *    against its own aggregate) must pay its shuffle ONCE;
  *    exchange reuse is what turns "read the corpus twice" into
  *    "read the map output twice".
  *  - q281: codegen and interpreted evaluation both RUN at scale
  *    (janino method/size limits force per-operator fallbacks on the
  *    widest plans) — eval/doGenCode divergence in any expression is
  *    a silent wrong-answer generator.
  *  - q282: null-safe join keys must stay HASHABLE — an engine that
  *    demotes `<=>` to a nested loop dies at scale, and a plain `=`
  *    join silently drops the null-keyed corpus slice.
  *  - q284: nested corpora must scan metadata leaves, not payloads —
  *    requiredSchema narrowing is the nested analog of column pruning.
  */
object PlanGateQueries {

  /** Identity-exact census of the HASH shuffle exchanges in an
    * executed plan: (tree occurrences, distinct physical shuffles,
    * reuse engaged). [[allNodes]] recurses a ReusedExchangeExec into
    * its child — the ORIGINAL exchange object — and AQE's stage-level
    * reuse grafts the same stage (or a ReusedExchange-wrapped one) at
    * a second tree position, so in every reuse rendering the distinct
    * count is by OBJECT IDENTITY of the underlying ShuffleExchangeExec
    * nodes. Deliberately no structural/string comparison: two
    * identical-looking exchanges that both RAN are exactly the
    * regression this census exists to catch. Range exchanges (a final
    * ORDER BY) are out of scope — the claim is about data shuffles.
    */
  private def exchangeCensus(plan: SparkPlan): (Int, Int, Boolean) = {
    val nodes = allNodes(plan)
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    val explicitReuse = nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ReusedExchangeExec])
    val distinct = exchanges.map(System.identityHashCode).distinct.size
    (exchanges.size, distinct,
      explicitReuse || distinct < exchanges.size)
  }

  /** PlanGateSpec's negative-control seam. */
  private[graft] def censusForTest(plan: SparkPlan): (Int, Int, Boolean) =
    exchangeCensus(plan)

  private def hasShuffleBelow(plan: SparkPlan): Boolean =
    allNodes(plan).exists {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
      case q: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec =>
        true
      case _ => false
    }

  // ─────────────────────────────────────────────────────────────────
  // q278 — CO-LOCATED BUCKETED JOIN, ZERO EXCHANGE (BucketedJoinSpec
  // promoted to the oracle tier): both sides written bucketed on
  // doc_id with the same bucket count, broadcast disabled so the
  // co-located path stands on its own. The gate reads the executed
  // plan's join subtree: the bucketed join must have NO shuffle below
  // it (`colocated_zero_exchange`), while the unbucketed control twin
  // — same data, same join, one side a plain DataFrame — must pay one
  // (`control_paid_exchange`): the claim is about the LAYOUT, not a
  // planner coincidence that would also green a broken layout.
  //
  // Scale shape: this is THE big-big join plan at 100 TB — neither a
  // web corpus nor its per-doc feature store fits a broadcast, and
  // re-shuffling either per join is the cost the write-time bucket
  // layout amortizes across every downstream join. The per-lang
  // aggregate above the join legitimately exchanges lang-grain rows.
  // ─────────────────────────────────────────────────────────────────
  val q278BucketedColocatedJoin: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"), col("lang"),
      col("n_chars"))
    val meta = docs.select(col("doc_id"),
      (col("n_chars") * 2L).as("weight"))
    val td = RunStore.tableName("graft_bkt_docs", d)
    val tm = RunStore.tableName("graft_bkt_meta", d)
    graft.core.Tables.writeBucketedSorted(docs, td, numBuckets = 8,
      bucketKeys = Seq("doc_id"), sortKeys = Seq("doc_id"))
    graft.core.Tables.writeBucketedSorted(meta, tm, numBuckets = 8,
      bucketKeys = Seq("doc_id"), sortKeys = Seq("doc_id"))
    withConf(s)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      def joinNode(df: DataFrame): Option[SparkPlan] = {
        df.collect() // metrics/final plan need the real execution
        allNodes(df.queryExecution.executedPlan).collectFirst {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        }
      }
      val colocated = s.table(td).join(s.table(tm), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("weight")).as("weight_sum"))
        .orderBy("lang")
      val colocJoin = joinNode(colocated)
      val zeroExchange = colocJoin.exists(j => !hasShuffleBelow(j))

      val control = s.table(td).join(meta, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("weight")).as("weight_sum"))
      val controlJoin = joinNode(control)
      val controlPaid = controlJoin.exists(hasShuffleBelow)

      val rows = colocated.collect().toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2),
          zeroExchange, controlPaid))
      import s.implicits._
      rows.toDF("lang", "n_docs", "weight_sum",
        "colocated_zero_exchange", "control_paid_exchange")
        .orderBy("lang")
    }
  }

  val q278Sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars * 2) AS BIGINT) AS weight_sum,
      |  TRUE AS colocated_zero_exchange,
      |  TRUE AS control_paid_exchange
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q279 — AQE RUNTIME JOIN-STRATEGY SWITCH (the third AQE leg, after
  // q274's skew-split and coalesce): the corpus joins a DERIVED
  // dimension (the per-lang doc counts) whose size no static estimate
  // can know — static broadcast is disabled outright
  // (autoBroadcastJoinThreshold=-1), so the initial physical plan MUST
  // carry a sort-merge join; the adaptive threshold stays on, so once
  // the dimension's map stage finishes and its true size (a few
  // hundred bytes) is known, AQE must re-plan the probe side as a
  // broadcast-hash join. Both facts are read from the same
  // QueryExecution: the plan BEFORE the action (isFinalPlan=false,
  // `static_planned_smj`) and the plan after (`runtime_broadcast`).
  //
  // Scale shape: derived dims are the NORMAL case in a curation
  // pipeline (every groupBy output joined back is one), and their
  // static estimates inherit the fact table's garbage row counts —
  // without this switch every such join is a full corpus shuffle.
  // ─────────────────────────────────────────────────────────────────
  val q279AqeJoinSwitch: Q = (s, d) =>
    withConf(s)(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "1m") {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars"))
      val dim = docs.groupBy("lang")
        .agg(count(lit(1)).as("lang_docs"))
      val joined = docs.join(dim, "lang")
        .agg(count(lit(1)).as("n_joined"),
          sum(col("n_chars") + col("lang_docs")).as("check_sum"))
      val staticPlan = joined.queryExecution.executedPlan.toString
      val staticSmj = staticPlan.contains("SortMergeJoin")
      val row = joined.collect()(0)
      val runtimeBroadcast =
        allNodes(joined.queryExecution.executedPlan).exists(
          _.isInstanceOf[
            org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      import s.implicits._
      Seq((row.getLong(0), row.getLong(1), staticSmj, runtimeBroadcast))
        .toDF("n_joined", "check_sum", "static_planned_smj",
          "runtime_broadcast")
    }

  val q279Sql: String =
    """WITH dim AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_docs
      |            FROM documents GROUP BY lang)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_joined,
      |  CAST(SUM(n_chars + lang_docs) AS BIGINT) AS check_sum,
      |  TRUE AS static_planned_smj, TRUE AS runtime_broadcast
      |FROM documents JOIN dim USING (lang)""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q280 — EXCHANGE REUSE: the per-lang aggregate self-joined on lang
  // (the "compare each group to its own aggregate" shape every
  // reconciliation query has). Both join inputs are the SAME
  // canonical subplan (scan → partial agg → exchange → final agg), so
  // the planner must pay the corpus scan + shuffle ONCE and graft the
  // second consumer onto the same exchange — surfaced as a
  // ReusedExchangeExec or as one ShuffleQueryStage id appearing at
  // two tree positions; `exchange_reused` pins it, and
  // `n_distinct_exchanges` pins HOW MANY distinct shuffles actually
  // ran (1 — a regression to 2 recomputes the corpus scan).
  //
  // Scale shape: without reuse, every self-referential query doubles
  // its corpus I/O; with it, the second leg costs one map-output read.
  // ─────────────────────────────────────────────────────────────────
  val q280ExchangeReuse: Q = (s, d) =>
    withConf(s)(
      "spark.sql.exchange.reuse" -> "true",
      // broadcast off: a broadcast of side b would still reuse the
      // underlying shuffle, but the SMJ shape keeps the census exact
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val agg = documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
      val joined = agg.as("a")
        .join(agg.withColumnRenamed("n_docs", "n_docs_b").as("b"), "lang")
        .orderBy("lang")
      val rows = joined.collect().toSeq
      val (_, distinct, reused) =
        exchangeCensus(joined.queryExecution.executedPlan)
      import s.implicits._
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          reused && distinct == 1, distinct.toLong))
        .toDF("lang", "n_docs", "n_docs_b", "exchange_reused",
          "n_distinct_exchanges")
        .orderBy("lang")
    }

  val q280Sql: String =
    """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      |           FROM documents GROUP BY lang)
      |SELECT a.lang, a.n_docs, b.n_docs AS n_docs_b,
      |  TRUE AS exchange_reused, CAST(1 AS BIGINT) AS n_distinct_exchanges
      |FROM c a JOIN c b USING (lang) ORDER BY lang""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q281 — CODEGEN ≡ INTERPRETED (the two execution paths every
  // Catalyst expression ships): the same expression-dense pipeline —
  // all five of the repo's native codegen'd expressions (WordShingles,
  // CharTrigrams, LuhnScrub, MinHashBandKeys, VectorFunctions' dot
  // product) composed with builtins — run twice in one query: once
  // under whole-stage codegen (span presence pinned), once with
  // `spark.sql.codegen.wholeStage=false` + `factoryMode=NO_CODEGEN`
  // (every projection/predicate/ordering forced onto the interpreted
  // eval path). The full per-lang fingerprints AND a double-valued
  // embedding fingerprint must be BIT-IDENTICAL across the paths
  // (`interpreted_matches`) — promoting VectorFunctionsSpec's
  // per-function parity test to a whole-pipeline oracle row.
  //
  // Scale relevance: at 100 TB both paths RUN — codegen hits its
  // 8,000-generated-method / 64 KB janino limits on wide plans and
  // falls back per-operator, so a doGenCode that disagrees with eval
  // is a silent wrong-answer generator that only manifests on the
  // widest (= most expensive) queries. The doubles leg matters most:
  // dot products must accumulate in index order on BOTH paths.
  // ─────────────────────────────────────────────────────────────────
  val q281CodegenParity: Q = (s, d) => {
    import graft.functions.{CharTrigrams, LuhnScrub, MinHashBandKeys,
      VectorFunctions, WordShingles}
    // fixed Luhn-valid card: every doc gets exactly one real candidate,
    // so the scrub's digit-walk branch runs on every row of both paths
    val aug = concat(col("text"), lit(" card 4111111111111111 ok"))

    // span marker: simple-mode plan strings render whole-stage codegen
    // as a `*(id)` operator prefix (the word "WholeStageCodegen" only
    // appears in formatted explain)
    def spanMarker(plan: SparkPlan): Boolean = {
      val str = plan.toString
      str.contains("WholeStageCodegen") ||
        """\*\(\d+\)""".r.findFirstIn(str).isDefined
    }

    def run(codegen: Boolean): (Seq[(String, Long, Long)], Long, Boolean) = {
      val confs =
        if (codegen) Seq("spark.sql.codegen.wholeStage" -> "true")
        else Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      withConf(s)(confs: _*) {
        val scrub = LuhnScrub.luhnScrub(aug)
        val perLang = documents(s, d).select(
          col("lang"), col("doc_id"),
          size(WordShingles.wordShingles(col("text"))).cast("long")
            .as("n_shingles"),
          size(CharTrigrams.charTrigrams(col("text"))).cast("long")
            .as("n_trigrams"),
          scrub.getField("n_candidates").cast("long").as("n_cand"),
          scrub.getField("n_cards").cast("long").as("n_cards"),
          md5(scrub.getField("redacted")).as("red_fp"),
          md5(concat_ws(",", MinHashBandKeys.bandKeys(col("text"))))
            .as("band_fp"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(FaultGateQueries.fp(col("doc_id"), col("n_shingles"),
              col("n_trigrams"), col("n_cand"), col("n_cards"),
              col("red_fp"), col("band_fp"))).as("lang_fp"))
          .orderBy("lang")
        val rows = perLang.collect().toSeq.map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2)))

        // the doubles leg: a dot product per embedding, fingerprinted
        // through its shortest-repr rendering (exact on this JVM for
        // both paths) — any cross-path difference in accumulation
        // order or rounding flips the sum. collect(), not head():
        // head() runs a separate limit(1) QueryExecution, so the span
        // inspection below would read an unexecuted plan.
        val embDf = embeddings(s, d)
          .select(col("vec_id"),
            VectorFunctions.dotProduct(col("embedding"), col("embedding"))
              .cast("string").as("dp_str"))
          .agg(sum(FaultGateQueries.fp(col("vec_id"), col("dp_str"))))
        val embSum = embDf.collect()(0).getLong(0)

        // mechanism marker over BOTH legs' executed plans (advisory
        // r19 #5): codegen must engage on the strings pipeline AND the
        // doubles pipeline; the interpreted pass must be span-free on
        // both — a codegen leak confined to the embeddings leg flips
        // the boolean just as loudly as one on perLang
        val hasSpan =
          if (codegen)
            spanMarker(perLang.queryExecution.executedPlan) &&
              spanMarker(embDf.queryExecution.executedPlan)
          else
            spanMarker(perLang.queryExecution.executedPlan) ||
              spanMarker(embDf.queryExecution.executedPlan)
        (rows, embSum, hasSpan)
      }
    }

    val (cgRows, cgEmb, cgSpan) = run(codegen = true)
    val (inRows, inEmb, inSpan) = run(codegen = false)
    val matches = cgRows == inRows && cgEmb == inEmb
    import s.implicits._
    cgRows.map { case (lang, n, _) =>
      (lang, n, matches, cgSpan, !inSpan) }
      .toDF("lang", "n_docs", "interpreted_matches", "codegen_engaged",
        "interpreted_plan_clean")
      .orderBy("lang")
  }

  val q281Sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  TRUE AS interpreted_matches, TRUE AS codegen_engaged,
      |  TRUE AS interpreted_plan_clean
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q282 — NULL-SAFE EQUI-JOIN (`<=>` as a JOIN KEY, not just a
  // predicate): a curation pipeline's canonical keys are nullable
  // (un-attributable source, failed language ID), and the reconcile
  // joins must treat NULL as a real group — a plain `=` join silently
  // DROPS every null-keyed row (no error, no count mismatch on the
  // joined side, just missing data downstream). ~10% of the corpus
  // gets a NULL key here; the facts join their per-key dimension on
  // `<=>` and the NULL group must come through with its stats.
  //
  // The plan boolean is the 100 TB half of the claim: EqualNullSafe is
  // HASHABLE — Spark must plan this as a shuffled hash/sort-merge/
  // broadcast-hash equi-join (`equi_join_planned`), never a nested
  // loop; an engine that demotes null-safe keys to a theta-join dies
  // at scale. DuckDB replays with IS NOT DISTINCT FROM.
  //
  // Output keys ride COALESCE'd (`k_filled`) with an explicit
  // `is_null_group` flag — Spark sorts NULLS FIRST by default, DuckDB
  // NULLS LAST, so a raw nullable ORDER BY key would hash-mismatch on
  // row order even with identical data (the package parity rule:
  // total ORDER BY on a never-null key).
  // ─────────────────────────────────────────────────────────────────
  val q282NullsafeJoin: Q = (s, d) => {
    val facts = documents(s, d).select(
      col("doc_id"), col("n_chars"),
      when(col("n_chars") % 10 === 0, lit(null)).otherwise(col("lang"))
        .as("k"))
    // dim derives from facts — rename its key so the <=> condition
    // never trips the ambiguous-self-join resolver
    val dim = facts.groupBy("k").agg(count(lit(1)).as("grp_n"))
      .withColumnRenamed("k", "dk")
    val joined = facts.join(dim, col("k") <=> col("dk"))
      .select(col("k"), col("grp_n"), col("n_chars"))
      .groupBy("k", "grp_n")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_sum"))
    joined.collect()
    val nodes = allNodes(joined.queryExecution.executedPlan)
    val equiJoin = nodes.exists {
      case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
      case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => true
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case _ => false
    } && !nodes.exists {
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec => true
      case _ => false
    }
    joined
      .select(coalesce(col("k"), lit("(null)")).as("k_filled"),
        col("k").isNull.as("is_null_group"),
        col("grp_n"), col("n_docs"), col("chars_sum"),
        lit(equiJoin).as("equi_join_planned"))
      .orderBy("k_filled")
  }

  val q282Sql: String =
    """WITH f AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN n_chars % 10 = 0 THEN NULL ELSE lang END AS k
      |  FROM documents),
      |dim AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS grp_n
      |        FROM f GROUP BY k)
      |SELECT COALESCE(f.k, '(null)') AS k_filled,
      |  f.k IS NULL AS is_null_group, dim.grp_n,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(f.n_chars) AS BIGINT) AS chars_sum,
      |  TRUE AS equi_join_planned
      |FROM f JOIN dim ON f.k IS NOT DISTINCT FROM dim.k
      |GROUP BY 1, 2, 3 ORDER BY k_filled""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q284 — NESTED SCHEMA PRUNING: corpora land as nested documents
  // (id + metadata struct + the payload body — the quake pipeline's
  // P8 shape, and every JSONL/parquet web-corpus drop), and most
  // curation passes touch only metadata leaves. The optimizer
  // (`spark.sql.optimizer.nestedSchemaPruning`, on by default) must
  // narrow the parquet scan's requiredSchema to the REFERENCED leaves
  // — a scan that materializes `doc.body` to answer a metadata
  // aggregate reads the corpus's payload bytes for nothing, the
  // column-pruning failure mode flat-column PlanSpec pins cannot see.
  //
  // The gate lands a nested rendering of documents, aggregates two
  // metadata leaves, and reads the executed scan's requiredSchema:
  // both referenced leaves present, the payload AND the unreferenced
  // sibling leaf absent (`nested_pruned`). Data columns replay from
  // the flat table in DuckDB. At 100 TB this is the difference
  // between scanning kilobytes of metadata columns and scanning the
  // corpus.
  // ─────────────────────────────────────────────────────────────────
  val q284NestedPruning: Q = (s, d) => {
    val dir = IngestQueries.landingDir(s, d, "nestedlanding")
    documents(s, d).select(struct(
        col("doc_id").as("id"),
        struct(col("lang"), col("source"), col("n_chars")).as("meta"),
        col("text").as("body")).as("doc"))
      .write.parquet(dir)
    val agg = s.read.parquet(dir)
      .select(col("doc.meta.lang").as("lang"),
        col("doc.meta.n_chars").as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_sum"))
      .orderBy("lang")
    val rows = agg.collect().toSeq
    val required = allNodes(agg.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.requiredSchema.catalogString
    }.getOrElse("")
    val pruned = required.contains("lang") &&
      required.contains("n_chars") &&
      !required.contains("body") && !required.contains("source")
    import s.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), pruned))
      .toDF("lang", "n_docs", "chars_sum", "nested_pruned")
      .orderBy("lang")
  }

  val q284Sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
      |  TRUE AS nested_pruned
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q285 — PARQUET FILTER PUSHDOWN as a driver-visible gate (the
  // PushedFilters claim PlanSpec pins for Q1/Q6, promoted to an
  // oracle row and completing the scan-reduction trio: q230 partition
  // pruning, q284 nested-leaf pruning, here row-group/row-level
  // predicate pushdown): a selective conjunctive predicate over the
  // corpus must reach the parquet reader — the executed scan's
  // PushedFilters metadata must carry BOTH conjuncts
  // (`filters_pushed`), and the filtered aggregate must match
  // DuckDB's replay. A regression that evaluates the predicate
  // post-scan is invisible in results and costs the full corpus read
  // at 100 TB — exactly the class of silent regression these gates
  // exist to catch.
  // ─────────────────────────────────────────────────────────────────
  val q285FilterPushdown: Q = (s, d) => {
    val agg = documents(s, d)
      .filter(col("n_chars") >= 400 && col("lang") =!= "en")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_sum"))
      .orderBy("lang")
    val rows = agg.collect().toSeq
    val pushed = allNodes(agg.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.getOrElse("")
    val filtersPushed =
      pushed.contains("GreaterThanOrEqual(n_chars,400)") &&
        pushed.contains("Not(EqualTo(lang,en))")
    import s.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        filtersPushed))
      .toDF("lang", "n_docs", "chars_sum", "filters_pushed")
      .orderBy("lang")
  }

  val q285Sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
      |  TRUE AS filters_pushed
      |FROM documents
      |WHERE n_chars >= 400 AND lang <> 'en'
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q286 — PARQUET AGGREGATE PUSHDOWN (round-19 verdict #3, completing
  // the scan-reduction QUARTET: q230 partition pruning, q284 nested
  // pruning, q285 filter pushdown, and here footer-metadata
  // aggregation): a filterless COUNT/MIN/MAX over the corpus is
  // answerable from parquet FOOTERS alone — row-group statistics and
  // row counts — without touching a single data page. Spark ships the
  // mechanism behind `spark.sql.parquet.aggregatePushdown` on the
  // DSv2 parquet reader (v1's FileSourceScanExec has no aggregate
  // pushdown, so the gate routes this one read through
  // `useV1SourceList=""`), where ParquetScanBuilder implements
  // SupportsPushDownAggregates. The executed BatchScan's description
  // must carry the pushed aggregate list (`agg_pushed`) — at 100 TB
  // the difference is reading ~kilobytes of footers vs the corpus.
  //
  // The numbers themselves are the honesty check: footer stats
  // DISAGREE with recomputation if any writer lied (the classic
  // corrupt-statistics hazard), and DuckDB recomputes the same
  // COUNT/MIN/MAX from the data pages — hash equality means the
  // footer path changed no answer. PlanGateSpec holds the negative
  // controls: a filtered shape and a SUM shape both refuse the
  // pushdown (empty PushedAggregation) and still answer correctly.
  // ─────────────────────────────────────────────────────────────────
  val q286AggregatePushdown: Q = (s, d) => {
    val (rows, scanDesc) = withConf(s)(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "") {
      val agg = s.read.parquet(s"$d/documents.parquet")
        .agg(count(lit(1)).as("n_docs"),
          count(col("text")).as("n_texts"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
      val collected = agg.collect().toSeq
      val desc = allNodes(agg.queryExecution.executedPlan).collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.description()
      }.getOrElse("")
      (collected, desc)
    }
    val aggPushed = Seq("COUNT(*)", "COUNT(text)", "MIN(n_chars)",
      "MAX(n_chars)").forall(scanDesc.contains) &&
      scanDesc.contains("PushedAggregation")
    import s.implicits._
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        aggPushed))
      .toDF("n_docs", "n_texts", "min_chars", "max_chars", "agg_pushed")
  }

  val q286Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(text) AS BIGINT) AS n_texts,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      |  TRUE AS agg_pushed
      |FROM documents""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q287 — STORAGE-PARTITIONED JOIN (round-19 verdict #5, q278's
  // zero-exchange discipline in DSv2 form): two datasets land in a
  // key-grouped lake layout (`source=value/` directories), are read
  // through [[graft.sources.KeyGroupedTableProvider]] — a v2 source
  // whose scan reports KeyGroupedPartitioning over identity(source)
  // with per-partition keys ([[HasPartitionKey]]) — and join on the
  // partition key under `spark.sql.sources.v2.bucketing.enabled`.
  // The planner must recognize the two scans as co-partitioned and
  // plan the join with ZERO shuffle below it (`spj_zero_exchange`);
  // the same join through ONE v2 side and one plain DataFrame is the
  // in-query negative control (`control_paid_exchange`) proving the
  // detector can flip. Broadcast is disabled so the exchange-free
  // plan is SPJ's doing, not a small-table shortcut.
  //
  // Scale shape: this is THE join template for a curated lake — both
  // sides clustered by the join key at write time (Iceberg bucket/
  // identity transforms), reconcile/attach passes read-side free. The
  // v1 twin (q278) proves the bucketed-table form; together they
  // cover both halves of the engine's storage-colocation story.
  // ─────────────────────────────────────────────────────────────────
  val q287StoragePartitionedJoin: Q = (s, d) => {
    import graft.sources.KeyGroupedLayout
    val facts = documents(s, d).select(col("doc_id"), col("n_chars"),
      col("source"))
    val dims = documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("src_docs"))
    val factsDir = IngestQueries.landingDir(s, d, "kgfacts")
    val dimsDir = IngestQueries.landingDir(s, d, "kgdims")
    KeyGroupedLayout.write(facts, "source", factsDir)
    KeyGroupedLayout.write(dims, "source", dimsDir)
    def kg(dir: String, ddl: String): DataFrame =
      s.read.format("graft-kg").option("path", dir)
        .option("schema", ddl).option("key", "source").load()
    withConf(s)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val kgFacts = kg(factsDir,
        "doc_id BIGINT, n_chars BIGINT, source STRING")
      val kgDims = kg(dimsDir, "source STRING, src_docs BIGINT")
      def joinNode(df: DataFrame): Option[SparkPlan] = {
        df.collect()
        allNodes(df.queryExecution.executedPlan).collectFirst {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        }
      }
      val spj = kgFacts.join(kgDims, "source")
        .groupBy("source", "src_docs")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_sum"))
        .orderBy("source")
      val spjJoin = joinNode(spj)
      val zeroExchange = spjJoin.exists(j => !hasShuffleBelow(j))
      // control: same join, dims as a plain (non-reporting) DataFrame
      // — the planner has no layout to trust and must shuffle
      val control = kgFacts.join(dims, "source")
        .groupBy("source", "src_docs")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_sum"))
      val controlPaid = joinNode(control).exists(hasShuffleBelow)
      val rows = spj.collect().toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          zeroExchange, controlPaid))
      import s.implicits._
      rows.toDF("source", "src_docs", "n_docs", "chars_sum",
        "spj_zero_exchange", "control_paid_exchange")
        .orderBy("source")
    }
  }

  val q287Sql: String =
    """WITH dims AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS src_docs
      |              FROM documents GROUP BY source)
      |SELECT source, src_docs, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
      |  TRUE AS spj_zero_exchange, TRUE AS control_paid_exchange
      |FROM documents JOIN dims USING (source)
      |GROUP BY source, src_docs ORDER BY source""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q288 — VECTORIZED ≡ ROW-BASED PARQUET READER (round-19 verdict
  // #6, q281's parity discipline moved from the expression layer to
  // the SCAN): at 100 TB the vectorized reader IS the scan — every
  // byte the engine ever sees passes through its column-batch decode
  // paths (dictionary, RLE/bit-packing, nested arrays) — while the
  // row-based reader remains the fallback for types/shapes the
  // columnar path refuses. The same aggregate runs twice, once per
  // reader (`spark.sql.parquet.enableVectorizedReader`), over BOTH a
  // string-heavy table (documents: dictionary + plain pages) and a
  // nested-array table (embeddings: the repeated-group decode path,
  // fingerprinted over the float array's string rendering). The
  // full per-lang stats and the array fingerprint must be
  // BIT-IDENTICAL across readers (`readers_match`); the vectorized
  // leg's scans are pinned columnar (`vectorized_columnar`) and the
  // disabled leg's scans pinned row-based (`row_reader_clean`) so a
  // silent fall-back — the reader config ignored, or a complex-type
  // shape quietly demoting to row decode — fails the gate even when
  // the answers happen to agree. Divergence here is a silent
  // wrong-answer generator on every query the engine runs.
  // ─────────────────────────────────────────────────────────────────
  val q288VectorizedParity: Q = (s, d) => {
    def leg(vectorized: Boolean)
        : (Seq[(String, Long, Long)], Long, Boolean) =
      withConf(s)(
        "spark.sql.parquet.enableVectorizedReader" -> vectorized.toString) {
        val perLang = documents(s, d)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars_sum"),
            // 40-bit bounded fingerprints (FaultGateQueries.fp) — a
            // full-range xxhash64 sum overflows BIGINT under ANSI
            sum(FaultGateQueries.fp(col("doc_id"), col("text"),
              col("source"))).as("text_fp"))
          .orderBy("lang")
        val rows = perLang.collect().toSeq.map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2)))
        val embDf = embeddings(s, d)
          .agg(sum(FaultGateQueries.fp(col("vec_id"),
            col("embedding").cast("string"))).as("emb_fp"))
        val embFp = embDf.collect()(0).getLong(0)
        // every parquet scan in BOTH legs' plans must sit on the
        // expected decode path — one marker per leg, AND'd over all
        // FileSourceScanExec nodes of both queries
        val scansColumnar =
          (allNodes(perLang.queryExecution.executedPlan) ++
            allNodes(embDf.queryExecution.executedPlan)).collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.supportsColumnar
          }
        val marker =
          if (vectorized) scansColumnar.nonEmpty && scansColumnar.forall(identity)
          else scansColumnar.forall(!_)
        (rows, embFp, marker)
      }
    val (vRows, vEmb, vColumnar) = leg(vectorized = true)
    val (rRows, rEmb, rClean) = leg(vectorized = false)
    val matches = vRows == rRows && vEmb == rEmb
    import s.implicits._
    vRows.map { case (lang, n, chars) =>
      (lang, n, chars, matches, vColumnar, rClean) }
      .toDF("lang", "n_docs", "chars_sum", "readers_match",
        "vectorized_columnar", "row_reader_clean")
      .orderBy("lang")
  }

  val q288Sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
      |  TRUE AS readers_match, TRUE AS vectorized_columnar,
      |  TRUE AS row_reader_clean
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** The q286 detector's raw pieces, exposed for PlanGateSpec's
    * negative controls (filtered / SUM shapes must show an EMPTY
    * pushed-aggregation list while still answering correctly).
    */
  private[graft] def v2ScanDescription(df: DataFrame): String = {
    df.collect()
    allNodes(df.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.getOrElse("")
  }

  // ─────────────────────────────────────────────────────────────────

  val queries: Map[String, Q] = Map(
    "q286_aggregate_pushdown" -> q286AggregatePushdown,
    "q287_storage_partitioned_join" -> q287StoragePartitionedJoin,
    "q288_vectorized_parity" -> q288VectorizedParity,
    "q285_filter_pushdown" -> q285FilterPushdown,
    "q284_nested_pruning" -> q284NestedPruning,
    "q278_bucketed_colocated_join" -> q278BucketedColocatedJoin,
    "q279_aqe_join_switch" -> q279AqeJoinSwitch,
    "q280_exchange_reuse" -> q280ExchangeReuse,
    "q281_codegen_parity" -> q281CodegenParity,
    "q282_nullsafe_join" -> q282NullsafeJoin)

  val oracle: Map[String, String] = Map(
    "q278_bucketed_colocated_join" -> q278Sql,
    "q279_aqe_join_switch" -> q279Sql,
    "q280_exchange_reuse" -> q280Sql,
    "q281_codegen_parity" -> q281Sql,
    "q282_nullsafe_join" -> q282Sql,
    "q284_nested_pruning" -> q284Sql,
    "q285_filter_pushdown" -> q285Sql,
    "q286_aggregate_pushdown" -> q286Sql,
    "q287_storage_partitioned_join" -> q287Sql,
    "q288_vectorized_parity" -> q288Sql)
}
