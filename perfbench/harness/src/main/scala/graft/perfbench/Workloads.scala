package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.queries._

/** One operation of a pass: a quake tick or a registry query. */
sealed trait Op { def name: String }
/** Tick `index` of the seeded feed; index 0 is the pinned fixture tick. */
final case class TickOp(index: Int) extends Op {
  def name: String = if (index == 0) "tick:fixture" else s"tick:$index"
}
final case class QueryOp(query: String) extends Op { def name: String = query }

/** A named workload: what set-up must ensure, and what one pass runs. */
sealed trait Workload {
  def name: String
  /** Store and spool ensures, run in order during set-up; each returns
    * how it was satisfied ("built", "reused" or "memoized").
    */
  def ensures: Seq[(String, (SparkSession, String) => String)]
  /** The operations of pass `n`, ordered by the run's seeded `rng`. */
  def pass(n: Int, rng: scala.util.Random): Seq[Op]
}

object Workloads {

  /** Every store and spool ensure of the registry, by name, in the order
    * `graft.Bench` runs them as its set-up.
    */
  val AllEnsures: Seq[(String, (SparkSession, String) => String)] = Seq(
    "sigstore" -> SignatureStore.ensure,
    "bandstore" -> BandStore.ensure,
    "media_sigstore" -> MediaSignatureStore.ensure,
    "lm_store" -> LmStore.ensure,
    "emb_bandstore" -> SimilarityQueries.EmbBandStore.ensure,
    "emb_admission_bandstore" -> SimilarityQueries.EmbAdmissionBandStore.ensure,
    "ivf_index" -> SimilarityQueries.IvfIndexStore.ensure,
    "sq_index" -> SimilarityQueries.QuantIndexStore.ensure,
    "km_ivf_index" -> SimilarityQueries.KmIvfIndexStore.ensure,
    "dupwin_store" -> IngestQueries.DupWindowStore.ensure,
    "zstore" -> EventQueries.ZStore.ensure,
    "ivfpq_index" -> SimilarityQueries.IvfPqIndexStore.ensure,
    "posting_store" -> SearchQueries.PostingStore.ensure,
    "event_spool" -> StreamingQueries.ensureEventSpool,
    "late_spool" -> StreamingQueries.ensureLateSpool,
    "dup_event_spool" -> StreamingQueries.ensureDupEventSpool,
    "doc_spool" -> StreamingQueries.ensureDocSpool,
    "cdc_spool" -> StreamingQueries.ensureCdcSpool,
    "dup_spool" -> StreamingQueries.ensureDupSpool)

  /** The paper's job: back-to-back `QuakeRunner.run` ticks. Each pass is
    * the fixture tick followed by the next four ticks of the seeded feed,
    * so the run clock advances every tick.
    */
  object QuakeTick extends Workload {
    val name = "quake_tick"
    val ensures = Nil
    private val FeedTicksPerPass = 4
    def pass(n: Int, rng: scala.util.Random): Seq[Op] =
      TickOp(0) +: (1 to FeedTicksPerPass).map(i => TickOp(n * FeedTicksPerPass + i))
  }

  /** sf0.1 registry queries, each pass a fresh seeded permutation. The
    * launcher chooses the queries from the committed registry sweep
    * (`perfbench/registry.py`) and names the stores and spools they read,
    * which set-up ensures.
    */
  final case class Lake(queries: Seq[String], ensureNames: Seq[String]) extends Workload {
    val name = "lake"
    val ensures: Seq[(String, (SparkSession, String) => String)] = ensureNames.map { n =>
      AllEnsures.find(_._1 == n)
        .getOrElse(throw new IllegalArgumentException(s"unknown ensure '$n'"))
    }
    def pass(n: Int, rng: scala.util.Random): Seq[Op] =
      rng.shuffle(queries).map(QueryOp(_))
  }
}
