package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, L2Distance}

/** Session-extension entry point: makes the engine's custom Catalyst
  * expressions first-class SQL functions in ANY session without calling
  * [[graft.functions.VectorFunctions.register]] by hand —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or, on any SparkSession.Builder (graft.core.GraftSession.builder does)
  * builder.withExtensions(new GraftExtensions()) ...
  * }}}
  *
  * then `SELECT cosine_sim(embedding, q_emb) ...` parses, analyzes and
  * codegens like a built-in. This is the supported injection seam for
  * libraries (config-driven, catalog-visible, no session mutation), vs
  * `functionRegistry.createOrReplaceTempFunction` which is per-session
  * and invisible to `DESCRIBE FUNCTION`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    // the full constructor is the only non-deprecated usage-bearing one;
    // last arg is `source` and must be a recognized registry kind
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  /** Fail wrong-arity calls with a readable analysis-time message rather
    * than an IndexOutOfBounds from the builder lambda.
    */
  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = es => {
    if (es.length != n) throw new IllegalArgumentException(
      s"$name expects exactly $n argument(s), got ${es.length}")
    build(es)
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer surface: interval-overlap θ-joins plan as tile
    // equi-joins (q160's decomposition as an automatic rewrite —
    // disable per session with spark.graft.intervalJoin.rewrite=false)
    ext.injectOptimizerRule(_ => graft.plans.IntervalOverlapJoinRewrite)
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two float/double arrays " +
          "(index-ordered double accumulation)"),
      arity("cosine_sim", 2)(es => CosineSimilarity(es.head, es(1)))))
    ext.injectFunction((FunctionIdentifier("l2_dist"),
      info("l2_dist",
        "l2_dist(a, b) - Euclidean distance of two float/double arrays"),
      arity("l2_dist", 2)(es => L2Distance(es.head, es(1)))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product",
        "dot_product(a, b) - dot product of two float/double arrays " +
          "(index-ordered double accumulation)"),
      arity("dot_product", 2)(es => graft.functions.DotProduct(es.head, es(1)))))
    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles",
        "word_shingles(text) - whitespace-tokenized 3-word shingle array " +
          "in one pass (the dedup-suite primitive)"),
      arity("word_shingles", 1)(es => graft.functions.WordShingles(es.head))))
    ext.injectFunction((FunctionIdentifier("char_trigrams"),
      info("char_trigrams",
        "char_trigrams(text) - overlapping 3-character windows (code " +
          "points) in one pass (the language-ID primitive)"),
      arity("char_trigrams", 1)(es => graft.functions.CharTrigrams(es.head))))
    ext.injectFunction((FunctionIdentifier("luhn_scrub"),
      info("luhn_scrub",
        "luhn_scrub(text) - struct(n_candidates, n_cards, redacted): " +
          "maximal 16-digit runs are candidates, Luhn-valid candidates " +
          "are cards and redact to <CARD>, in one codegen'd pass"),
      arity("luhn_scrub", 1)(es => graft.functions.LuhnScrub(es.head))))
    ext.injectFunction((FunctionIdentifier("minhash_band_keys"),
      info("minhash_band_keys",
        "minhash_band_keys(text) - the full MinHash+LSH banding of one " +
          "document as an array of band-key hex strings (array position " +
          "= band); bit-identical to the batch q31/q32 signature pipeline"),
      arity("minhash_band_keys", 1)(es =>
        graft.functions.MinHashBandKeys(es.head))))
    ext.injectFunction((FunctionIdentifier("interval_overlap"),
      info("interval_overlap",
        "interval_overlap(s1, e1, s2, e2) - strict overlap predicate " +
          "s1 < e2 AND s2 < e1 over epoch-ms BIGINTs; in a join " +
          "condition it explicitly marks the four roles for the " +
          "interval-join tile rewrite"),
      arity("interval_overlap", 4)(es =>
        graft.functions.IntervalOverlap(es(0), es(1), es(2), es(3)))))
    ext.injectFunction((FunctionIdentifier("top_k"),
      info("top_k",
        "top_k(id, score, k) - aggregate: the k (id, score) structs with " +
          "the highest scores (ties to the smaller id), as a rank-ordered " +
          "array; bounded buffer, k rows per group through the shuffle"),
      arity("top_k", 3)(es => {
        val k = es(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"top_k's k must be an integer literal, got $other")
        }
        graft.functions.TopKAggregate(es.head, es(1), k).toAggregateExpression()
      })))
  }
}
