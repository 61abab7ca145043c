package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The injection seam: a session built by `GraftSession.builder` (which
  * applies `withExtensions(new GraftExtensions())`) must resolve the
  * custom expressions straight from SQL text. (The equivalent
  * `spark.sql.extensions=graft.GraftExtensions` config is a STATIC conf
  * bound when the SparkContext is created, so it can't be exercised
  * inside this shared-context test JVM — same class, same apply path.)
  *
  * Extensions are per-SparkSession, so the test clears the JVM-default
  * session (getOrCreate would otherwise return the shared TestSpark one,
  * silently skipping the extensions) and builds a sibling session over
  * the same SparkContext. The context itself is shared — no stop().
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions registers cosine_sim/l2_dist as SQL functions") {
    val shared = TestSpark.spark // ensure the context exists
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = graft.core.GraftSession.builder(4).getOrCreate()
      val r = s.sql(
        """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
          |       l2_dist(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS d""".stripMargin)
        .head
      assert(r.getDouble(0) === 1.0)
      assert(r.getDouble(1) === 5.0)
      // catalog-visible, unlike a temp-function registration
      assert(s.sql("DESCRIBE FUNCTION cosine_sim").collect()
        .map(_.getString(0)).mkString("\n").contains("cosine_sim"))
      assert(s.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .head.getDouble(0) === 11.0)
      assert(s.sql("SELECT word_shingles('a b c d')").head.getSeq[String](0)
        === Seq("a b c", "b c d"))
      // the top_k AGGREGATE works from bare SQL, GROUP BY included
      val topk = s.sql(
        """SELECT g, top_k(id, score, 2) AS top FROM VALUES
          |  ('a', 1L, 0.5D), ('a', 2L, 0.9D), ('a', 3L, 0.7D),
          |  ('b', 4L, 0.1D) AS t(g, id, score)
          |GROUP BY g ORDER BY g""".stripMargin).collect()
      assert(topk.map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0))).toSeq
        === Seq("a" -> Seq(2L, 3L), "b" -> Seq(4L)))
      // minhash_band_keys from bare SQL matches the Column-API expression
      val sqlKeys = s.sql(
        "SELECT minhash_band_keys('a b c d e f') AS k").head.getSeq[String](0)
      val colKeys = {
        val arr = graft.functions.MinHashBandKeys
          .compute(org.apache.spark.unsafe.types.UTF8String.fromString("a b c d e f"))
        (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
      }
      assert(sqlKeys === colKeys)
      assert(sqlKeys.length === graft.functions.MinHashBandKeys.Bands)
      // wrong arity fails with a readable message, not an index error
      val err = intercept[Exception](s.sql("SELECT cosine_sim(array(1.0D))"))
      assert(err.getMessage.contains("cosine_sim expects exactly 2"),
        err.getMessage)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
