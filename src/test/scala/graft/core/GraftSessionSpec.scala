package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.GraftSession.withConf

/** `withConf` leaves the session's explicitly-set conf exactly as it
  * found it: a key the body scoped is unset again if it was unset
  * before (not pinned to its registered default, which would read as
  * session drift), and an explicitly set key gets its value back.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a registered key that was not set stays unset after withConf, " +
    "also when the body throws") {
    val key = "spark.sql.cbo.planStats.enabled"
    spark.conf.unset(key)
    assert(!spark.conf.getAll.contains(key))
    withConf(spark)(key -> "true") {
      assert(spark.conf.get(key) == "true")
    }
    assert(!spark.conf.getAll.contains(key))
    intercept[IllegalStateException] {
      withConf(spark)(key -> "true") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(!spark.conf.getAll.contains(key))
  }

  test("an explicitly set key gets its prior value back") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.getAll(key)
    withConf(spark)(key -> "7") {
      assert(spark.conf.get(key) == "7")
    }
    assert(spark.conf.getAll.get(key).contains(before))
  }
}
