package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.GraftSession.withConf
import graft.functions.VectorFunctions._

class VectorFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine similarity: known values over float arrays") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f), 1.0),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f), math.sqrt(0.5))
    ).toDF("a", "b", "expect")
    df.collect() // materialize input
    val got = df.select(cosineSimilarity($"a", $"b").as("sim"), $"expect").collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"got ${r.getDouble(0)} expected ${r.getDouble(1)}")
    }
  }

  test("cosine similarity: zero vector yields null, null input yields null") {
    val got = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f)))
      .toDF("a", "b")
      .select(cosineSimilarity($"a", $"b")).head
    assert(got.isNullAt(0))
    val gotNull = Seq((null.asInstanceOf[Array[Float]], Array(1.0f)))
      .toDF("a", "b")
      .select(cosineSimilarity($"a", $"b")).head
    assert(gotNull.isNullAt(0))
  }

  test("interpreted eval matches codegen") {
    val df = Seq((Array(0.3f, -1.2f, 4.5f), Array(2.0f, 0.5f, -0.25f))).toDF("a", "b")
    val viaCodegen = df.select(cosineSimilarity($"a", $"b")).head.getDouble(0)
    val e = CosineSimilarity(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(df("a")),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(df("b")))
    // direct nullSafeEval on the raw arrays
    val a = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0.3f, -1.2f, 4.5f))
    val b = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(2.0f, 0.5f, -0.25f))
    val viaEval = e.nullSafeEval(a, b).asInstanceOf[Double]
    assert(viaCodegen == viaEval)
  }

  test("l2 distance") {
    val got = Seq((Array(0.0f, 0.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .select(l2Distance($"a", $"b")).head.getDouble(0)
    assert(got == 5.0)
  }

  test("two instances of each vector expression in ONE projection stay " +
    "codegen'd (freshName'd locals; fallback disabled would throw on a " +
    "name collision)") {
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    withConf(spark)("spark.sql.codegen.fallback" -> "false") {
      val df = Seq(
        (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f),
          Array(0.9f, 0.1f, 0.0f), Array(0.0f, 0.8f, 0.6f)))
        .toDF("a", "b", "c", "d")
      val r = df.select(
        cosineSimilarity($"a", $"b").as("s1"),
        cosineSimilarity($"c", $"d").as("s2"),
        dotProduct($"a", $"b").as("d1"),
        dotProduct($"c", $"d").as("d2"),
        l2Distance($"a", $"b").as("l1"),
        l2Distance($"c", $"d").as("l2"),
        NearestCentroid.nearestCentroid($"a", cents).as("n1"),
        NearestCentroid.nearestCentroidUnit($"c", cents).as("n2")).head
      assert(math.abs(r.getAs[Double]("d1") - 10.0) < 1e-12)
      assert(math.abs(r.getAs[Double]("d2") - 0.08) < 1e-7)
      assert(math.abs(r.getAs[Double]("l1") - math.sqrt(8.0)) < 1e-12)
      // a=(1,2,3): dist² to (1,0,0)=13, to (0,1,0)=11 → cell 1;
      // c normalized ≈ (0.994,0.110,0) → cell 0
      assert(r.getAs[Int]("n1") == 1 && r.getAs[Int]("n2") == 0)
      // both cosines present and sane
      assert(r.getAs[Double]("s1") > 0 && r.getAs[Double]("s2") >= 0)
    }
  }

  test("SQL registration: cosine_sim usable from spark.sql") {
    register(spark)
    Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val got = spark.sql("SELECT cosine_sim(a, b) FROM vecs").head.getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }
}
