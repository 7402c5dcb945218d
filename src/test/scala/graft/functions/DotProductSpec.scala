package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class DotProductSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dot_product matches hand values over float and double arrays") {
    graft.GraftExtensions.install(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0), 32.0),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0, 1.0, 1.0), 0.0),
      (Array(-1.0f, 1.0f, 0.5f), Array(2.0, 2.0, 2.0), 1.0)
    ).toDF("a", "b", "want")
    val bad = df.selectExpr("abs(dot_product(a, b) - want) as err")
      .filter(col("err") > 1e-12).count()
    assert(bad == 0)
  }

  test("dot_product equals the HOF formulation on real embeddings") {
    graft.GraftExtensions.install(spark)
    val e = graft.Tables.t(spark, TestSpark.sf0001, "embeddings")
      .limit(50)
      .select(col("embedding").as("a"), col("embedding").as("b"))
    val hof = e.select(
      aggregate(zip_with(
        transform(col("a"), x => x.cast("double")),
        transform(col("b"), x => x.cast("double")),
        (x, y) => x * y), lit(0.0), (acc, v) => acc + v).as("d"))
      .as[Double].collect()
    val native = e.selectExpr("dot_product(a, b) as d")
      .as[Double].collect()
    assert(hof.zip(native).forall { case (h, n) => h == n },
      "native and HOF dot products must be bit-identical")
  }

  test("dimension mismatch raises, nulls propagate") {
    graft.GraftExtensions.install(spark)
    val mixed = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(1.0, 2.0, 3.0))))
      .toDF("a", "b")
    intercept[Exception] {
      mixed.selectExpr("dot_product(a, b)").collect()
    }
    val withNull = Seq((Option.empty[Array[Double]], Some(Array(1.0))))
      .toDF("a", "b")
    assert(withNull.selectExpr("dot_product(a, b) as d")
      .collect().head.isNullAt(0))
    // null ELEMENT → null result (matches the HOF formulation)
    val nullElem = Seq((Seq(Some(1.0), None), Seq(Some(2.0), Some(3.0))))
      .toDF("a", "b")
    assert(nullElem.selectExpr("dot_product(a, b) as d")
      .collect().head.isNullAt(0))
  }

  test("stays inside whole-stage codegen") {
    graft.GraftExtensions.install(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cg = graft.Tables.t(spark, TestSpark.sf0001, "embeddings")
        .selectExpr("dot_product(embedding, embedding) as d")
        .queryExecution.explainString(
          org.apache.spark.sql.execution.CodegenMode)
      assert(!cg.contains("Found 0 WholeStageCodegen"), cg.take(400))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
