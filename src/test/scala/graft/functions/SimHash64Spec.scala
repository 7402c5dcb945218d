package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class SimHash64Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native simhash64 equals the HOF formulation bit-for-bit") {
    graft.GraftExtensions.install(spark)
    val docs = graft.Tables.t(spark, TestSpark.sf0001, "documents")
      .limit(100)
      .withColumn("toks", graft.text.TextOps.tokens(lower(col("text"))))
    val hof = docs.select(
      aggregate(
        transform(col("toks"), tk => xxhash64(tk)),
        array_repeat(lit(0), 64),
        (acc, h) => zip_with(acc,
          array((0 until 64).map { b =>
            when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)
          }: _*), (a, v) => a + v),
        accArr => (0 until 64).map { b =>
          when(element_at(accArr, b + 1) > 0, lit(1L << b)).otherwise(0L)
        }.reduce(_ + _)).as("sh"))
      .as[Long].collect()
    val native = docs.selectExpr("simhash64(toks) as sh")
      .as[Long].collect()
    assert(hof.sameElements(native))
  }

  test("empty array and null behavior") {
    graft.GraftExtensions.install(spark)
    val df = Seq(
      (1L, Some(Seq.empty[String])),
      (2L, Option.empty[Seq[String]]),
      (3L, Some(Seq("a", "b")))
    ).toDF("id", "toks")
    val rows = df.selectExpr("id", "simhash64(toks) as sh")
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == 0L) // empty → all counts 0 → 0
    assert(rows(1).isNullAt(1))      // null in → null out
    assert(rows(2).getLong(1) != 0L)
  }
}
