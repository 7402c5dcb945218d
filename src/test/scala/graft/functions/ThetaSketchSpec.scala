package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Theta-sketch set algebra: exact-mode correctness across partitions
  * (exercising update/merge/serialize), set-op hand values,
  * partitioning invariance in ESTIMATION mode (the determinism claim:
  * a theta sketch is a function of the value set only), null
  * handling, and type checking. */
class ThetaSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def est(df: org.apache.spark.sql.DataFrame): Long = {
    graft.GraftExtensions.install(spark)
    df.agg(expr("theta_estimate(theta_sketch(v))")).as[Long].head()
  }

  test("exact mode: estimate == exact distinct, any partitioning") {
    val vals = (1L to 1000L) ++ (1L to 1000L) // dups collapse
    for (parts <- Seq(1, 7, 32)) {
      assert(est(vals.toDF("v").repartition(parts)) == 1000L,
        s"parts=$parts")
    }
  }

  test("set ops: hand values on overlapping sets") {
    graft.GraftExtensions.install(spark)
    val a = (1L to 30L).toDF("v")
      .agg(expr("theta_sketch(v)").as("sk")).as[Array[Byte]].head()
    val b = (21L to 50L).toDF("v")
      .agg(expr("theta_sketch(v)").as("sk")).as[Array[Byte]].head()
    val r = Seq((a, b)).toDF("a", "b").select(
      expr("theta_estimate(theta_union(a, b))"),
      expr("theta_estimate(theta_intersect(a, b))"),
      expr("theta_estimate(theta_anotb(a, b))"))
      .as[(Long, Long, Long)].head()
    assert(r == ((50L, 10L, 20L)))
  }

  test("nulls are skipped, empty input yields an empty sketch") {
    graft.GraftExtensions.install(spark)
    val withNulls = Seq[java.lang.Long](1L, null, 2L, null, 1L)
      .toDF("v")
    assert(est(withNulls) == 2L)
    assert(est(Seq.empty[Long].toDF("v")) == 0L)
  }

  test("estimation mode (> nominal k distinct): deterministic " +
    "across partitionings, within the published error bound") {
    // 50k distinct >> k = 4096 → genuine estimation
    val base = (1L to 50000L).toDF("v")
    val e1 = est(base.repartition(3))
    val e2 = est(base.repartition(17))
    val e3 = est(base.coalesce(1))
    assert(e1 == e2 && e2 == e3,
      s"sketch moved with partitioning: $e1 / $e2 / $e3")
    // 4σ at RSE ≈ 1/sqrt(4096) ≈ 1.56% → ±6.25%
    assert(math.abs(e1 - 50000L) <= 3200, s"estimate $e1 off by >4σ")
  }

  test("wrong input type fails analysis, not at runtime") {
    graft.GraftExtensions.install(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq("a").toDF("v").agg(expr("theta_sketch(v)")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("theta_sketch"))
  }

  test("gate identity: sketch set algebra equals exact set algebra " +
    "on the sf0.001 orders halves") {
    val out = graft.SparkEntry.queries("x_theta_set_ops")(
      spark, graft.TestSpark.sf0001)
      .as[(Long, Long, Long, Long, Long)].head()
    val o = graft.Tables.t(spark, graft.TestSpark.sf0001, "orders")
      .select(pmod(col("o_custkey"), lit(3000)).as("k"),
        (col("o_orderkey") % 2).as("half"))
    val aSet = o.filter(col("half") === 0).select("k")
      .distinct().as[Long].collect().toSet
    val bSet = o.filter(col("half") === 1).select("k")
      .distinct().as[Long].collect().toSet
    assert(out == ((aSet.size.toLong, bSet.size.toLong,
      (aSet ++ bSet).size.toLong, (aSet & bSet).size.toLong,
      (aSet -- bSet).size.toLong)))
  }
}
