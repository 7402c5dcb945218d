package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class GcContentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("gc_content matches hand values, handles case/empty/null") {
    graft.GraftExtensions.install(spark)
    val df = Seq(
      ("ACGT", Some(50.0)),
      ("acgt", Some(50.0)),
      ("GGCC", Some(100.0)),
      ("ATAT", Some(0.0)),
      ("", None)
    ).toDF("seq", "want")
    val got = df.selectExpr("seq", "want", "gc_content(seq) as gc")
      .collect()
    got.foreach { r =>
      val want = if (r.isNullAt(1)) null else r.getDouble(1)
      val gc = if (r.isNullAt(2)) null else r.getDouble(2)
      assert(gc == want, s"seq=${r.getString(0)}")
    }
    // null input → null out
    val n = Seq(Option.empty[String]).toDF("seq")
      .selectExpr("gc_content(seq) as gc").collect()
    assert(n.head.isNullAt(0))
    // multi-byte characters: denominator is CHARACTERS, not bytes
    val mb = Seq("GC\u00e9").toDF("seq")
      .selectExpr("gc_content(seq) as gc").collect()
    assert(math.abs(mb.head.getDouble(0) - 200.0 / 3) < 1e-9)
  }

  test("gc_content equals the regexp formulation on real sequences") {
    graft.GraftExtensions.install(spark)
    val fasta = graft.io.Readers.parseFastaText(
      spark.createDataset(Seq(graft.io.Fixtures.fasta)))
    // gc_pct is rounded to 4dp by the reader; round the expression too
    val bad = fasta
      .withColumn("gc_expr", round(expr("gc_content(seq)"), 4))
      .filter(abs(col("gc_expr") - col("gc_pct")) > 1e-9)
    assert(bad.count() == 0)
  }

  test("gc_content stays inside whole-stage codegen (no fallback)") {
    graft.GraftExtensions.install(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cg = spark.range(10)
        .selectExpr("gc_content(cast(id as string)) as g")
        .queryExecution.explainString(
          org.apache.spark.sql.execution.CodegenMode)
      assert(!cg.contains("Found 0 WholeStageCodegen"), cg.take(400))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
