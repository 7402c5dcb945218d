package graft.cli

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import java.nio.file.Files

/** The end-to-end ETL driver: runs the full cycle twice — the second
  * run must be an incremental no-op on the fact table (the reference's
  * nightly-rerun semantics). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("pipeline runs end-to-end and reruns incrementally") {
    val wh = Files.createTempDirectory("graft_pipe").toString
    Pipeline.run(spark, TestSpark.sf0001, wh)
    val n1 = spark.read.parquet(s"$wh/lineitem_inc").count()
    assert(n1 > 0)
    assert(spark.read.parquet(s"$wh/tpm2").count() > 0)
    assert(spark.table("brand_revenue").count() > 0)

    // simulate a manual edit to the assignments table: it must survive
    // the rerun (Overrides semantics end-to-end through the pipeline)
    import spark.implicits._
    val edited = spark.read.parquet(s"$wh/assignments")
      .as[(String, String)].collect().toMap
      .updated("3", "MANUAL_TARGET") + ("999" -> "SKIP")
    edited.toSeq.toDF("key", "assignment")
      .write.mode("overwrite").parquet(s"$wh/assignments")

    // rerun: same input, nothing new → fact table unchanged
    Pipeline.run(spark, TestSpark.sf0001, wh)
    assert(spark.read.parquet(s"$wh/lineitem_inc").count() == n1)
    val after = spark.read.parquet(s"$wh/assignments")
      .as[(String, String)].collect().toMap
    assert(after("3") == "MANUAL_TARGET") // hand edit survived
    assert(after("999") == "SKIP")        // skip survived
  }

  test("tpm2 built over two batches of disjoint samples equals the " +
    "one-shot TPM over both") {
    import org.apache.spark.sql.functions._
    // two batch dirs: lineitem split by l_suppkey (the sample key) into
    // disjoint halves, every other table linked from sf0.001
    def batch(keep: org.apache.spark.sql.Column): String = {
      val dir = Files.createTempDirectory("graft_batch_sf").toString
      graft.Tables.names.filterNot(_ == "lineitem").foreach { n =>
        Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$dir/$n.parquet"),
          java.nio.file.Paths.get(s"${TestSpark.sf0001}/$n.parquet"))
      }
      graft.Tables.t(spark, TestSpark.sf0001, "lineitem").filter(keep)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/lineitem.parquet")
      dir
    }
    val b0 = batch(col("l_suppkey") % 2 === 0)
    val b1 = batch(col("l_suppkey") % 2 === 1)
    val wh = Files.createTempDirectory("graft_pipe_batches").toString
    Pipeline.run(spark, b0, wh)
    Pipeline.run(spark, b1, wh)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("sample").cast("long"), col("target").cast("long"),
        col("n_aligned"), col("rpkm"), col("tpm"))
    val built = rows(spark.read.parquet(s"$wh/tpm2"))
    val oneShot = rows(graft.ops.Abundance.tpm(spark, TestSpark.sf0001))
    assert(built.select("sample").distinct().count() ==
      oneShot.select("sample").distinct().count())
    assert(built.exceptAll(oneShot).isEmpty)
    assert(oneShot.exceptAll(built).isEmpty)
  }

  test("join pre-flight vetoes a planted hot key before the star " +
    "join shuffles") {
    import org.apache.spark.sql.functions._
    // fake sf dir: part table dirtied with one massively duplicated
    // key (a bad dim dedup), every other table linked from sf0.001
    val dirty = Files.createTempDirectory("graft_hot_sf").toString
    graft.Tables.names.filterNot(_ == "part").foreach { n =>
      Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dirty/$n.parquet"),
        java.nio.file.Paths.get(s"${TestSpark.sf0001}/$n.parquet"))
    }
    val part = graft.Tables.t(spark, TestSpark.sf0001, "part")
    val hotKey = part.select(min("p_partkey")).head.getLong(0)
    val hot = part.filter(col("p_partkey") === hotKey)
      .withColumn("__copy", explode(sequence(lit(1), lit(500))))
      .drop("__copy")
    part.unionByName(hot).coalesce(1).write.mode("overwrite")
      .parquet(s"$dirty/part.parquet")

    val wh = Files.createTempDirectory("graft_pipe_hot").toString
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, dirty, wh, maxJoinFanout = 2.0)
    }
    assert(e.getMessage.contains("pre-flight veto"),
      s"unexpected failure: ${e.getMessage}")
    // the veto fired BEFORE the star view was (re)defined for this run
    assert(e.getMessage.contains("Skew.saltedJoin"))
  }

  test("mix-drift veto stops a second cycle whose fresh batch " +
    "shifts the category mix, before anything lands") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_pipe_drift").toString
    Pipeline.run(spark, TestSpark.sf0001, wh)
    val n1 = spark.read.parquet(s"$wh/lineitem_inc").count()

    // second-cycle sf dir: same tables, but lineitem carries NEW
    // samples (shifted suppkeys) that are ALL one returnflag — the
    // classic silently-broken upstream export
    val dirty = Files.createTempDirectory("graft_drift_sf").toString
    graft.Tables.names.filterNot(_ == "lineitem").foreach { n =>
      Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dirty/$n.parquet"),
        java.nio.file.Paths.get(s"${TestSpark.sf0001}/$n.parquet"))
    }
    graft.Tables.t(spark, TestSpark.sf0001, "lineitem")
      .withColumn("l_suppkey", col("l_suppkey") + 100000L)
      .withColumn("l_returnflag", lit("A"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dirty/lineitem.parquet")

    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, dirty, wh, maxMixDrift = 0.1)
    }
    assert(e.getMessage.contains("mix-drift veto"),
      s"unexpected failure: ${e.getMessage}")
    // vetoed BEFORE the append: warehouse row count unchanged
    assert(spark.read.parquet(s"$wh/lineitem_inc").count() == n1)
  }

  test("publish gate holds a dirty batch's violating rows back") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a fake sf dir: every table linked from sf0.001, lineitem dirtied
    // with one null-key row and one out-of-range quantity row
    val dirty = Files.createTempDirectory("graft_dirty_sf").toString
    graft.Tables.names.filterNot(_ == "lineitem").foreach { n =>
      Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dirty/$n.parquet"),
        java.nio.file.Paths.get(s"${TestSpark.sf0001}/$n.parquet"))
    }
    val li = graft.Tables.t(spark, TestSpark.sf0001, "lineitem")
    val nClean = li.count()
    val bad = li.limit(2)
      .withColumn("rid", monotonically_increasing_id())
      .withColumn("l_orderkey",
        when(col("rid") === 0, lit(null).cast("bigint"))
          .otherwise(col("l_orderkey")))
      .withColumn("l_quantity",
        when(col("rid") === 1, lit(999.0)).otherwise(col("l_quantity")))
      .drop("rid")
    li.unionByName(bad).coalesce(1).write.mode("overwrite")
      .parquet(s"$dirty/lineitem.parquet")

    val wh = Files.createTempDirectory("graft_pipe_dirty").toString
    Pipeline.run(spark, dirty, wh)
    val quar = spark.read.parquet(s"$wh/quarantine")
    assert(quar.count() == 2)
    val rules = quar.select("violated_rules").as[String]
      .collect().toSet
    assert(rules == Set("p1_orderkey", "p2_quantity"))
    // the warehouse got ONLY the clean rows
    assert(spark.read.parquet(s"$wh/lineitem_inc").count() == nClean)
  }
}
