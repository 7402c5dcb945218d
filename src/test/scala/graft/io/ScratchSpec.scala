package graft.io

import graft.TestSpark.jobsDuring
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Scratch.stage` reads its parquet back with the schema it wrote:
  * the same frame a footer-inferred read gives, with no inference
  * job. */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("stage keeps the inferred schema and runs only the write's jobs") {
    // non-null long, array, struct and map columns
    val df = spark.range(5).select(col("id"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"),
      map(lit("k"), col("id")).as("m"))
    assert(!df.schema("id").nullable)
    val (staged, stageJobs) = jobsDuring(Scratch.stage(df, "spec"))
    val p = staged.inputFiles.head.split("/part-").head
    assert(staged.schema == spark.read.parquet(p).schema)
    assert(staged.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    val (_, writeJobs) = jobsDuring(
      df.write.parquet(Scratch.path("spec_write").toString))
    assert(stageJobs == writeJobs,
      s"stage ran $stageJobs jobs, the write alone $writeJobs")
  }
}
