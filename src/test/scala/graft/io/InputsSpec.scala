package graft.io

import graft.TestSpark.jobsDuring
import graft.Tables
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Inputs` reads what `Tables.t` reads, infers each input's schema
  * once, and infers again when the files or the parquet confs change. */
class InputsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val sf = graft.TestSpark.sf0001
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("every fixture table reads as Tables.t reads it") {
    Tables.names.foreach { n =>
      val a = Inputs.t(spark, sf, n)
      val b = Tables.t(spark, sf, n)
      assert(a.schema == b.schema, n)
      assert(rows(a) == rows(b), n)
    }
  }

  test("a second read of a table starts no Spark job") {
    Inputs.t(spark, sf, "orders")
    val (df, jobs) = jobsDuring(Inputs.t(spark, sf, "orders"))
    assert(jobs == 0, s"the memoized read started $jobs jobs")
    val (_, inferJobs) = jobsDuring(Tables.t(spark, sf, "orders"))
    assert(inferJobs >= 1, "Tables.t should infer with a job")
    assert(df.schema == Tables.t(spark, sf, "orders").schema)
  }

  test("a table rewritten at the same path is read with its new schema") {
    val dir = Scratch.path("inputs_rewrite").toString
    spark.range(3).toDF("a").write.parquet(s"$dir/orders.parquet")
    assert(Inputs.t(spark, dir, "orders").schema.fieldNames.toSeq ==
      Seq("a"))
    spark.range(4).select(col("id").as("b"), lit("x").as("c"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val back = Inputs.t(spark, dir, "orders")
    assert(back.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(back.count() == 4)
  }

  test("an int64-nanos events file follows nanosAsLong between reads") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Scratch.path("inputs_nanos").toString
    val p = s"$dir/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      """message events { optional int64 event_id;
           optional int64 ts (TIMESTAMP(NANOS,false)); }""")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(p))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1500000000123456789L))
    finally w.close()
    val before = spark.conf.getOption(NanosAsLong)
    try {
      spark.conf.set(NanosAsLong, "true")
      assert(Inputs.parquet(spark, p).schema("ts").dataType == LongType)
      spark.conf.set(NanosAsLong, "false")
      intercept[AnalysisException](spark.read.parquet(p))
      intercept[AnalysisException](Inputs.parquet(spark, p))
      // the events loader sets the conf itself, as Tables.t does
      val ev = Inputs.t(spark, dir, "events")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(rows(ev) == rows(Tables.t(spark, dir, "events")))
    } finally before match {
      case Some(v) => spark.conf.set(NanosAsLong, v)
      case None => spark.conf.unset(NanosAsLong)
    }
  }

  test("a missing table fails with Tables.t's exception") {
    val missing = Scratch.path("inputs_missing").toString
    val a = intercept[AnalysisException](Inputs.t(spark, missing, "orders"))
    val b = intercept[AnalysisException](Tables.t(spark, missing, "orders"))
    assert(a.getClass == b.getClass)
  }

  test("no engine file but Tables.scala and Bench.scala calls Tables.t") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val call = raw"Tables\.t\s*\(|import\s+graft\.Tables\.(t\b|_|\{)".r
    val files = java.nio.file.Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      files.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(f => Set("Tables.scala", "Bench.scala")(
          f.getFileName.toString))
        .filter(f => call.findFirstIn(
          new String(java.nio.file.Files.readAllBytes(f))).isDefined)
        .map(root.relativize(_).toString).toSeq.sorted
    } finally files.close()
    assert(offenders.isEmpty,
      s"read inputs through graft.io.Inputs.t, not Tables.t: $offenders")
  }
}
