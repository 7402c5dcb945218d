package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{SparkEntry, TestSpark}

/** Bounded top-k aggregator: equivalence with the window form
  * (the scale-path ≡ naive discipline), tie determinism, buffer
  * boundedness. */
class TopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic skewed fixture: 400 rows, 7 groups, duplicate values
  private lazy val rows: Seq[(Long, Double, Long)] =
    (1L to 400L).map(i => (i % 7, (i * 31 % 50).toDouble, i))

  test("aggregator equals the window form, ties and all") {
    val agg = TopK.topKPerGroup(rows.toDF("g", "v", "tie")
        .as[(Long, Double, Long)].repartition(13), 3)
      .select("g", "rank", "tie", "v")
      .as[(Long, Int, Long, Double)].collect().toSet
    val win = rows.toDF("g", "v", "tie")
      .withColumn("rank", row_number().over(
        Window.partitionBy("g").orderBy(col("v").desc, col("tie"))))
      .filter(col("rank") <= 3)
      .select(col("g"), col("rank").cast("int"), col("tie"), col("v"))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(agg == win)
  }

  test("groups smaller than k return all their rows, ranked") {
    val small = Seq((1L, 5.0, 10L), (1L, 7.0, 11L), (2L, 1.0, 12L))
    val out = TopK.topKPerGroup(small.toDS(), 3)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(out == Set((1L, 1, 11L, 7.0), (1L, 2, 10L, 5.0),
      (2L, 1, 12L, 1.0)))
  }

  test("equal values rank by tie id ascending") {
    val tied = Seq((1L, 5.0, 30L), (1L, 5.0, 10L), (1L, 5.0, 20L))
    val out = TopK.topKPerGroup(tied.toDS(), 2)
      .select("rank", "tie").as[(Int, Long)].collect().toSet
    assert(out == Set((1, 10L), (2, 20L)))
  }

  test("buffer never exceeds k entries through reduce and merge") {
    val a = new TopKAggregator(2)
    val b = (1L to 20L).foldLeft(a.zero)((buf, i) =>
      a.reduce(buf, (i.toDouble, i)))
    assert(b.entries.size == 2)
    assert(b.entries.map(_.v) == Seq(20.0, 19.0))
    val m = a.merge(b,
      TopKBuf(Seq(TopKEntry(25.0, 99L), TopKEntry(1.0, 98L))))
    assert(m.entries.size == 2)
    assert(m.entries.map(_.v) == Seq(25.0, 20.0))
  }

  test("mixed ±0.0 ranks like the SQL window form: zeros collapse, " +
    "ties break on id — a lower-tie -0.0 beats a higher-tie +0.0") {
    val a = new TopKAggregator(2)
    // +0.0 with high tie arrives first and fills the buffer
    val b0 = a.reduce(a.zero, (0.0, 50L))
    val b1 = a.reduce(b0, (1.0, 1L))
    // -0.0 with a LOWER tie must displace the +0.0/tie=50 floor
    val b2 = a.reduce(b1, (-0.0, 10L))
    assert(b2.entries.map(_.tie) == Seq(1L, 10L),
      s"-0.0 with lower tie must win the tie against +0.0: $b2")
    // and the stored value is the normalized +0.0 (bit-stable output)
    assert(java.lang.Double.doubleToRawLongBits(b2.entries.last.v) == 0L)
  }

  test("NaN sorts as the largest value (Spark SQL ordering), " +
    "consistently through reduce and merge") {
    val a = new TopKAggregator(2)
    val b = Seq((5.0, 1L), (Double.NaN, 2L), (7.0, 3L))
      .foldLeft(a.zero)(a.reduce)
    assert(b.entries.map(_.tie) == Seq(2L, 3L))
    val m = a.merge(TopKBuf(Seq(TopKEntry(Double.NaN, 9L))), b)
    assert(m.entries.map(_.tie) == Seq(2L, 9L))
  }

  test("SQL-surface udaf hash-matches the typed aggregator: " +
    "top_k3 over orders == topKPerGroup over orders") {
    val d = graft.TestSpark.sf0001
    val typed = SparkEntry.queries("w12_topk_agg")(spark, d)
      .collect().map(_.toSeq).toSet
    val viaSql = SparkEntry.queries("w13_topk_sql")(spark, d)
      .collect().map(_.toSeq).toSet
    assert(viaSql == typed)
  }
}
