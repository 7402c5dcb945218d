package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partitioning-invariance gate over the ENTIRE query surface: every
  * SparkEntry gate query must return the identical row multiset under
  * different shuffle-partition counts. This is the engine's
  * determinism contract (decimal sums where order matters, rounded
  * tie-insensitive rankings, id-pure hashing) asserted wholesale — a
  * new operator that sneaks in an order-dependent double sum or an
  * unstable tie-break fails here without needing its own test. */
class DeterminismSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every gate query is shuffle-partitioning-invariant at sf0.001") {
    val d = TestSpark.sf0001
    val confBefore = spark.conf.getAll
    // restores the session's own value: unsetting would fall back to
    // Spark's default of 200, not the shared test session's 4, for
    // every suite that runs after this one
    def runAt(name: String, parts: String): Seq[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try SparkEntry.queries(name)(spark, d).collect()
        .map(_.toString).sorted.toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val a = runAt(name, "3")
      val b = runAt(name, "17")
      if (a == b) None
      else Some(name -> a.zip(b).find { case (x, y) => x != y })
    }
    assert(failures.isEmpty,
      s"partitioning-dependent results:\n${failures.mkString("\n")}")
    assert(spark.conf.getAll == confBefore)
  }
}
