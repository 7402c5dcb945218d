package graft

import org.scalatest.funsuite.AnyFunSuite

/** Staging-gate residue guard: gates whose operator stages an
  * intermediate (persisted edge list, MMR pick accumulation, fit-once
  * indexes) must not GROW the persisted-RDD census per invocation —
  * the r12 full-suite bench showed +2 persistent RDDs per pass from
  * the pagerank staged edges and the mmr localCheckpoints. Fit-once
  * caches (the staged PQ/IVF index) may appear on the FIRST call;
  * the invariant is census(after 2nd) == census(after 1st). */
class ResidueSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def census: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def flatAcrossTwoRuns(gate: String): Unit = {
    val fn = SparkEntry.queries(gate)
    fn(spark, TestSpark.sf0001).count()
    val afterFirst = census
    fn(spark, TestSpark.sf0001).count()
    val afterSecond = census
    assert(afterSecond == afterFirst,
      s"$gate grew the persisted-RDD census on a repeat run: " +
        s"+${(afterSecond -- afterFirst).size} " +
        s"-${(afterFirst -- afterSecond).size}")
  }

  test("wg_pagerank leaves the persisted-RDD census flat") {
    flatAcrossTwoRuns("wg_pagerank")
  }

  test("x_mmr leaves the persisted-RDD census flat") {
    flatAcrossTwoRuns("x_mmr")
  }

  test("x_mmr_ivf leaves the persisted-RDD census flat") {
    flatAcrossTwoRuns("x_mmr_ivf")
  }

  test("d_cluster_keep_best leaves the persisted-RDD census flat") {
    flatAcrossTwoRuns("d_cluster_keep_best")
  }

  test("d_dup_clusters leaves the persisted-RDD census flat") {
    flatAcrossTwoRuns("d_dup_clusters")
  }

  test("wg_neighborhood leaves the persisted-RDD census flat") {
    flatAcrossTwoRuns("wg_neighborhood")
  }

  test("wg_kcore leaves the persisted-RDD census flat") {
    flatAcrossTwoRuns("wg_kcore")
  }

  test("Dedup.dupClusters called as a library leaves the persisted-RDD " +
    "census flat") {
    val s = spark
    import s.implicits._
    val docs = (0L to 9L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    def run(): Unit = {
      graft.dedup.Dedup.dupClusters(docs, "doc_id", pairs,
        "doc_a", "doc_b").count()
      ()
    }
    run()
    val afterFirst = census
    run()
    assert(census == afterFirst,
      "dupClusters grew the persisted-RDD census on a repeat call: " +
        s"+${(census -- afterFirst).size}")
  }
}
