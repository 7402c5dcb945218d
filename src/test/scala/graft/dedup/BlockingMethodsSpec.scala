package graft.dedup

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The `d_blocking_methods` gate grades its four blockers as four
  * concurrent one-row queries (`Dedup.concurrently`). Pinned here: the
  * rows equal the sequential one-union form, every job the gate runs
  * carries the caller's job group and local properties, and a failed
  * branch surfaces its own exception with no pool thread left. */
class BlockingMethodsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val gate = "d_blocking_methods"

  private def poolThreadsAlive: Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .exists(th => th.getName == "graft-concurrently" && th.isAlive)
  }

  test("concurrent grades equal the sequential union, in method order") {
    val docs = graft.Tables.t(spark, TestSpark.sf0001, "documents")
    val blocks = Seq("lang", "source")
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCols = blocks, n = 3).filter(col("jac") >= 0.2)
      .select("doc_a", "doc_b")
    val methods = Seq(
      "minhash_lsh" -> Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 16, bands = 4, maxBucketSize = Int.MaxValue),
      "prefix_filter" -> Dedup.prefixFilterCandidates(docs, "doc_id",
        "text", 0.2, blocks),
      "simhash_bands" -> Dedup.simhashBandCandidates(docs, "doc_id",
        "text", maxBucketSize = Int.MaxValue),
      "snm_w5" -> Dedup.snmPairs(docs, "doc_id", "text", w = 5,
        blockCols = blocks))
    val sequential = methods.map { case (name, cand) =>
      Dedup.blockingQuality(truth, cand.select("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"))
        .select(lit(name).as("method"), col("n_truth"), col("n_cand"),
          col("n_hit"), col("recall"), col("precision"))
    }.reduce(_.unionByName(_))
    val got = graft.SparkEntry.queries(gate)(spark, TestSpark.sf0001)
    assert(got.columns.toSeq == sequential.columns.toSeq)
    assert(got.collect().toSeq == sequential.collect().toSeq)
    assert(got.select("method").collect().map(_.getString(0)).toSeq ==
      methods.map(_._1))
  }

  test("every job of the gate carries the caller's job group and " +
    "local properties") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      java.util.Properties]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.properties)
    }
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    sc.setJobGroup("blocking-methods-spec", "gate under a job group")
    sc.setLocalProperty("graft.spec.tag", "blocking")
    try {
      graft.SparkEntry.queries(gate)(spark, TestSpark.sf0001).collect()
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(l)
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.tag", null)
    }
    import scala.jdk.CollectionConverters._
    val props = jobs.asScala.toSeq
    assert(props.size >= 4, s"only ${props.size} jobs seen")
    assert(props.forall(p =>
      p.getProperty("spark.jobGroup.id") == "blocking-methods-spec" &&
        p.getProperty("graft.spec.tag") == "blocking"))
    assert(!poolThreadsAlive)
  }

  test("a failed branch surfaces its own exception and leaves no pool " +
    "thread") {
    val e = intercept[IllegalStateException] {
      Dedup.concurrently(spark, Seq(
        () => 1,
        () => throw new IllegalStateException("branch 1 failed"),
        () => { Thread.sleep(300); 3 }))
    }
    assert(e.getMessage == "branch 1 failed")
    assert(!poolThreadsAlive)
    // two failures: the first in branch order wins, however late
    val first = intercept[RuntimeException] {
      Dedup.concurrently(spark, Seq[() => Int](
        () => { Thread.sleep(300); throw new RuntimeException("first") },
        () => throw new RuntimeException("second")))
    }
    assert(first.getMessage == "first")
    assert(!poolThreadsAlive)
    assert(Dedup.concurrently(spark, Seq(() => 1, () => 2)) == Seq(1, 2))
  }
}
