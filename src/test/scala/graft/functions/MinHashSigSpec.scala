package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.dedup.Dedup

class MinHashSigSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native signature equals the relational formulation bit-for-bit") {
    val docs = graft.Tables.t(spark, TestSpark.sf0001, "documents")
      .limit(100)
    val rel = Dedup.minhashSignatures(docs, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    val native = Dedup.minhashSignaturesNative(docs, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    assert(rel.keySet == native.keySet)
    rel.foreach { case (id, sig) =>
      assert(native(id) == sig, s"doc $id signatures differ")
    }
  }

  test("identical texts share signatures; different texts differ") {
    graft.GraftExtensions.install(spark)
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content about spark engines")
    ).toDF("id", "text")
    val sigs = Dedup.minhashSignaturesNative(df, "id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }
}
