package graft

import org.scalatest.funsuite.AnyFunSuite

/** The extensions installer, wired the way a deployment wires it:
  * `spark.sql.extensions=graft.GraftExtensions` (set in TestSpark).
  * Every native function must resolve in plain SQL with no per-session
  * register calls. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("all native functions resolve through spark.sql.extensions") {
    assert(spark.sql("SELECT gc_content('GGCC') AS g")
      .head.getDouble(0) == 100.0)
    assert(spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head.getDouble(0) == 11.0)
    assert(!spark.sql("SELECT simhash64(array('a','b')) AS s")
      .head.isNullAt(0))
    assert(spark.sql("SELECT size(minhash_sig('hello world')) AS n")
      .head.getInt(0) == 16)
    assert(spark.sql(
      "SELECT token_ngrams(array('a','b','c','d')) AS g")
      .head.getSeq[String](0) == Seq("a b c", "b c d"))
    // theta family: aggregate + all three set ops, exact at this size
    assert(spark.sql(
      """SELECT theta_estimate(theta_intersect(a, b)) AS i,
           theta_estimate(theta_union(a, b)) AS u,
           theta_estimate(theta_anotb(a, b)) AS d
         FROM (SELECT
           (SELECT theta_sketch(x) FROM
             (VALUES (1L),(2L),(3L)) t(x)) AS a,
           (SELECT theta_sketch(x) FROM
             (VALUES (2L),(3L),(4L),(5L)) t(x)) AS b)""")
      .head match { case r => (r.getLong(0), r.getLong(1),
        r.getLong(2)) == ((2L, 5L, 1L)) })
  }

  test("wrong arity fails analysis with a clear error") {
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT dot_product(array(1.0d))").collect()
    }
    assert(e1.getMessage.contains("dot_product"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT gc_content('A', 'B')").collect()
    }
    assert(e2.getMessage.contains("gc_content"))
  }

  test("a repeated query finds its generated classes in the cache") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // 150 distinct plans (the literal is inlined into the generated
    // source), each compiling in both driver and executor class
    // loaders: more than Spark's default of 100 cache entries
    def round(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 150).foreach { i =>
        spark.range(3).selectExpr(s"id * $i + $i AS v").collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = round()
    val second = round()
    assert(first >= 150, s"first round compiled only $first classes")
    assert(second <= first / 20,
      s"second round compiled $second classes (first: $first)")
  }

  test("DESCRIBE FUNCTION shows the injected usage text") {
    val desc = spark.sql("DESCRIBE FUNCTION gc_content")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("gc_content"))
  }

  test("install replaces nothing and gives a bare session every function") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val names = Seq("gc_content", "dot_product", "simhash64",
      "minhash_sig", "token_ngrams", "ngram_stats", "theta_sketch",
      "theta_estimate", "theta_union", "theta_intersect", "theta_anotb",
      "top_k3").map(FunctionIdentifier(_))
    val reg = spark.sessionState.functionRegistry
    GraftExtensions.install(spark)
    val before = names.map(reg.lookupFunctionBuilder(_).get)
    GraftExtensions.install(spark)
    assert(names.map(reg.lookupFunctionBuilder(_).get).zip(before)
      .forall { case (a, b) => a eq b }, "a second install replaced one")
    // a session built without the extension: Spark's own functions
    // only, among them a theta_union of Spark's
    val builtin =
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    val bare = spark.newSession()
    val breg = bare.sessionState.functionRegistry
    names.foreach { n =>
      breg.dropFunction(n)
      builtin.lookupFunction(n).foreach(info => breg.registerFunction(n,
        info, builtin.lookupFunctionBuilder(n).get))
    }
    val sparkUnion = breg.lookupFunction(names(8))
    assert(sparkUnion.exists(_.getClassName != "graft"))
    GraftExtensions.install(bare)
    assert(names.forall(breg.functionExists))
    assert(names.init.forall(n =>
      breg.lookupFunction(n).exists(_.getClassName == "graft")),
      "install kept a function that is not the engine's")
    assert(bare.sql("SELECT gc_content('GGCC')").head.getDouble(0) == 100.0)
    assert(bare.sql("""SELECT size(top_k3(v, t).entries)
      FROM VALUES (1.0d, 1L), (2.0d, 2L) AS x(v, t)""").head.getInt(0) == 2)
    assert(reg.functionExists(names.head), "the shared session lost one")
  }
}
