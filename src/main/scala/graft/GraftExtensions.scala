package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.SQLConf

/** SparkSessionExtensions installer — the standard wiring for the
  * engine's native expressions:
  *
  * ```
  * spark.sql.extensions=graft.GraftExtensions
  * ```
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * Injected functions: gc_content, dot_product, simhash64,
  * minhash_sig, token_ngrams, ngram_stats. (The LCA Aggregator registers per
  * session via `tax.Lca.register` — UDAFs go through the UDF registry,
  * not the extension function injector.)
  *
  * No planner rules or strategies are injected by design: SURVEY §4's
  * finding is that Catalyst's built-in optimizations cover the
  * reference's entire operator inventory — the engine extends the
  * EXPRESSION layer only, which keeps every plan inspectable and AQE
  * compatible.
  *
  * It also sizes Spark's generated-class cache (see
  * `GraftExtensions.CodegenCacheEntries`), so the repeated queries of
  * a long-lived session find their generated classes already compiled.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "",
      "", "built-in")

  /** Arity guard: a wrong argument count must fail analysis with a
    * clear message — not IndexOutOfBounds (too few) or silently ignored
    * arguments producing plausible wrong results (too many). */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = { exprs =>
    if (exprs.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name,
          "expectedNum" -> n.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> ""))
    build(exprs)
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.sizeCodegenCache()
    e.injectFunction((FunctionIdentifier("gc_content"),
      info("gc_content", "gc_content(seq) - GC% of a sequence"),
      arity("gc_content", 1)(exprs => functions.GcContent(exprs.head))))
    e.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - numeric-array dot product"),
      arity("dot_product", 2)(exprs =>
        functions.DotProduct(exprs(0), exprs(1)))))
    e.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash sketch"),
      arity("simhash64", 1)(exprs => functions.SimHash64(exprs.head))))
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(norm_text) - 16-permutation MinHash signature"),
      arity("minhash_sig", 1)(exprs =>
        functions.MinHashSig(exprs.head, 16, 5))))
    e.injectFunction((FunctionIdentifier("token_ngrams"),
      info("token_ngrams",
        "token_ngrams(tokens) - distinct token trigrams"),
      arity("token_ngrams", 1)(exprs =>
        functions.TokenNgrams(exprs.head, 3))))
    e.injectFunction((FunctionIdentifier("ngram_stats"),
      info("ngram_stats",
        "ngram_stats(tokens) - (n_grams, top_count) bigram histogram " +
          "stats"),
      arity("ngram_stats", 1)(exprs =>
        functions.NgramStats(exprs.head, 2))))
    e.injectFunction((FunctionIdentifier("theta_sketch"),
      info("theta_sketch",
        "theta_sketch(key) - distinct-set theta sketch aggregate"),
      arity("theta_sketch", 1)(exprs =>
        functions.ThetaSketchAgg(exprs.head,
          functions.ThetaSketch.DefaultLgK))))
    e.injectFunction((FunctionIdentifier("theta_estimate"),
      info("theta_estimate",
        "theta_estimate(sketch) - rounded distinct estimate"),
      arity("theta_estimate", 1)(exprs =>
        functions.ThetaEstimate(exprs.head))))
    e.injectFunction((FunctionIdentifier("theta_union"),
      info("theta_union", "theta_union(a, b) - sketch set union"),
      arity("theta_union", 2)(exprs => functions.ThetaSetOp(
        exprs(0), exprs(1), functions.ThetaSetOp.UnionOp))))
    e.injectFunction((FunctionIdentifier("theta_intersect"),
      info("theta_intersect",
        "theta_intersect(a, b) - sketch set intersection"),
      arity("theta_intersect", 2)(exprs => functions.ThetaSetOp(
        exprs(0), exprs(1), functions.ThetaSetOp.IntersectOp))))
    e.injectFunction((FunctionIdentifier("theta_anotb"),
      info("theta_anotb",
        "theta_anotb(a, b) - sketch set difference (A and not B)"),
      arity("theta_anotb", 2)(exprs => functions.ThetaSetOp(
        exprs(0), exprs(1), functions.ThetaSetOp.AnotbOp))))
  }
}

object GraftExtensions {

  /** Entries of Spark's generated-class cache (`CodeGenerator`'s LRU of
    * compiled classes, keyed by class loader and source text; Spark's
    * default is 100). Measured at scale 0.01 in local mode, where each
    * class is cached once per class loader (driver and executor): one
    * pass of the benchmark's `warehouse_queries` compiles 183 classes,
    * `curation_queries` 196, and a `graft.Profile` walk of the whole
    * 269-gate registry ~3,000 (3,182 compiles, 177 of them warm-run
    * recompiles). At 100 entries every warm pass compiled ~200 classes
    * again (4.1 s and 6.8 s of compile time per pass of the two
    * workloads on a 4-vCPU VM). 4096 holds the registry with headroom,
    * for a few tens of MB of Metaspace. What a warm pass still
    * compiles is whole-stage classes whose source differs only in the
    * codegen stage number AQE assigns on each run. */
  val CodegenCacheEntries = 4096

  /** Spark reads the cache size once, when the `CodeGenerator` object
    * initializes at the JVM's first codegen, from `SQLConf.get`. The
    * installer runs before that on both wiring paths (`withExtensions`
    * at builder time, `spark.sql.extensions` at session creation), so
    * it initializes the object here under a conf that carries the
    * engine's size; a larger size already visible to `SQLConf.get`
    * wins. If the JVM has already generated code, this is a no-op. */
  private def sizeCodegenCache(): Unit = {
    val conf = SQLConf.get.clone()
    conf.setConfString("spark.sql.codegen.cache.maxEntries",
      math.max(conf.codegenCacheMaxEntries, CodegenCacheEntries).toString)
    SQLConf.withExistingConf(conf) {
      CodeGenerator.compileTime // any member runs the initializer
    }
  }
}
