package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
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
  * minhash_sig, token_ngrams, ngram_stats and the theta family. (The
  * LCA Aggregator registers per session via `tax.Lca.register` — UDAFs
  * go through the UDF registry, not the extension function injector.)
  * A gate whose SQL names them calls `GraftExtensions.install`, so it
  * also runs in a session built without the extension.
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
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.sizeCodegenCache()
    GraftExtensions.natives.foreach(e.injectFunction)
  }
}

object GraftExtensions {

  private def native(name: String, usage: String, n: Int)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "",
        "", "built-in"),
      // a wrong argument count must fail analysis with a clear message,
      // not IndexOutOfBounds or silently ignored arguments
      exprs => { functions.Arity.check(name, n, exprs); build(exprs) })

  /** The native functions the installer injects. */
  private val natives = Seq(
    native("gc_content", "gc_content(seq) - GC% of a sequence", 1)(
      exprs => functions.GcContent(exprs.head)),
    native("dot_product", "dot_product(a, b) - numeric-array dot product",
      2)(exprs => functions.DotProduct(exprs(0), exprs(1))),
    native("simhash64", "simhash64(tokens) - 64-bit SimHash sketch", 1)(
      exprs => functions.SimHash64(exprs.head)),
    native("minhash_sig",
      "minhash_sig(norm_text) - 16-permutation MinHash signature", 1)(
      exprs => functions.MinHashSig(exprs.head, 16, 5)),
    native("token_ngrams",
      "token_ngrams(tokens) - distinct token trigrams", 1)(
      exprs => functions.TokenNgrams(exprs.head, 3)),
    native("ngram_stats",
      "ngram_stats(tokens) - (n_grams, top_count) bigram histogram stats",
      1)(exprs => functions.NgramStats(exprs.head, 2)),
    native("theta_sketch",
      "theta_sketch(key) - distinct-set theta sketch aggregate", 1)(
      exprs => functions.ThetaSketchAgg(exprs.head,
        functions.ThetaSketch.DefaultLgK)),
    native("theta_estimate",
      "theta_estimate(sketch) - rounded distinct estimate", 1)(
      exprs => functions.ThetaEstimate(exprs.head)),
    native("theta_union", "theta_union(a, b) - sketch set union", 2)(
      exprs => functions.ThetaSetOp(exprs(0), exprs(1),
        functions.ThetaSetOp.UnionOp)),
    native("theta_intersect",
      "theta_intersect(a, b) - sketch set intersection", 2)(
      exprs => functions.ThetaSetOp(exprs(0), exprs(1),
        functions.ThetaSetOp.IntersectOp)),
    native("theta_anotb",
      "theta_anotb(a, b) - sketch set difference (A and not B)", 2)(
      exprs => functions.ThetaSetOp(exprs(0), exprs(1),
        functions.ThetaSetOp.AnotbOp)))

  /** Give `spark` every native function plus the `top_k3` UDAF
    * (`ops.TopK.udafTopK`), skipping each name whose registry entry is
    * already the engine's: a no-op in a session built through the
    * extension (bar the UDAF's first call), and what a session built
    * without it needs before a gate's SQL names these functions.
    * Re-registering on every call would replace the function each
    * time. The check is on the entry, not the name: Spark ships a
    * `theta_union` of its own, which the engine's replaces. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    natives.foreach { case (id, info, build) =>
      if (!reg.lookupFunction(id).contains(info))
        reg.registerFunction(id, info, build)
    }
    if (!reg.functionExists(FunctionIdentifier("top_k3")))
      spark.udf.register("top_k3", ops.TopK.udafTopK(3))
  }

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
