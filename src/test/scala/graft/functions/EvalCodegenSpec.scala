package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import graft.TestSpark

/** Every scalar native expression, through `EvalCodegen`: under
  * whole-stage codegen it returns what interpreted eval returns, row
  * for row, and its host operator sits inside a WholeStageCodegen
  * span. Rows cover a null input, an empty string / array and a null
  * array element; each case runs once over nullable and once over
  * non-nullable columns, one per branch of the generated code. */
class EvalCodegenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sketch(vals: Seq[Long]): String = {
    val u = org.apache.datasketches.theta.UpdateSketch.builder().build()
    vals.foreach(v => u.update(v))
    u.compact().toByteArray.map(b => f"$b%02X").mkString
  }

  // derived from `id` so no optimizer rule folds the projection into
  // a local relation: Range → Project, one codegen span. With `nulls`
  // every column has a NULL arm (the trait's nullable branch); without,
  // that arm holds a value, every column is non-nullable, and each
  // expression that does not declare itself nullable takes the
  // non-nullable branch (a primitive result unboxed straight into the
  // generated variable)
  private def rows(nulls: Boolean): DataFrame = {
    def or(v: String) = if (nulls) "NULL" else v
    spark.range(4).selectExpr(
      s"CASE id WHEN 0 THEN ${or("'AC'")} WHEN 1 THEN '' " +
        "WHEN 2 THEN 'GATTACA gc' ELSE 'héllo wörld' END AS s",
      s"CASE id WHEN 0 THEN ${or("array('q', 'r')")} " +
        "WHEN 1 THEN CAST(array() AS array<string>) " +
        "WHEN 2 THEN array('a', 'b', NULL, 'a', 'b') " +
        "ELSE array('x', 'y', 'x', 'y', 'x') END AS toks",
      s"CASE id WHEN 0 THEN ${or("array('q')")} " +
        "WHEN 1 THEN CAST(array() AS array<string>) " +
        "WHEN 2 THEN array('l', 'o', 'l', 'o') ELSE array('a', 'b') END " +
        "AS toks2",
      s"CASE id WHEN 0 THEN ${or("array(3.0D)")} " +
        "WHEN 1 THEN CAST(array() AS array<double>) " +
        "WHEN 2 THEN array(1.5D, CAST(NULL AS DOUBLE)) " +
        "ELSE array(-2.0D, 0.25D) END AS a",
      s"CASE WHEN id = 0 THEN ${or("array(0.5D, 0.5D)")} " +
        "ELSE array(CAST(id AS DOUBLE), 1.0D - id) END AS v",
      s"CASE WHEN id = 0 THEN ${or("0.25D")} " +
        "ELSE CAST(id AS DOUBLE) + 0.5D END AS n",
      s"CASE WHEN id = 1 THEN ${or("1")} " +
        "ELSE CAST(id AS INT) & 1 END AS sub",
      s"CASE WHEN id = 0 THEN ${or("array(named_struct('n_id', 99L, " +
        "'rel', 1L, 'emb', array(0.0D, 1.0D), 'norm', 1.0D))")} " +
        "ELSE array(" +
        "named_struct('n_id', id, 'rel', 5L, " +
        "'emb', array(CAST(id AS DOUBLE), 1.0D - id), 'norm', 1.0D), " +
        "named_struct('n_id', id + 10, 'rel', 3L, " +
        "'emb', array(1.0D, 1.0D), 'norm', 1.4D)) END AS cand",
      s"CASE WHEN id = 0 THEN ${or(s"X'${sketch(Seq(1L))}'")} " +
        s"ELSE X'${sketch(1L to 6L)}' END AS sk1",
      s"CASE WHEN id = 3 THEN ${or(s"X'${sketch(Seq(7L))}'")} " +
        s"ELSE X'${sketch(4L to 9L)}' END AS sk2")
  }

  private def e(c: String): Expression =
    GraftColumnBridge.expression(col(c))
  private val merges = Seq(("l", "o"), ("lo", "lo"), ("a", "b"))

  private val cases: Seq[(String, Expression)] = Seq(
    "MinHashSig" -> MinHashSig(e("s"), 4, 3),
    "SimHash64" -> SimHash64(e("toks")),
    "TokenNgrams" -> TokenNgrams(e("toks"), 2),
    "NgramStats" -> NgramStats(e("toks"), 2),
    "WinnowFps" -> WinnowFps(e("toks"), 2, 2),
    "BpeEncode" -> BpeEncode(e("s"), merges),
    "BpeEncodeTokens" -> BpeEncodeTokens(e("toks2"), merges),
    "MmrGreedyPick" -> MmrGreedyPick(e("cand"), 2, 5),
    "ThetaEstimate" -> ThetaEstimate(e("sk1")),
    "ThetaSetOp" -> ThetaSetOp(e("sk1"), e("sk2"), ThetaSetOp.IntersectOp),
    "DotProduct" -> DotProduct(e("a"), e("a")),
    "GcContent" -> GcContent(e("s")),
    "NearestCentroidIdx" -> NearestCentroidIdx(e("v"), e("n"),
      Seq(1L, 2L), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), Seq(1.0, 1.0)),
    "NearestCodeIdx" -> NearestCodeIdx(e("sub"), e("v"), Seq(0, 1),
      Seq(Seq(3, 4), Seq(5)),
      Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)), Seq(Seq(2.0, -1.0)))))

  /** `body` under `confs`; every conf is restored to its previous value
    * (or unset) afterwards, and the session conf is checked unchanged. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    // explicitly set values only: getOption would report a default,
    // and setting it would leave the key set
    val prev = confs.map { case (k, _) => k -> before.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      assert(spark.conf.getAll == before, "a conf leaked out of the spec")
    }
  }

  // byte arrays compare by content, everything else by value
  private def norm(r: Row): Any = r.get(0) match {
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  assert(cases.map(_._1).distinct.size == 14)

  // the two whose kernel returns null on non-null input
  private val alwaysNullable = Set("DotProduct", "GcContent")

  for ((name, expr) <- cases; nulls <- Seq(true, false)) {
    val inputs = if (nulls) "nullable" else "non-nullable"
    test(s"$name over $inputs inputs: whole-stage codegen equals " +
        "interpreted eval, inside a WholeStageCodegen span") {
      val out = () =>
        rows(nulls).select(GraftColumnBridge.column(expr).as("r"))
      val cls = expr.getClass
      val (generated, hosted) = withConfs(
          "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.codegen.fallback" -> "false") {
        val df = out()
        val hosted = df.queryExecution.executedPlan.collect {
          case w: WholeStageCodegenExec => w.child.collect {
            case p => p.expressions.flatMap(_.collect {
              case x if cls.isInstance(x) => x
            })
          }.flatten
        }.flatten
        (df.collect().map(norm).toSeq, hosted)
      }
      val interpreted = withConfs(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        out().collect().map(norm).toSeq
      }
      assert(hosted.nonEmpty, s"$name's host operator is not in a codegen span")
      // pins which branch of EvalCodegen.doGenCode ran
      assert(hosted.forall(_.nullable == (nulls || alwaysNullable(name))))
      assert(generated.size == 4)
      assert(generated == interpreted)
      if (nulls) assert(generated.head == null, "a null input must give null")
    }
  }
}
