package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Exact-integer PageRank: graph construction, the integer
  * recurrence's mass invariant, hand-checked one-round values, and
  * degraded-corpus robustness. */
class WebGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fullDocs =
    (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")

  test("domain graph: 50 nodes, designed degrees {2,4,5}, 182 edges") {
    val nodes = WebGraph.domainNodes(fullDocs)
    assert(nodes.count() == 50)
    val edges = WebGraph.domainEdges(nodes)
    assert(edges.count() == 17 * 2 + 17 * 4 + 16 * 5)
    val degs = edges.groupBy("src").count()
      .select("count").distinct().as[Long].collect().toSet
    assert(degs == Set(2L, 4L, 5L))
    // multiplier m = L / deg everywhere: m * deg == L on every edge
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    assert(edges.join(deg, "src")
      .filter(col("m") * col("deg") =!= WebGraph.L).count() == 0)
  }

  test("mass invariant: sum of numerators = N * B^K exactly") {
    val nodes = WebGraph.domainNodes(fullDocs)
    val pr = WebGraph.pagerankExact(nodes, WebGraph.domainEdges(nodes))
    val total = pr.agg(sum(col("n")).cast("string")).as[String].head()
    val expected = BigInt(50) * BigInt(WebGraph.B).pow(WebGraph.Iters)
    assert(BigInt(total) == expected)
  }

  test("scores are genuinely non-uniform and rank deterministically") {
    val nodes = WebGraph.domainNodes(fullDocs)
    val pr = WebGraph.pagerankExact(nodes, WebGraph.domainEdges(nodes))
    val distinct = pr.select("n").distinct().count()
    assert(distinct > 5, s"only $distinct distinct scores")
  }

  test("one round matches hand arithmetic on a 3-node graph") {
    // a->b, a->c (deg 2, m=10); b->c (deg 1, m=20); c dangling
    val nodes = Seq(0, 1, 2).toDF("node")
    val edges = Seq((0, 1, 10L), (0, 2, 10L), (1, 2, 20L))
      .toDF("src", "dst", "m")
    val r1 = WebGraph.pagerankExact(nodes, edges, iters = 1)
      .orderBy("node").select(col("n").cast("long")).as[Long].collect()
    // n1 = 60 + 17 * sum(m_j * 1) over in-edges
    assert(r1.toSeq == Seq(60L, 60L + 17 * 10, 60L + 17 * (10 + 20)))
  }

  test("an edge endpoint outside the node set fails loudly") {
    // 1->9: node 9 is not in the node set, so the edges are not closed
    val nodes = Seq(0, 1, 2).toDF("node")
    val edges = Seq((0, 1, 10L), (0, 2, 10L), (1, 9, 20L))
      .toDF("src", "dst", "m")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = intercept[IllegalArgumentException](
      WebGraph.pagerankExact(nodes, edges, iters = 1))
    assert(e.getMessage.contains("not in the node set"))
    // the failed guard releases the edge list and node set it cached
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before)
  }

  test("degraded corpus (missing residues) still runs; teleport floor") {
    val docs = Seq(0L, 1L, 2L, 5L).map(i => (i, "t")).toDF("doc_id", "text")
    val nodes = WebGraph.domainNodes(docs)
    val pr = WebGraph.pagerankExact(nodes, WebGraph.domainEdges(nodes))
    assert(pr.count() == 4)
    // every node keeps at least the teleport mass at every round
    assert(pr.filter(col("n") <= 0).count() == 0)
  }

  test("gate output: pr sums to ~1, auth_rank is a permutation") {
    val out = graft.SparkEntry.queries("wg_pagerank")(
      spark, "/root/testdata/sf0.001")
    val n = out.count()
    val prSum = out.agg(sum("pr")).as[Double].head()
    assert(math.abs(prSum - 1.0) < 1e-3)
    assert(out.select("auth_rank").distinct().count() == n)
    // exact numerators are integers in string form
    assert(out.filter(!col("pr_num").rlike("^[0-9]+$")).count() == 0)
  }

  test("triangles: K4 — every node deg 3, 3 triangles, clustering 1") {
    val und = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
      .toDF("u", "v")
    val out = WebGraph.triangleStats(und)
      .select("node", "deg", "triangles", "clustering")
      .as[(Int, Long, Long, Double)].collect().toSet
    assert(out == Set((1, 3L, 3L, 1.0), (2, 3L, 3L, 1.0),
      (3, 3L, 3L, 1.0), (4, 3L, 3L, 1.0)))
  }

  test("triangles: path graph has none; clustering 0 incl. deg-1 ends") {
    val und = Seq((1, 2), (2, 3), (3, 4)).toDF("u", "v")
    val out = WebGraph.triangleStats(und)
    assert(out.filter(col("triangles") =!= 0L).count() == 0)
    assert(out.filter(col("clustering") =!= 0.0).count() == 0)
  }

  test("triangles: each triangle counted once (Σ per-node = 3·T)") {
    // two triangles sharing edge (1,2): {1,2,3}, {1,2,4} + a tail
    val und = Seq((1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (4, 5))
      .toDF("u", "v")
    val out = WebGraph.triangleStats(und).cache()
    val perNode = out.agg(sum("triangles")).as[Long].head()
    assert(perNode == 3L * 2)
    val m = out.select("node", "triangles").as[(Int, Long)]
      .collect().toMap
    assert(m == Map(1 -> 2L, 2 -> 2L, 3 -> 1L, 4 -> 1L, 5 -> 0L))
  }

  test("triangles: undirectedEdges dedups directions, drops loops") {
    val e = Seq((1, 2), (2, 1), (3, 3), (2, 3)).toDF("src", "dst")
    val und = WebGraph.undirectedEdges(e)
    assert(und.as[(Int, Int)].collect().toSet == Set((1, 2), (2, 3)))
  }

  test("degree census: out/in/reciprocity hand case") {
    val nodes = Seq(1, 2, 3).toDF("node")
    val e = Seq((1, 2), (2, 1), (1, 3)).toDF("src", "dst")
    val out = WebGraph.degreeCensus(nodes, e)
      .select("node", "out_deg", "in_deg", "recip_out", "recip_share")
      .as[(Int, Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      (1, 2L, 1L, 1L, 0.5),  // 1→2 reciprocated, 1→3 not
      (2, 1L, 1L, 1L, 1.0),
      (3, 0L, 1L, 0L, 0.0))) // edgeless-out node still present
  }

  test("triangles gate runs on the sf0.001 domain graph") {
    val out = graft.SparkEntry.queries("wg_triangles")(
      spark, "/root/testdata/sf0.001")
    assert(out.count() == 50)
    // the designed graph is dense enough to close some triangles
    assert(out.agg(sum("triangles")).as[Long].head() > 0)
  }

  test("neighborhood exact: hand values on a directed path") {
    // 0→1→2→3: closed reach grows one node per hop until the end
    val nodes = Seq(0, 1, 2, 3).toDF("node")
    val e = Seq((0, 1), (1, 2), (2, 3)).toDF("src", "dst")
    val nf = WebGraph.neighborhoodExact(nodes, e, 3)
    val m = nf.select("node", "n1", "n2", "n3")
      .as[(Int, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m == Map(
      0 -> ((2L, 3L, 4L)), 1 -> ((2L, 3L, 3L)),
      2 -> ((2L, 2L, 2L)), 3 -> ((1L, 1L, 1L))))
  }

  test("neighborhood exact: monotone per hop, bounded by |V|, " +
    "n1 = 1 + out-degree on the simple domain graph") {
    val nodes = WebGraph.domainNodes(fullDocs)
    val edges = WebGraph.domainEdges(nodes).select("src", "dst")
    val nf = WebGraph.neighborhoodExact(nodes, edges, 3)
    val rows = nf.select("node", "n1", "n2", "n3")
      .as[(Int, Long, Long, Long)].collect()
    assert(rows.length == 50)
    rows.foreach { case (node, n1, n2, n3) =>
      assert(n1 <= n2 && n2 <= n3 && n3 <= 50,
        s"node $node: reach not monotone/bounded ($n1,$n2,$n3)")
    }
    // no self-loops, no duplicate edges in the designed graph →
    // closed 1-hop reach is exactly 1 + out-degree
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d")).as[(Int, Long)].collect().toMap
    rows.foreach { case (node, n1, _, _) =>
      assert(n1 == 1 + deg.getOrElse(node, 0L), s"node $node")
    }
  }

  private def kcore(nodes: Seq[Int], und: Seq[(Int, Int)], k: Int,
      rounds: Int): Map[Int, (Int, Long)] =
    WebGraph.kCore(nodes.toDF("node"), und.toDF("u", "v"), k, rounds)
      .select("node", "in_core", "core_deg")
      .as[(Int, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("k-core: K4 with a pendant tail — 3-core keeps exactly the K4") {
    val und = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5), (5, 6))
    val m = kcore(Seq(1, 2, 3, 4, 5, 6), und, 3, 5)
    assert(m == Map(
      1 -> ((1, 3L)), 2 -> ((1, 3L)), 3 -> ((1, 3L)), 4 -> ((1, 3L)),
      5 -> ((0, 0L)), 6 -> ((0, 0L))))
  }

  test("k-core: peeling cascades — a path has no 2-core, a cycle is " +
    "its own 2-core") {
    val path = kcore(Seq(1, 2, 3, 4, 5),
      Seq((1, 2), (2, 3), (3, 4), (4, 5)), 2, 5)
    assert(path.values.forall(_ == ((0, 0L))), s"path: $path")
    val cycle = kcore(Seq(1, 2, 3, 4),
      Seq((1, 2), (2, 3), (3, 4), (1, 4)), 2, 5)
    assert(cycle.values.forall(_ == ((1, 2L))), s"cycle: $cycle")
  }

  test("k-core gate graph: fixpoint within KCoreRounds and a " +
    "non-trivial core (dense half survives, sparse interior peels)") {
    val nodes = WebGraph.domainNodes(fullDocs)
    val und = WebGraph.undirectedEdges(WebGraph.kcoreEdges(nodes))
    def run(r: Int): Map[Int, (Int, Long)] =
      WebGraph.kCore(nodes, und, WebGraph.KCoreK, r)
        .select("node", "in_core", "core_deg")
        .as[(Int, Int, Long)].collect()
        .map(x => x._1 -> ((x._2, x._3))).toMap
    val atR = run(WebGraph.KCoreRounds)
    assert(atR == run(WebGraph.KCoreRounds + 1),
      "peeling had not reached its fixpoint at KCoreRounds")
    val inCore = atR.count(_._2._1 == 1)
    assert(inCore > 0 && inCore < 50, s"trivial core: $inCore/50")
    // the dense lower half always survives: out-degree 6 ≥ k alone
    (0 until 25).foreach(n =>
      assert(atR(n)._1 == 1, s"dense node $n peeled"))
    // every survivor meets the degree bar within the core
    atR.values.filter(_._1 == 1).foreach { case (_, d) =>
      assert(d >= WebGraph.KCoreK)
    }
  }

  test("neighborhood HLL (HyperBall) matches exact on the fixture: " +
    "sparse-mode sketches are exact at domain-graph cardinalities") {
    val nodes = WebGraph.domainNodes(fullDocs)
    val edges = WebGraph.domainEdges(nodes).select("src", "dst")
    val exact = WebGraph.neighborhoodExact(nodes, edges, 3)
      .select("node", "n1", "n2", "n3")
      .as[(Int, Long, Long, Long)].collect().toSet
    val approx = WebGraph.neighborhoodHll(nodes, edges, 3)
      .select("node", "n1", "n2", "n3")
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(approx == exact)
  }
}
