package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Gate
import graft.io.Inputs.t

/** Web-graph authority scoring for corpus curation — the domain-level
  * PageRank a web-scale training-data pipeline uses to weight or gate
  * documents by source authority (the CommonCrawl-derived pipelines'
  * host-ranking step; same curation role as the per-domain cap in
  * `TextOps.capPerDomain`).
  *
  * The novelty is the ORACLE DISCIPLINE: PageRank is a float fixpoint
  * in every textbook presentation, and float iteration sums in two
  * engines drift apart in fold order. This implementation keeps every
  * iteration in EXACT INTEGER arithmetic instead — bit-reproducible on
  * any cluster, any partitioning, and hash-identical to a DuckDB
  * re-derivation:
  *
  *   s_k(i) = n_k(i) / (N · B^k)   with B = 20 · L,  L = lcm(degrees)
  *
  * so the damped update s' = (1−d)/N + d · Σ_j s_j/deg_j with
  * d = 17/20 becomes the integer recurrence
  *
  *   n_{k+1}(i) = 3·L·B^k + 17 · Σ_{j→i} (L/deg_j) · n_k(j)
  *
  * (L/deg_j is integral by construction). Numerators ride
  * DECIMAL(38,0): after K=10 rounds Σ n = N·B^K ≈ 5e27 — far under
  * both Spark's decimal38 and DuckDB's HUGEINT. The gate emits the
  * exact numerator AS A STRING (zero float risk) plus the 6-dp mass
  * share and the dense authority rank.
  *
  * Scale shape: per round one edges⋈scores equi-join shuffled on dst
  * + one sum — the standard distributed PageRank step. The edge list
  * (with its per-source multiplier) is persisted once and released
  * when the result is staged: ten rounds must not re-derive it ten
  * times, and the K-round plan stays K joins over a
  * materialized table instead of a tree that re-expands the
  * derivation each round. On a real cluster the same loop co-locates
  * by pre-partitioning edges and scores on the join key; K is fixed
  * (no convergence action per round), so the whole computation is ONE
  * job at materialization time.
  *
  * Graph fixture: the test tables carry no hyperlinks, so the gate
  * derives a deterministic domain graph from the documents table
  * (the `tx_url_normalize` MESSY-fixture precedent): node = doc_id
  * mod 50 (the registered-domain universe), out-links by residue
  * class — offsets {1,7} / {1,7,13,29} / {1,7,13,29,31} for node ≡
  * 0/1/2 (mod 3) — giving out-degrees {2,4,5} (L = 20, B = 400) and a
  * genuinely non-uniform stationary mass. Both engines rebuild the
  * same graph from the same table.
  */
object WebGraph {

  val DomainCount = 50
  val Degrees = Map(0 -> Seq(1, 7), 1 -> Seq(1, 7, 13, 29),
    2 -> Seq(1, 7, 13, 29, 31))
  val L = 20 // lcm of the designed out-degrees {2,4,5}
  val B = 20 * L // per-round denominator base: (1/20 damping) · (1/L)
  val Iters = 10

  private val dec38 = DecimalType(38, 0)

  /** Domain nodes present in the corpus (doc_id mod 50). */
  def domainNodes(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") % DomainCount).cast("int").as("node"))
      .distinct()

  /** Deterministic out-edges between EXISTING nodes; each edge carries
    * the source's out-degree multiplier m = L / deg (integral by the
    * degree design, `require`d below so a corpus slice that breaks
    * divisibility fails loudly instead of silently de-exacting). */
  def domainEdges(nodes: DataFrame): DataFrame = {
    val offs = nodes.select(col("node").as("src"), explode(
      when(col("node") % 3 === 0,
        array(Degrees(0).map(lit): _*))
        .when(col("node") % 3 === 1, array(Degrees(1).map(lit): _*))
        .otherwise(array(Degrees(2).map(lit): _*))).as("off"))
    val e = offs.select(col("src"),
      ((col("src") + col("off")) % DomainCount).cast("int").as("dst"))
    val present = e.join(nodes.withColumnRenamed("node", "dst"), Seq("dst"))
      .select("src", "dst")
    val deg = present.groupBy("src").agg(count(lit(1)).as("deg"))
    present.join(deg, "src")
      .select(col("src"), col("dst"), expr(s"$L DIV deg").as("m"))
  }

  /** K rounds of the exact-integer damped update. Returns
    * (node, n DECIMAL(38,0)) — n / Σn is the PageRank mass — staged
    * through `io.Scratch.stage`; the edge list and node sets it
    * persists are released before return, also when a guard fails.
    *
    * Preconditions, both checked by one eager 1-row aggregate that
    * fails loudly: every edge's `src` and `dst` is in `nodes` (the
    * edge set is closed over the node set), and `m · out-degree == L`
    * on every edge. An out-of-set `dst` would otherwise be emitted as
    * a scored node that is not in `nodes`, and an out-of-set `src`
    * would silently contribute nothing. */
  def pagerankExact(nodes: DataFrame, edges: DataFrame,
      iters: Int = Iters): DataFrame = {
    // stage the (src, dst, m) list once: ten rounds re-join it, and
    // the fixed-K loop must not re-derive the graph per round
    val staged = edges.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the node set is re-joined every round (teleport term for
    // contribution-less nodes): persist it once too
    val nodesP = nodes.select("node").persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // WHICH nodes receive no contribution is a STATIC property of the
    // graph, not of the round (r18): scores cover every node each
    // round, so a dst receives a contribution iff it has ≥1 in-edge.
    // Precompute the no-in-edge set ONCE and union its teleport-only
    // rows per round, instead of left-joining the full node set
    // against contrib every round — one data-sized shuffle join
    // removed from each of the K rounds.
    val noInP = nodesP.join(staged.select(col("dst").as("node"))
        .distinct(), Seq("node"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // multipliers must be exact ON THE TRUE DEGREE: m · deg == L for
      // every edge, with deg recomputed from the edge list itself — a
      // reconstructed degree (L / m) can pass while the arithmetic
      // silently de-exacts (e.g. deg = 7 gives m = 2, reconstructed
      // d = 10, and 10 divides L). The closure check (endpoints
      // outside the node set) rides in the same aggregate. Bounded:
      // 1-row aggregate; this action ALSO materializes the persisted
      // edge list and node set (the separate staging count() the r16
      // form paid is folded into it).
      val trueDeg = staged.groupBy("src").agg(count(lit(1)).as("deg"))
      val inexactEdges = staged.join(trueDeg, "src")
        .filter(col("m") * col("deg") =!= L)
        .select(lit(true).as("inexact"))
      val openEnds = staged
        .select(explode(array(col("src"), col("dst"))).as("node"))
        .join(nodesP, Seq("node"), "left_anti")
        .select(lit(false).as("inexact"))
      val bad = inexactEdges.unionByName(openEnds)
        .agg(count(when(col("inexact"), 1)),
          count(when(!col("inexact"), 1))).head
      require(bad.getLong(0) == 0L,
        s"${bad.getLong(0)} edges have m * out-degree != L=$L — a " +
          "multiplier is not exact; pagerank numerators would " +
          "silently de-exact")
      require(bad.getLong(1) == 0L,
        s"${bad.getLong(1)} edge endpoints are not in the node set — " +
          "pagerank needs edges.src/dst ⊆ nodes")
      // per-round LINEAGE TRUNCATION (`Scratch.truncate`): without it
      // round k's logical plan nests all k−1 predecessors and Catalyst
      // re-plans the whole tree every round — the r16 form's
      // wall-clock was dominated by planning+scheduling a 10-round
      // nested plan (event-log: most of the gate was inter-job gaps).
      // Each round is referenced exactly once by the next, so shuffle
      // files make the chain execute linearly — no per-round persist
      // or materializing count is needed.
      var scores = nodesP.select(col("node"),
        lit(new java.math.BigDecimal(1)).cast(dec38).as("n"))
      var bk = BigInt(1) // B^k
      for (_ <- 0 until iters) {
        val teleport = new java.math.BigDecimal((3 * L * bk).bigInteger)
        // joins stay SHUFFLED (no broadcast hints): scores/contrib are
        // node-scale on a real web graph — the standard distributed
        // PageRank step — and at bench scale AQE picks the cheap
        // strategy from runtime sizes anyway
        val contrib = staged
          .join(scores.withColumnRenamed("node", "src"), "src")
          .groupBy("dst")
          .agg(sum(col("m") * col("n")).as("s"))
        // every dst with an in-edge receives a contribution every
        // round (scores cover all nodes), so contrib's key set ==
        // distinct dst; the teleport-only complement is the
        // precomputed noInP — a union instead of the old per-round
        // nodes ⟕ contrib join. Arithmetic identical: teleport + 17·s
        // on the contrib branch, teleport (± 17·0) on the no-in-edge
        // branch.
        scores = graft.io.Scratch.truncate(
          contrib.select(col("dst").as("node"),
              (lit(teleport) + lit(17) * col("s")).cast(dec38).as("n"))
            .unionByName(noInP.select(col("node"),
              lit(teleport).cast(dec38).as("n"))))
        bk *= B
      }
      graft.io.Scratch.stage(scores, "pagerank")
    } finally {
      staged.unpersist(); nodesP.unpersist(); noInP.unpersist()
    }
  }

  /** Undirected simple edge set (u < v, self-loops dropped) of a
    * directed edge list — the substrate for triangle counting. */
  def undirectedEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** Offsets for the TRIANGLE fixture graph — the pagerank offsets
    * {1,7,13,29,31} were chosen to spread mass and happen to close
    * ZERO triangles mod 50 (no two offsets sum to a third), so the
    * triangle gate gets its own residue-classed design: {1,2} keeps a
    * universal (n, n+1, n+2) triangle everywhere, class 1 adds the
    * 1+2=3 closure, class 2 the 2+2=4 closure — per-node counts
    * genuinely vary by residue class. */
  val TriOffsets = Map(0 -> Seq(1, 2), 1 -> Seq(1, 2, 3),
    2 -> Seq(1, 2, 4))

  /** Undirected triangle-fixture edges between EXISTING nodes. */
  def triangleEdges(nodes: DataFrame): DataFrame = {
    val offs = nodes.select(col("node").as("src"), explode(
      when(col("node") % 3 === 0, array(TriOffsets(0).map(lit): _*))
        .when(col("node") % 3 === 1, array(TriOffsets(1).map(lit): _*))
        .otherwise(array(TriOffsets(2).map(lit): _*))).as("off"))
    val e = offs.select(col("src"),
      ((col("src") + col("off")) % DomainCount).cast("int").as("dst"))
    e.join(nodes.withColumnRenamed("node", "dst"), Seq("dst"))
      .select(col("src"), col("dst"))
  }

  /** Per-node triangle count + local clustering coefficient via
    * DEGREE ORIENTATION — the scale-correct triangle algorithm: each
    * undirected edge is directed from its lower-(degree, id) endpoint
    * to its higher one, so every node's out-degree is O(√m) and the
    * wedge join cannot blow up on hubs (the skew failure of the naive
    * id-ordered listing). A triangle is found exactly once, at its
    * lowest-rank apex: two out-edges (a→b, a→c with b before c in
    * rank order) closed by the oriented edge b→c. Per-node counts
    * credit all three corners (one explode). All counts are exact
    * longs; clustering = 2T/(deg·(deg−1)) is the single 6-dp
    * division.
    *
    * Scale shape: degree aggregate (one shuffle), two equi-joins to
    * attach endpoint ranks, the wedge self-join shuffled on the apex,
    * the closing equi-join on (b, c) — the standard distributed
    * triangle plan whose wedge volume is Σ outdeg² = O(m^1.5). */
  def triangleStats(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    // orient low-(deg, id) → high-(deg, id)
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(lowFirst, col("u")).otherwise(col("v")).as("s"),
      when(lowFirst, col("v")).otherwise(col("u")).as("t"),
      when(lowFirst, col("dv")).otherwise(col("du")).as("dt"))
    // wedges at apex s: out-neighbors b, c with rank(b) < rank(c)
    val e1 = oriented.select(col("s").as("a"), col("t").as("b"),
      col("dt").as("db"))
    val e2 = oriented.select(col("s").as("a"), col("t").as("c"),
      col("dt").as("dc"))
    val wedges = e1.join(e2, Seq("a"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
    val closing = oriented.select(col("s").as("b"), col("t").as("c"))
    val tri = wedges.join(closing, Seq("b", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          round(lit(2) * coalesce(col("triangles"), lit(0L))
            .cast("double") / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Gate: domain authority table — exact numerator (string), 6-dp
    * mass share, dense authority rank. */
  private def wgPagerank(s: SparkSession, d: String): DataFrame = {
    val nodes = domainNodes(t(s, d, "documents"))
    val pr = pagerankExact(nodes, domainEdges(nodes))
    // domain-count-bounded single partition BY DESIGN (the staged pr
    // table is one row per domain). Key must be attribute-derived
    // (w1Funnel idiom): partitionBy(lit(1)) is foldable, the
    // optimizer eliminates it, and the WindowExec warning returns —
    // this site was the last emitter in the bench stderr tail.
    val kAll = substring(coalesce(col("node"), lit("")), 0, 0)
    val wAll = Window.partitionBy(kAll)
    pr.select(col("node"),
        col("n").cast("string").as("pr_num"),
        round(col("n").cast("double") /
          sum(col("n")).over(wAll).cast("double"), 6).as("pr"),
        row_number().over(
          Window.partitionBy(kAll).orderBy(col("n").desc, col("node")))
          .as("auth_rank"))
  }

  /** Per-node degree census + reciprocity of a directed edge list:
    * out/in degree, reciprocated out-edges (the reverse edge exists),
    * and the reciprocity share — the first-look structure report for
    * a link graph (a crawl frontier's hub/authority shape before
    * anything iterative runs). Exact longs from three map-side-
    * combined aggregates + one self-equi-join on (dst, src); the one
    * 6-dp division is the share. Nodes with no edges stay present via
    * the left joins. */
  def degreeCensus(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst")
    val outD = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val inD = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    val recip = e.join(
        e.select(col("src").as("dst"), col("dst").as("src")),
        Seq("src", "dst"))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("recip_out"))
    nodes.join(outD, Seq("node"), "left")
      .join(inD, Seq("node"), "left")
      .join(recip, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("recip_out"), lit(0L)).as("recip_out"))
      .withColumn("recip_share",
        when(col("out_deg") > 0,
          round(col("recip_out").cast("double") / col("out_deg"), 6))
          .otherwise(lit(0.0)))
  }

  /** Exact closed h-hop reachability sizes |N_≤h(v)| for h = 1..maxHops
    * over a directed edge list — the neighborhood function per node
    * (Palmer/Faloutsos ANF's exact ground truth). Each hop is one
    * frontier⋈edges equi-join + a distinct; every hop's reach set is
    * persisted (`io.Scratch.cut`) so the K-hop plan is K joins over
    * materialized sets, not a tree that re-expands per hop. The result
    * is staged through `io.Scratch.stage` and every cache released
    * before return. Exact distinct reach is O(Σ|N_≤h|) rows — the
    * ORACLE-able small-graph truth; at web scale the reach sets are
    * node-count-sized per node and the sketch form below
    * (`neighborhoodHll`) is the 100 TB path. */
  def neighborhoodExact(nodes: DataFrame, edges: DataFrame,
      maxHops: Int): DataFrame = {
    // lineage discipline (see kCore): each hop references the
    // previous reach set twice (union + expansion join), so the reach
    // set is lineage-truncated + persisted per hop — a constant-size
    // plan at any hop count, without the per-hop scratch parquet
    // round-trip the r16 form paid. Every hop's reach set stays
    // persisted until the result is staged (its per-hop count columns
    // aggregate each of them), then all are dropped with the edges.
    val e = edges.select(col("src"), col("dst")).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var staged = List.empty[DataFrame]
    try {
      e.count()
      // h = 1: self ∪ out-neighbors (the graph may carry no
      // self-loops; the closed neighborhood always counts the node)
      var reach = graft.io.Scratch.cut(
        nodes.select(col("node"), col("node").as("r"))
          .union(e.select(col("src").as("node"), col("dst").as("r")))
          .distinct())
      staged ::= reach
      var out = nodes.select("node")
      for (h <- 1 to maxHops) {
        if (h > 1) {
          reach = graft.io.Scratch.cut(reach.union(
            reach.withColumnRenamed("r", "src").join(e, "src")
              .select(col("node"), col("dst").as("r"))).distinct())
          staged ::= reach
        }
        // self is always reachable → every node appears: inner join
        out = out.join(
          reach.groupBy("node").agg(count(lit(1)).as(s"n$h")), "node")
      }
      graft.io.Scratch.stage(out, "neighborhood")
    } finally {
      staged.foreach(_.unpersist()); e.unpersist()
    }
  }

  /** HyperBall (Boldi–Vigna) neighborhood function — the 100 TB scale
    * path for |N_≤h(v)|: each node carries an HLL sketch of its reach
    * set; one round merges every node's out-neighbors' previous
    * sketches into its own (ONE edges⋈sketches equi-join shuffled on
    * dst + one register-union aggregate per round), so per-round cost
    * is O(|E| · sketch) regardless of how large the true reach sets
    * grow — exactly what makes exact distinct-set expansion infeasible
    * past small graphs. Sketches ride Spark's codegen'd Datasketches
    * HLL aggregates (`hll_sketch_agg`/`hll_union_agg`/`hll_union`);
    * estimates are EXACT while a sketch is still in its sparse
    * list/set mode (hundreds of items at lgk=12), which the spec pins
    * against `neighborhoodExact` on the domain fixture. Each round's
    * sketch table is staged through `io.Scratch.stage`, so the result
    * reads only those tables and the edge cache is released before
    * return. */
  def neighborhoodHll(nodes: DataFrame, edges: DataFrame,
      maxHops: Int, lgk: Int = 12): DataFrame = {
    // same per-round lineage cut as the exact form: the sketch table
    // is referenced twice per round (neighbor merge + self union)
    val e = edges.select(col("src"), col("dst")).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      e.count()
      var sk = graft.io.Scratch.stage(nodes.groupBy("node")
        .agg(hll_sketch_agg(col("node"), lit(lgk)).as("sk")), "hb_sk_h0")
      var out = nodes.select("node")
      for (h <- 1 to maxHops) {
        val nbr = e.join(
            sk.select(col("node").as("dst"), col("sk").as("nsk")), "dst")
          .groupBy(col("src").as("node"))
          .agg(hll_union_agg(col("nsk"), lit(false)).as("merged"))
        sk = graft.io.Scratch.stage(sk.join(nbr, Seq("node"), "left")
          .select(col("node"),
            when(col("merged").isNull, col("sk"))
              .otherwise(hll_union(col("sk"), col("merged"))).as("sk")),
          s"hb_sk_h$h")
        out = out.join(sk.select(col("node"),
          hll_sketch_estimate(col("sk")).as(s"n$h")), "node")
      }
      out
    } finally e.unpersist()
  }

  /** k-core membership by R rounds of degree peeling on an undirected
    * simple edge list — the subgraph-density gate link-graph curation
    * thresholds on (spam farms live OUTSIDE deep cores; Alvarez-
    * Hamelin et al.'s k-core decomposition, here the fixed-k
    * membership question). Each round drops nodes whose degree within
    * the SURVIVING subgraph is < k; peeling cascades, and R is fixed
    * (the pagerank fixed-K discipline — extra rounds past the
    * fixpoint are idempotent no-ops, so a mechanically-unrolled
    * oracle replays the result regardless of where convergence
    * landed; the spec asserts R actually reaches the fixpoint on the
    * gate graph). Per round: two alive-set equi-joins + one degree
    * aggregate — every stage keyed, nothing single-partition; alive
    * sets are persisted per round, the result is staged through
    * `io.Scratch.stage`, and every cache is released before return.
    * Returns every ORIGINAL node with an in_core flag and its
    * within-core degree. */
  def kCore(nodes: DataFrame, und: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    // LINEAGE DISCIPLINE: each round references the previous alive
    // set TWICE (u-join, v-join) and the restricted edges twice (the
    // degree union), so carrying lineage multiplies the logical plan
    // ×4 per round — 4^R copies by round R (an OOM just STRINGIFYING
    // the plan for the cache name, before any data moves). Every
    // round's alive set is therefore `io.Scratch.cut` (lineage-
    // truncated, persisted and materialized), with the previous round
    // released as soon as the next lands — a constant-size plan at
    // any round count, without the scratch parquet write+read
    // round-trip the r16 form paid per round (event-log: the 8-round
    // gate ran ~48 jobs, half its wall-clock in write commits and
    // footer reads of ≤ node-count-sized tables).
    val edges = und.select(col("u"), col("v")).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def aliveEdges(alive: DataFrame): DataFrame = edges
      .join(alive.select(col("node").as("u")), "u")
      .join(alive.select(col("node").as("v")), "v")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    // (r18 note: materializing every 2nd round only — the
    // connectedComponents every-2nd-check idea — was TRIED AND
    // REVERTED: job count went UP (86 → 90; the CC gates' loop
    // regressed ~25% isolated) because .rdd truncation materializes
    // each round's AQE stages eagerly anyway, and an unmaterialized
    // intermediate round is referenced twice (u-join, v-join) by the
    // next round's plan — the per-round count is what prevents the
    // double re-execution, not the barrier.)
    var alive: DataFrame = null
    try {
      edges.count()
      alive = graft.io.Scratch.cut(nodes.select("node"))
      for (r <- 1 to rounds) {
        val next = graft.io.Scratch.cut(degrees(aliveEdges(alive))
          .filter(col("deg") >= k).select("node"))
        alive.unpersist()
        alive = next
      }
      val coreDeg = degrees(aliveEdges(alive))
      graft.io.Scratch.stage(nodes.select("node")
          .join(alive.withColumn("in_core", lit(1)), Seq("node"), "left")
          .join(coreDeg, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("in_core"), lit(0)).as("in_core"),
            coalesce(col("deg"), lit(0L)).as("core_deg")),
        "kcore")
    } finally {
      if (alive != null) alive.unpersist()
      edges.unpersist()
    }
  }

  /** k-core gate fixture — the pagerank/triangle residue-class
    * designs are CLASS-regular, so peeling is all-or-nothing per
    * class (k ≤ min degree keeps everything, k > it cascades to
    * empty). The core gate instead splits the domain space into a
    * DENSE lower half (offsets 1..6 → interior degree ~12) and a
    * SPARSE upper half (offsets {1,2} → interior degree ~4): at
    * k = 5 the sparse interior peels in round 1 and the cascade
    * erodes the boundary tail until lower-half in-support sustains
    * it — a genuinely non-trivial core (the whole dense half + a few
    * boundary survivors), fixpoint well inside KCoreRounds (both
    * asserted in WebGraphSpec). */
  val KCoreLowOffsets = Seq(1, 2, 3, 4, 5, 6)
  val KCoreHighOffsets = Seq(1, 2)
  val KCoreK = 5
  val KCoreRounds = 8

  /** Dense-half/sparse-half out-edges between EXISTING nodes. */
  def kcoreEdges(nodes: DataFrame): DataFrame = {
    val offs = nodes.select(col("node").as("src"), explode(
      when(col("node") < DomainCount / 2,
        array(KCoreLowOffsets.map(lit): _*))
        .otherwise(array(KCoreHighOffsets.map(lit): _*))).as("off"))
    val e = offs.select(col("src"),
      ((col("src") + col("off")) % DomainCount).cast("int").as("dst"))
    e.join(nodes.withColumnRenamed("node", "dst"), Seq("dst"))
      .select("src", "dst")
  }

  /** Gate: 5-core membership of the dense/sparse domain graph. */
  private def wgKcore(s: SparkSession, d: String): DataFrame = {
    val nodes = domainNodes(t(s, d, "documents"))
    kCore(nodes, undirectedEdges(kcoreEdges(nodes)), KCoreK, KCoreRounds)
  }

  /** Gate: exact 1/2/3-hop closed neighborhood sizes per domain node
    * on the pagerank domain graph (degrees {2,4,5} → counts genuinely
    * vary by residue class). */
  private def wgNeighborhood(s: SparkSession, d: String): DataFrame = {
    val nodes = domainNodes(t(s, d, "documents"))
    neighborhoodExact(nodes, domainEdges(nodes).select("src", "dst"), 3)
  }

  /** Gate: per-domain triangle census + local clustering coefficient
    * on the undirected domain graph. */
  private def wgTriangles(s: SparkSession, d: String): DataFrame = {
    val nodes = domainNodes(t(s, d, "documents"))
    triangleStats(undirectedEdges(triangleEdges(nodes)))
  }

  /** Gate: degree/reciprocity census of the pagerank domain graph. */
  private def wgDegreeCensus(s: SparkSession, d: String): DataFrame = {
    val nodes = domainNodes(t(s, d, "documents"))
    degreeCensus(nodes, domainEdges(nodes).select("src", "dst"))
  }

  /** Unrolled K-iteration oracle (DuckDB recursive CTEs disallow the
    * per-round aggregate, so the rounds unroll mechanically; HUGEINT
    * keeps every numerator exact). */
  private def pagerankOracle: String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH nodes AS (
           SELECT DISTINCT CAST(doc_id % $DomainCount AS INT) AS node
           FROM documents),
         eo AS (
           SELECT node AS src, unnest(CASE
             WHEN node % 3 = 0 THEN ${Degrees(0).mkString("[", ",", "]")}
             WHEN node % 3 = 1 THEN ${Degrees(1).mkString("[", ",", "]")}
             ELSE ${Degrees(2).mkString("[", ",", "]")} END) AS off
           FROM nodes),
         edges0 AS (
           SELECT e.src, CAST((e.src + e.off) % $DomainCount AS INT) AS dst
           FROM eo e JOIN nodes n ON n.node = (e.src + e.off) % $DomainCount),
         degt AS (SELECT src, count(*) AS deg FROM edges0 GROUP BY src),
         edges AS (
           SELECT e.src, e.dst, CAST($L // g.deg AS HUGEINT) AS m
           FROM edges0 e JOIN degt g ON g.src = e.src),
         it0 AS (SELECT node, CAST(1 AS HUGEINT) AS n FROM nodes)""")
    var bk = BigInt(1)
    for (k <- 0 until Iters) {
      val teleport = 3 * L * bk
      sb.append(
        s""",
         it${k + 1} AS (
           SELECT nd.node,
             CAST('$teleport' AS HUGEINT) +
             17 * coalesce(c.s, CAST(0 AS HUGEINT)) AS n
           FROM nodes nd LEFT JOIN (
             SELECT e.dst, sum(e.m * i.n) AS s
             FROM edges e JOIN it$k i ON i.node = e.src
             GROUP BY e.dst) c ON c.dst = nd.node)""")
      bk *= B
    }
    sb.append(
      s"""
         SELECT node, CAST(n AS VARCHAR) AS pr_num,
           round(CAST(n AS DOUBLE) /
             CAST(sum(n) OVER () AS DOUBLE), 6) AS pr,
           CAST(row_number() OVER (ORDER BY n DESC, node)
             AS INT) AS auth_rank
         FROM it$Iters""")
    sb.toString
  }

  /** Same graph derivation, then the same degree-oriented wedge+close
    * plan in SQL — exact counts, one rounded division. */
  private def trianglesOracle: String =
    s"""WITH nodes AS (
         SELECT DISTINCT CAST(doc_id % $DomainCount AS INT) AS node
         FROM documents),
       eo AS (
         SELECT node AS src, unnest(CASE
           WHEN node % 3 = 0 THEN ${TriOffsets(0).mkString("[", ",", "]")}
           WHEN node % 3 = 1 THEN ${TriOffsets(1).mkString("[", ",", "]")}
           ELSE ${TriOffsets(2).mkString("[", ",", "]")} END) AS off
         FROM nodes),
       edges0 AS (
         SELECT e.src, CAST((e.src + e.off) % $DomainCount AS INT) AS dst
         FROM eo e JOIN nodes n ON n.node = (e.src + e.off) % $DomainCount),
       und AS (
         SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM edges0 WHERE src <> dst),
       deg AS (
         SELECT node, count(*) AS deg FROM (
           SELECT u AS node FROM und
           UNION ALL SELECT v AS node FROM und) GROUP BY 1),
       wd AS (
         SELECT und.u, und.v, du.deg AS du, dv.deg AS dv
         FROM und JOIN deg du ON du.node = und.u
           JOIN deg dv ON dv.node = und.v),
       oriented AS (
         SELECT
           CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS s,
           CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS t,
           CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS dt
         FROM wd),
       wedges AS (
         SELECT e1.s AS a, e1.t AS b, e2.t AS c
         FROM oriented e1 JOIN oriented e2 ON e1.s = e2.s
           AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))),
       tri AS (
         SELECT w.a, w.b, w.c FROM wedges w
           JOIN oriented z ON z.s = w.b AND z.t = w.c),
       pn AS (
         SELECT node, count(*) AS triangles FROM (
           SELECT a AS node FROM tri
           UNION ALL SELECT b AS node FROM tri
           UNION ALL SELECT c AS node FROM tri) GROUP BY 1)
       SELECT CAST(d.node AS INT) AS node, d.deg,
         coalesce(p.triangles, 0) AS triangles,
         CASE WHEN d.deg >= 2 THEN
           round(CAST(2 * coalesce(p.triangles, 0) AS DOUBLE)
             / (d.deg * (d.deg - 1)), 6)
         ELSE 0.0 END AS clustering
       FROM deg d LEFT JOIN pn p ON p.node = d.node"""

  /** Same nodes/edges derivation, aggregates replayed in SQL. */
  private def degreeCensusOracle: String =
    s"""WITH nodes AS (
         SELECT DISTINCT CAST(doc_id % $DomainCount AS INT) AS node
         FROM documents),
       eo AS (
         SELECT node AS src, unnest(CASE
           WHEN node % 3 = 0 THEN ${Degrees(0).mkString("[", ",", "]")}
           WHEN node % 3 = 1 THEN ${Degrees(1).mkString("[", ",", "]")}
           ELSE ${Degrees(2).mkString("[", ",", "]")} END) AS off
         FROM nodes),
       edges0 AS (
         SELECT e.src, CAST((e.src + e.off) % $DomainCount AS INT) AS dst
         FROM eo e JOIN nodes n ON n.node = (e.src + e.off) % $DomainCount),
       outd AS (SELECT src AS node, count(*) AS out_deg
         FROM edges0 GROUP BY 1),
       ind AS (SELECT dst AS node, count(*) AS in_deg
         FROM edges0 GROUP BY 1),
       recip AS (
         SELECT a.src AS node, count(*) AS recip_out
         FROM edges0 a JOIN edges0 b
           ON b.src = a.dst AND b.dst = a.src
         GROUP BY 1)
       SELECT n.node,
         coalesce(o.out_deg, 0) AS out_deg,
         coalesce(i.in_deg, 0) AS in_deg,
         coalesce(r.recip_out, 0) AS recip_out,
         CASE WHEN coalesce(o.out_deg, 0) > 0 THEN
           round(CAST(coalesce(r.recip_out, 0) AS DOUBLE) / o.out_deg, 6)
         ELSE 0.0 END AS recip_share
       FROM nodes n
         LEFT JOIN outd o ON o.node = n.node
         LEFT JOIN ind i ON i.node = n.node
         LEFT JOIN recip r ON r.node = n.node"""

  /** Same graph derivation, then three mechanical distinct-reach
    * expansions (the exact small-graph truth the HLL form
    * approximates at scale). */
  private def neighborhoodOracle: String =
    s"""WITH nodes AS (
         SELECT DISTINCT CAST(doc_id % $DomainCount AS INT) AS node
         FROM documents),
       eo AS (
         SELECT node AS src, unnest(CASE
           WHEN node % 3 = 0 THEN ${Degrees(0).mkString("[", ",", "]")}
           WHEN node % 3 = 1 THEN ${Degrees(1).mkString("[", ",", "]")}
           ELSE ${Degrees(2).mkString("[", ",", "]")} END) AS off
         FROM nodes),
       edges0 AS (
         SELECT e.src, CAST((e.src + e.off) % $DomainCount AS INT) AS dst
         FROM eo e JOIN nodes n ON n.node = (e.src + e.off) % $DomainCount),
       r1 AS (
         SELECT DISTINCT node, r FROM (
           SELECT node, node AS r FROM nodes
           UNION ALL SELECT src AS node, dst AS r FROM edges0)),
       r2 AS (
         SELECT DISTINCT node, r FROM (
           SELECT node, r FROM r1
           UNION ALL
           SELECT r1.node, e.dst AS r
           FROM r1 JOIN edges0 e ON e.src = r1.r)),
       r3 AS (
         SELECT DISTINCT node, r FROM (
           SELECT node, r FROM r2
           UNION ALL
           SELECT r2.node, e.dst AS r
           FROM r2 JOIN edges0 e ON e.src = r2.r)),
       c1 AS (SELECT node, count(*) AS n1 FROM r1 GROUP BY 1),
       c2 AS (SELECT node, count(*) AS n2 FROM r2 GROUP BY 1),
       c3 AS (SELECT node, count(*) AS n3 FROM r3 GROUP BY 1)
       SELECT n.node, c1.n1, c2.n2, c3.n3
       FROM nodes n
         JOIN c1 ON c1.node = n.node
         JOIN c2 ON c2.node = n.node
         JOIN c3 ON c3.node = n.node"""

  /** Same triangle-graph derivation, then R mechanically-unrolled
    * peeling rounds (the pagerankOracle unroll discipline — DuckDB
    * recursive CTEs disallow the per-round aggregate). */
  private def kcoreOracle: String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH nodes AS (
           SELECT DISTINCT CAST(doc_id % $DomainCount AS INT) AS node
           FROM documents),
         eo AS (
           SELECT node AS src, unnest(CASE
             WHEN node < ${DomainCount / 2}
               THEN ${KCoreLowOffsets.mkString("[", ",", "]")}
             ELSE ${KCoreHighOffsets.mkString("[", ",", "]")} END)
             AS off
           FROM nodes),
         edges0 AS (
           SELECT e.src, CAST((e.src + e.off) % $DomainCount AS INT) AS dst
           FROM eo e JOIN nodes n ON n.node = (e.src + e.off) % $DomainCount),
         und AS MATERIALIZED (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM edges0 WHERE src <> dst),
         a0 AS MATERIALIZED (SELECT node FROM nodes)""")
    for (r <- 1 to KCoreRounds) {
      sb.append(
        s""",
         e$r AS MATERIALIZED (
           SELECT und.u, und.v FROM und
             JOIN a${r - 1} x ON x.node = und.u
             JOIN a${r - 1} y ON y.node = und.v),
         d$r AS MATERIALIZED (
           SELECT node, count(*) AS deg FROM (
             SELECT u AS node FROM e$r
             UNION ALL SELECT v AS node FROM e$r) GROUP BY 1),
         a$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $KCoreK)""")
    }
    val R = KCoreRounds
    sb.append(
      s""",
         ef AS MATERIALIZED (
           SELECT und.u, und.v FROM und
             JOIN a$R x ON x.node = und.u
             JOIN a$R y ON y.node = und.v),
         df AS (
           SELECT node, count(*) AS deg FROM (
             SELECT u AS node FROM ef
             UNION ALL SELECT v AS node FROM ef) GROUP BY 1)
       SELECT n.node,
         CASE WHEN a.node IS NOT NULL THEN 1 ELSE 0 END AS in_core,
         coalesce(d.deg, 0) AS core_deg
       FROM nodes n
         LEFT JOIN a$R a ON a.node = n.node
         LEFT JOIN df d ON d.node = n.node""")
    sb.toString
  }

  val gates: Seq[Gate] = Seq(
    Gate("wg_pagerank", wgPagerank _, Some(pagerankOracle)),
    Gate("wg_triangles", wgTriangles _, Some(trianglesOracle)),
    Gate("wg_degree_census", wgDegreeCensus _, Some(degreeCensusOracle)),
    Gate("wg_neighborhood", wgNeighborhood _, Some(neighborhoodOracle)),
    Gate("wg_kcore", wgKcore _, Some(kcoreOracle)))
}
