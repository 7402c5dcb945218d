package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`): brute-force cosine top-k as the correctness
  * baseline, and a random-hyperplane LSH-bucketed variant as the scale
  * path.
  *
  * Scale design: brute force is O(queries × corpus) — valid only when
  * one side is broadcast-small (here: the query set). The LSH variant
  * buckets the corpus with `tables` independent 4-bit sign-sketches;
  * the join fans each query out to its buckets only, turning the
  * cross-join into a bucket-local join. Recall is tuned by
  * (tables × bitsPerTable); exactness is recovered by re-ranking
  * candidates with the true cosine. All hyperplanes are generated from
  * a fixed seed → fully deterministic, resumable, and identical across
  * executors without shipping state.
  */
object Similarity {

  /** Element-wise double-cast (floats widen BEFORE multiply so the
    * arithmetic matches engines that compute in double). */
  private def asDouble(a: Column): Column =
    transform(a, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(asDouble(a), x => x * x),
      lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Dot product via the native codegen'd expression
    * (`graft.functions.DotProduct`) — the HOF
    * aggregate(zip_with(...)) form walks the interpreted eval path per
    * element, which dominates O(queries × corpus × dim) ANN scoring. */
  private[sim] def dotD(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** Brute-force cosine top-k: every query against the full corpus.
    * The query side must be broadcast-small. Norms are precomputed per
    * row BEFORE the join, so each of the O(queries × corpus) pairs pays
    * one dot product, not three. Ranking uses the cosine rounded to 6
    * decimals with vec_id tie-break, so the result is stable against
    * last-ulp float noise. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb")))))
    val c = corpus
      .select(col("vec_id").as("n_id"),
        asDouble(col("embedding")).as("n_emb"))
      .withColumn("n_norm", sqrt(dotD(col("n_emb"), col("n_emb"))))
    val scored = c.crossJoin(q)
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim",
        dotD(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")))
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").as("rank"), col("n_id"),
        round(col("sim"), 4).as("cos_sim"))
  }

  /** Deterministic random hyperplanes: `tables` tables × `bits` planes,
    * each plane a 64-dim gaussian vector from a fixed seed. */
  def hyperplanes(tables: Int, bits: Int, dim: Int,
      seed: Long = 42L): Seq[Seq[Array[Double]]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Array.fill(dim)(rng.nextGaussian())))
  }

  /** Bucket ids (one per table) of an already-double embedding.
    * The full plane tensor rides as ONE typedLit constant — unrolling
    * it into per-plane literal arrays (tables × bits × dim scalar
    * literals) makes the expression tree so large that analysis/
    * optimization dominates the query (~9s fixed overhead measured). */
  private[sim] def bucketsOf(emb: Column,
      planes: Seq[Seq[Array[Double]]]): Column = {
    val tensor = typedLit(planes.map(_.map(_.toSeq)))
    transform(tensor, tablePlanes =>
      aggregate(
        transform(tablePlanes, (plane, b) =>
          when(dotD(emb, plane) > 0,
            pow(lit(2.0), b).cast("int")).otherwise(0)),
        lit(0), (acc, v) => acc + v))
  }

  /** LSH-bucketed ANN: candidates = corpus vectors sharing ≥1 table
    * bucket with the query; re-rank candidates by exact cosine.
    * A pair colliding in several tables is scored per collision and
    * collapsed with max() afterwards — cheaper than deduplicating on
    * the embedding arrays before scoring (the 64-flop cosine is far
    * lighter than a shuffle keyed by a 64-float array). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      tables: Int = 8, bits: Int = 4, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(tables, bits, dim)
    // Double-cast + norm once per row, THEN fan out to (table, bucket):
    // the sign-sketches and the post-join cosine all reuse the
    // materialized array.
    def prepared(df: DataFrame, idName: String, embName: String,
        normName: String): DataFrame =
      df.select(col("vec_id").as(idName),
          asDouble(col("embedding")).as(embName))
        .withColumn(normName, sqrt(dotD(col(embName), col(embName))))
    def withBuckets(df: DataFrame, embName: String): DataFrame =
      df.select(col("*"),
        posexplode(bucketsOf(col(embName), planes))
          .as(Seq("table", "bucket")))
    val qb = broadcast(withBuckets(
      prepared(queries, "q_id", "q_emb", "q_norm"), "q_emb"))
    val cb = withBuckets(prepared(corpus, "n_id", "n_emb", "n_norm"),
      "n_emb")
    val scored = cb.join(qb, Seq("table", "bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim",
        dotD(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")))
      .groupBy("q_id", "n_id").agg(max(col("sim")).as("sim"))
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").as("rank"), col("n_id"),
        round(col("sim"), 4).as("cos_sim"))
  }

  /** Brute-force cosine top-k over LOW-BIT-QUANTIZED embeddings
    * (scale = max|x|/levels per vector, q = round-half-up(x/scale)) —
    * the memory-bound serving shape where the index holds small
    * integers instead of floats. Every arithmetic step is exact in
    * IEEE doubles (integer products ≪ 2^53 sum exactly in ANY fold
    * order), so the ranking is bit-reproducible across engines with
    * no rounding contract needed on the sim itself (the round-6 rank
    * key stays for the house tie-break). Pair with `rankMetrics`
    * against the float ranking to measure what the quantization costs
    * in recall. */
  def quantizedBruteTopK(queries: DataFrame, corpus: DataFrame,
      k: Int, levels: Int = 3): DataFrame = {
    require(levels >= 1, s"levels=$levels must be >= 1")
    def quant(df: DataFrame, idName: String, qName: String,
        normName: String): DataFrame =
      df.select(col("vec_id").as(idName),
          asDouble(col("embedding")).as("e"))
        .withColumn("scale",
          array_max(transform(col("e"), x => abs(x))) / levels)
        // all-zero vectors quantize to zeros (the embedQuantizeInt8
        // guard): an unguarded x/0 is NULL on Spark but inf/NaN on
        // the oracle engine — a latent gate desync (no corpus vector
        // triggers it today; min max|x| is 0.23)
        .withColumn(qName,
          when(col("scale") > 0, transform(col("e"),
            x => floor(x / col("scale") + 0.5).cast("double")))
            .otherwise(transform(col("e"), _ => lit(0.0))))
        .withColumn(normName, sqrt(dotD(col(qName), col(qName))))
        .drop("e", "scale")
    val q = broadcast(quant(queries, "q_id", "q_emb", "q_norm"))
    val c = quant(corpus, "n_id", "n_emb", "n_norm")
    val scored = c.crossJoin(q)
      .filter(col("n_id") =!= col("q_id"))
      // zero-norm guard: under ANSI mode (the Spark 4 default) x/0
      // THROWS — an all-zero vector must rank by the id tie-break
      // with a NULL sim, not kill the job
      .withColumn("sim",
        when(col("q_norm") * col("n_norm") > 0,
          dotD(col("q_emb"), col("n_emb")) /
            (col("q_norm") * col("n_norm"))))
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").as("rank"), col("n_id"),
        round(col("sim"), 4).as("cos_sim"))
  }

  /** IR evaluation of a retrieval run against a ground-truth ranking
    * — the index-quality harness every ANN/quantization deployment
    * needs before it swaps retrievers: per query, recall@k
    * (|run ∩ truth| / k), precision@5 over the run's first 5 ranks,
    * and reciprocal rank of the TRUE nearest neighbor (0.0 when the
    * run misses it entirely). Both inputs use the (q_id, rank, n_id)
    * shape every top-k op here emits, so any retriever composes.
    *
    * Metric arithmetic stays on exact rationals evaluated identically
    * by both engines (hits/k, 1/rank — no logs, the tx_lm_score
    * discipline; nDCG's log2 would not oracle bit-exactly). Scale:
    * one equi-join on (q_id, n_id) + one groupBy(q_id) — both sides
    * are k rows per query, never corpus-sized. */
  def rankMetrics(run: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be > 0")
    val r = run.select(col("q_id"), col("rank").as("r_rank"),
      col("n_id"))
    val tr = truth.select(col("q_id"), col("rank").as("t_rank"),
      col("n_id"))
    val agg = r.join(tr, Seq("q_id", "n_id"))
      .groupBy("q_id").agg(
        count(lit(1)).cast("int").as("n_hits"),
        sum(when(col("r_rank") <= 5, 1).otherwise(0)).cast("int")
          .as("h5"),
        max(when(col("t_rank") === 1, lit(1.0) / col("r_rank")))
          .as("rr0"))
    tr.select("q_id").distinct()
      .join(agg, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0)) / k.toDouble, 6)
          .as("recall_at_k"),
        round(coalesce(col("h5"), lit(0)) / 5.0, 6)
          .as("precision_at_5"),
        coalesce(col("rr0"), lit(0.0)).as("rr"))
  }

  /** IVF-flat ANN — the second scale path next to LSH: a coarse
    * quantizer of `nlist` centroids partitions the corpus into
    * inverted lists; each query probes its `nprobe` nearest lists and
    * re-ranks only those vectors with the exact cosine.
    *
    * Scale shape: centroids SEED from `nlist` corpus rows picked by
    * hash order (deterministic, no RNG state shipped, no driver
    * collect — a TakeOrdered of nlist rows stays a DataFrame and
    * broadcasts), then `lloydIters` k-means refinements run as
    * DataFrame passes: assign each vector to its nearest centroid,
    * recompute each list's element-wise mean, re-broadcast. Means
    * aggregate in DECIMAL so the result is independent of summation
    * order — a double avg would make the centroids (and so the
    * bucketing) nondeterministic across partitionings. Without
    * refinement a hash-ordered sample gives unbounded-bad recall on
    * clustered data (a cluster with no sampled row leaks its vectors
    * into foreign lists); with it, centroids converge onto the
    * clusters and recall at fixed nprobe tracks cluster coverage.
    * Each iteration costs one corpus pass × nlist broadcast dots —
    * the standard IVF build cost; the probe join is keyed by list id,
    * so query fan-out is nprobe lists, not the corpus. */
  /** (n_id, n_emb double[], n_norm) projection shared by the
    * centroid-based ops. */
  private[sim] def prepare(corpus: DataFrame): DataFrame = corpus
    .select(col("vec_id").as("n_id"),
      asDouble(col("embedding")).as("n_emb"))
    .withColumn("n_norm", sqrt(dotD(col("n_emb"), col("n_emb"))))

  /** Nearest-centroid ranks by cosine (ties → smaller cid). Adds
    * `c_rank` (1 = nearest) and `cid` to every input row; the
    * centroid side is broadcast-small (nlist rows) and hinted HERE —
    * at the use site where it is legally the build side — rather
    * than carrying a frame-level hint that would also reach joins
    * where it is the preserved side (the r13 HintErrorLogger noise).
    * Kept for the PROBE paths (c_rank ≤ nprobe needs actual ranks and
    * runs on the broadcast-small query side); corpus-wide rank-1
    * assignment goes through `nearestCentroid` below. */
  private[sim] def rankByCentroid(df: DataFrame, centroids: DataFrame,
      idC: String, embC: String, normC: String): DataFrame = {
    val w = Window.partitionBy(idC)
      .orderBy(col("c_sim").desc, col("cid").asc)
    df.crossJoin(broadcast(centroids))
      .withColumn("c_sim", dotD(col(embC), col("c_emb")) /
        (col(normC) * col("c_norm")))
      .withColumn("c_rank", row_number().over(w))
      .drop("c_emb", "c_norm", "c_sim")
  }

  /** Rank-1 centroid ASSIGNMENT as a hash aggregate — the corpus-wide
    * twin of `rankByCentroid(...).filter(c_rank === 1)`. The argmax
    * over (c_sim desc, cid asc) is a `max(struct(c_sim, −cid, row))`
    * aggregate: struct ordering realizes the exact same total order
    * the window sorted by (Spark orders double NaN greatest on both
    * paths, and cid is unique so the payload field never compares),
    * but the aggregate partial-combines map-side — the shuffle carries
    * ONE row per input id instead of sorting the full id×nlist
    * candidate product (the assignCodes precedent: measured 3-4×
    * cheaper across the PQ gate set). Output: (idC, embC, normC, cid
    * [, c_emb when carryCentroid — lets residual consumers subtract
    * the coarse codeword without a join back]). */
  private[sim] def nearestCentroid(df: DataFrame, centroids: DataFrame,
      idC: String, embC: String, normC: String,
      carryCentroid: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    // the centroid relation is a pinned LocalRelation at every call
    // site (nlist rows by construction) — BOUNDED collect, the
    // fitCentroids sanction. Embedding it in the per-row expression
    // makes the assignment a pure scan-speed map: no join, no window
    // sort, no aggregate. (The max(struct(c_sim, −cid, payload))
    // aggregate tried first carried the row payload in a var-length
    // buffer and fell out of the hash-aggregate fast path — the four
    // IVF-assign gates measured ~25% SLOWER than the window form;
    // see graft.functions.NearestCentroidIdx for the tie contract.)
    val cRows = centroids.select(col("cid"), col("c_emb"),
      col("c_norm")).collect()
    // GUARD (r18, verdict ask): the centroid matrix is embedded in a
    // per-row expression serialized to every task — linear in nlist.
    // Bounded by construction today (nlist ≤ 64); a future caller
    // passing an unbounded relation must fail loudly, not ship a
    // multi-MB plan literal. At production nlist past this bound,
    // assign via the broadcast-join form instead.
    require(cRows.length <= 4096,
      s"nearestCentroid: ${cRows.length} centroids exceeds the 4096 " +
        "expression-embedding bound — use a broadcast-join assignment " +
        "for larger nlist")
    val cids = cRows.map(_.getLong(0)).toSeq
    val cembs = cRows.map(_.getSeq[Double](1)).toSeq
    val cnorms = cRows.map(_.getDouble(2)).toSeq
    val idx = GraftColumnBridge.column(
      graft.functions.NearestCentroidIdx(
        GraftColumnBridge.expression(col(embC)),
        GraftColumnBridge.expression(col(normC)),
        cids, cembs.map(_.toSeq), cnorms))
    val base = df.withColumn("__cidx", idx)
      .withColumn("cid",
        element_at(typedLit(cids), col("__cidx") + 1))
    val out =
      if (carryCentroid)
        base.withColumn("c_emb",
          element_at(typedLit(cembs.map(_.toSeq)), col("__cidx") + 1))
      else base
    out.drop("__cidx")
  }

  /** Element-wise decimal-exact mean of an array column as ONE
    * aggregate (no posexplode, no (id, dim) shuffle): per dimension an
    * `avg` over decimal(38,18) — the identical multiset of values the
    * exploded groupBy(…, dim) form averaged, so the result is
    * bit-identical — assembled back with `array`. The in-plan `size`
    * guard fails loudly if a row's width disagrees with `dim` (the
    * subRows divisibility discipline); ANSI element_at would throw on
    * short rows, the guard also catches LONGER rows whose tail would
    * otherwise silently drop. */
  private def avgEmb(embC: String, dim: Int): Column = {
    val guarded = when(size(col(embC)) === dim, col(embC))
      .otherwise(raise_error(format_string(
        s"centroid mean: embedding width %d != expected $dim",
        size(col(embC)))))
    array((0 until dim).map(i =>
      avg(element_at(guarded, i + 1).cast("decimal(38,18)"))
        .cast("double")): _*)
  }

  /** BOUNDED collect → LocalRelation pin (nlist / mSub×kCodes rows by
    * construction — the fitCentroids/pqFitCodebooks sanction): each
    * Lloyd iteration's accumulator is pinned so iteration k+1 never
    * re-executes iteration k's lineage under its broadcast boundary,
    * and the per-iteration plan stays one shallow aggregate. */
  private def pinLocal(df: DataFrame): DataFrame = {
    val rows = df.collect()
    // GUARD (r18, verdict ask): the pin is sanctioned ONLY for
    // codebook-sized relations (nlist / mSub×kCodes rows). A caller
    // that routes a data-sized frame here would silently collect it
    // to the driver — fail loudly instead. 65536 ≫ any shipped
    // codebook (max today: 8×128) yet still driver-trivial.
    require(rows.length <= 65536,
      s"pinLocal: ${rows.length} rows exceeds the 65536 codebook " +
        "bound — this pin is for centroid/codebook relations, not " +
        "data-sized frames")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Deterministic Lloyd-refined coarse quantizer over a `prepare`d
    * corpus: seed `nlist` centroids from hash-ordered corpus rows (no
    * RNG state, no driver collect — a TakeOrdered of nlist rows stays
    * a DataFrame and broadcasts), then `lloydIters` k-means passes:
    * assign each vector to its nearest centroid, recompute each list's
    * element-wise mean, re-broadcast. Returns (cid, c_emb, c_norm),
    * broadcast-tagged. */
  private def fitCentroids(prepared: DataFrame, nlist: Int,
      lloydIters: Int, dim: Int = 64): DataFrame = {
    coarseFitRuns.incrementAndGet()
    // EVERY iteration's accumulator is pinned as a LocalRelation
    // (bounded: nlist rows by construction — the same sanction the
    // final pin always had). Pinning per iteration keeps each Lloyd
    // pass ONE shallow aggregate over `prepared` instead of a nested
    // plan that re-executes every earlier pass under its broadcast
    // boundaries (measured: the r16 form ran ~30 jobs per refit gate,
    // most of them re-derivations). No frame-level broadcast hints:
    // a LocalRelation's exact tiny stats auto-broadcast at every
    // legal build site.
    val seed = pinLocal(prepared
      .orderBy(xxhash64(col("n_id")), col("n_id"))
      .limit(nlist)
      .select(col("n_id").as("cid"), col("n_emb").as("c_emb"),
        col("n_norm").as("c_norm")))
    val fitted = (1 to lloydIters).foldLeft(seed) { (cents, _) =>
      // rank-1 assignment as a map-side-combining aggregate (see
      // nearestCentroid) + the element-wise decimal mean as ONE
      // aggregate (see avgEmb) — the pass costs one corpus scan and
      // shuffles nlist×dim decimal partials, where the r16 form
      // sorted the id×nlist window product and shuffled a corpus×dim
      // posexplode twice.
      val assigned = nearestCentroid(prepared, cents, "n_id", "n_emb",
        "n_norm")
      val means = assigned.groupBy("cid")
        // decimal(38,18) mean: exact addition → order-independent;
        // embedding components are O(1) so 20 integer digits never
        // overflow
        .agg(avgEmb("n_emb", dim).as("new_emb"))
      // an emptied list keeps its previous centroid (left + coalesce)
      // so nlist is stable and cid stays the seed row's id
      pinLocal(cents.join(broadcast(means), Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("new_emb"), col("c_emb")).as("c_emb"))
        .withColumn("c_norm", sqrt(dotD(col("c_emb"), col("c_emb")))))
    }
    // 6-dp quantized centroids (the pqFitCodebooks rounding contract):
    // centroid elements survive a decimal-text dump round-trip
    // losslessly, so the x_ann_ivf_assign oracle can re-derive every
    // list/probe assignment from the dumped centroids with identical
    // arithmetic; c_norm recomputes from the quantized vector.
    pinLocal(fitted.select(col("cid"),
        transform(col("c_emb"), x => round(x, 6)).as("c_emb"))
      .withColumn("c_norm", sqrt(dotD(col("c_emb"), col("c_emb")))))
  }

  /** The two IVF join inputs — (corpus inverted lists keyed n_id→cid,
    * broadcast query probes q_id→cid) — shared by `ivfTopK` and the
    * assignment dump the conditioned oracle reads. */
  private def ivfListsAndProbes(queries: DataFrame, corpus: DataFrame,
      nlist: Int, nprobe: Int, lloydIters: Int)
      : (DataFrame, DataFrame) =
    ivfListsProbesCents(queries, corpus, nlist, nprobe, lloydIters)
      match { case (l, p, _) => (l, p) }

  private def ivfListsProbesCents(queries: DataFrame, corpus: DataFrame,
      nlist: Int, nprobe: Int, lloydIters: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val prepared = prepare(corpus)
    val centroids = fitCentroids(prepared, nlist, lloydIters)
    val lists = nearestCentroid(prepared, centroids, "n_id", "n_emb",
      "n_norm")
    val q = queries.select(col("vec_id").as("q_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb"))))
    // unhinted here: ivfAssignments only dumps the probe rows (no
    // join above a hint → HintErrorLogger); ivfTopK hints at its join
    val probes =
      rankByCentroid(q, centroids, "q_id", "q_emb", "q_norm")
        .filter(col("c_rank") <= nprobe).drop("c_rank")
    (lists, probes, centroids)
  }

  /** The engine's IVF state as rows: which inverted list each corpus
    * vector landed in ('list', n_id, cid) and which lists each query
    * probes ('probe', q_id, cid). Centroid placement is
    * engine-specific, but GIVEN this assignment the ANN answer is
    * fully determined — the x_ann_ivf oracle re-derives it from this
    * dump exactly (the d_semantic_dedup conditioned-oracle pattern).
    * Because the dump and the ANN gate run as separate executions,
    * the compare also proves the Lloyd fit is deterministic across
    * runs, not just across partitionings. */
  def ivfAssignments(queries: DataFrame, corpus: DataFrame,
      nlist: Int = 16, nprobe: Int = 6, lloydIters: Int = 2)
      : DataFrame = {
    val (lists, probes, cents) =
      ivfListsProbesCents(queries, corpus, nlist, nprobe, lloydIters)
    // the dump now ALSO carries the centroids ('cent', payload = 6-dp
    // decimal text — lossless, see fitCentroids): given them, every
    // list/probe row is DERIVABLE, so the oracle re-ranks all
    // corpus×centroid and query×centroid assignments from the dump and
    // only the engine-specific centroid PLACEMENT is taken as given
    // (echoed) — the x_pq_index conditioning pattern.
    lists.select(lit("list").as("kind"), col("n_id").as("id"),
        col("cid"), lit(null).cast("string").as("payload"))
      .unionByName(probes.select(lit("probe").as("kind"),
        col("q_id").as("id"), col("cid"),
        lit(null).cast("string").as("payload")))
      .unionByName(cents.select(lit("cent").as("kind"),
        col("cid").as("id"), col("cid"),
        serDec6(col("c_emb")).as("payload")))
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 6, lloydIters: Int = 2): DataFrame = {
    // nprobe/nlist bounds recall from below on structureless vectors
    // (synthetic gaussians ≈ no cluster locality: recall ≈ coverage);
    // clustered embeddings concentrate neighbors in the probed lists
    // and do much better at the same nprobe — see SimilaritySpec's
    // planted-cluster recall gate
    val (lists, probes) =
      ivfListsAndProbes(queries, corpus, nlist, nprobe, lloydIters)

    val w = Window.partitionBy("q_id")
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", dotD(col("q_emb"), col("n_emb")) /
        (col("q_norm") * col("n_norm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").as("rank"), col("n_id"),
        round(col("sim"), 4).as("cos_sim"))
  }

  /** Max-inner-product top-k — retrieval scoring when the norm
    * CARRIES signal (DPR-style dense retrieval, recommender item
    * popularity): rank by the raw dot product, not the cosine. Brute
    * form: broadcast queries × corpus, one dot per pair, round-6
    * ranking with n_id tie-break (the bruteForceTopK discipline). */
  def mipsTopK(queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      asDouble(col("embedding")).as("q_emb")))
    val c = corpus.select(col("vec_id").as("n_id"),
      asDouble(col("embedding")).as("n_emb"))
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("ip"), 6).desc, col("n_id").asc)
    c.crossJoin(q)
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("ip", dotD(col("q_emb"), col("n_emb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").cast("int").as("rank"),
        col("n_id"), round(col("ip"), 4).as("inner_prod"))
  }

  /** The MIPS → cosine reduction (norm augmentation): append
    * sqrt(M² − |x|²) to every corpus vector (M = the corpus max norm,
    * a broadcast-singleton stat) and 0 to every query. All augmented
    * corpus norms equal M, so augmented-COSINE order == inner-product
    * order and the entire cosine ANN stack (LSH buckets, IVF lists,
    * PQ codes) serves MIPS unchanged — the standard trick that makes
    * inner-product retrieval ride bucketed infrastructure at 100 TB
    * instead of a corpus-wide dot scan. Returns (augmented corpus,
    * augmented queries). */
  def augmentForMips(queries: DataFrame, corpus: DataFrame)
      : (DataFrame, DataFrame) = {
    val maxNorm = broadcast(corpus
      .agg(max(sqrt(dotD(asDouble(col("embedding")),
        asDouble(col("embedding"))))).as("m")))
    val augC = corpus.crossJoin(maxNorm)
      .select(col("vec_id"),
        concat(asDouble(col("embedding")),
          array(sqrt(greatest(
            col("m") * col("m") -
              dotD(asDouble(col("embedding")),
                asDouble(col("embedding"))),
            lit(0.0))))).as("embedding"))
    val augQ = queries
      .select(col("vec_id"),
        concat(asDouble(col("embedding")), array(lit(0.0)))
          .as("embedding"))
    (augQ, augC)
  }

  // ---- MMR diversified re-rank ----

  /** 6-dp micro-integer form of a similarity: round-6 → exact decimal
    * → ×1e6 → long. Every MMR comparison and score is then INTEGER
    * arithmetic — no FP contract to pin anywhere in the greedy. */
  private def simMicro(sim: Column): Column =
    (round(sim, 6).cast("decimal(18,6)") * lit(1000000)).cast("long")

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998),
    * the serving-side diversification step: an
    * ANN shortlist is often dominated by near-duplicates of one
    * result, so the final top-k greedily picks
    *   argmax_d λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)
    * (first pick = pure relevance; max over the empty set = 0).
    * λ = `lambda10`/10 so scores stay exact integers:
    * score_e7 = lambda10·rel_micro − (10−lambda10)·maxsim_micro.
    * Ties break by n_id — the greedy is fully deterministic and every
    * pick is replayable by an argmax over integer scores.
    *
    * Scale shape: the expensive part is shortlist scoring (one
    * corpus × queries scan — swap in the IVF-PQ path at scale) and the
    * shortlist×shortlist pairwise sims (queries × R² rows, corpus
    * joined by id — no second scan-wide product). The greedy itself
    * is one per-query grouped pass (`mmrGreedy`). The picks are staged
    * through `io.Scratch.stage` (eager). No collect anywhere —
    * per-query state rides as columns, so a million queries diversify
    * as one job. */
  def mmrRerank(queries: DataFrame, corpus: DataFrame,
      k: Int, shortlist: Int = 8, lambda10: Int = 7): DataFrame = {
    require(k >= 1 && k <= shortlist,
      s"k=$k must be in [1, shortlist=$shortlist]")
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb")))))
    val c = corpus
      .select(col("vec_id").as("n_id"),
        asDouble(col("embedding")).as("n_emb"))
      .withColumn("n_norm", sqrt(dotD(col("n_emb"), col("n_emb"))))
    val wTop = Window.partitionBy("q_id")
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    val sl0 = c.crossJoin(q)
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", dotD(col("q_emb"), col("n_emb")) /
        (col("q_norm") * col("n_norm")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= shortlist)
      .select(col("q_id"), col("n_id"),
        simMicro(col("sim")).as("rel_micro"),
        col("n_emb"), col("n_norm"))
    graft.io.Scratch.stage(mmrGreedy(sl0, k, lambda10), "mmr_rerank")
  }

  /** MMR over a PRECOMPUTED ANN shortlist — the production
    * composition: at scale the shortlist comes from the staged
    * IVF-PQ(-R) serving path (`ivfPqRefineTopK` output, or any
    * (q_id, n_id) frame), so the corpus-wide scan the brute form pays
    * disappears. This entry point only equi-joins the shortlist ids
    * back to their true vectors (R rows per query — never a scan of
    * unlisted vectors) to compute exact relevance and pair sims, then
    * runs the same integer greedy. Equivalence: whenever the ANN
    * shortlist contains the brute top-R ids for a query, picks are
    * IDENTICAL to `mmrRerank` (pinned in SimilaritySpec); queries
    * with fewer than k candidates yield picks only up to their
    * candidate count. Staged like `mmrRerank`. */
  def mmrRerankShortlist(shortlist: DataFrame,
      queries: DataFrame, corpus: DataFrame, k: Int,
      lambda10: Int = 7): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb")))))
    val c = corpus
      .select(col("vec_id").as("n_id"),
        asDouble(col("embedding")).as("n_emb"))
      .withColumn("n_norm", sqrt(dotD(col("n_emb"), col("n_emb"))))
    val sl0 = shortlist.select("q_id", "n_id").distinct()
      .join(c, Seq("n_id"))
      .join(q, Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        simMicro(dotD(col("q_emb"), col("n_emb")) /
          (col("q_norm") * col("n_norm"))).as("rel_micro"),
        col("n_emb"), col("n_norm"))
    graft.io.Scratch.stage(mmrGreedy(sl0, k, lambda10),
      "mmr_rerank_shortlist")
  }

  /** The shared greedy over a prepared shortlist
    * (q_id, n_id, rel_micro, n_emb, n_norm): the greedy is PER-QUERY
    * LOCAL over a bounded shortlist (R ≤ 8 here; never corpus-sized),
    * so it runs as ONE grouped aggregate — collect the ≤ R candidate
    * structs per query, then `MmrGreedyPick` evaluates all k ranks in
    * a single per-query pass (see the expression's arithmetic
    * contract). One shuffle total, no per-rank persist/count/window
    * round — the r16 k-round join formulation is kept below as
    * `mmrGreedyJoins` (the equivalence pin in SimilaritySpec and the
    * shape a shortlist too wide to collect per group would fall back
    * to). Lazy: nothing is cached. */
  private def mmrGreedy(sl0: DataFrame, k: Int, lambda10: Int): DataFrame = {
    require(lambda10 >= 0 && lambda10 <= 10,
      s"lambda10=$lambda10 must be in [0, 10]")
    import org.apache.spark.sql.GraftColumnBridge
    val collected = sl0.groupBy("q_id")
      .agg(collect_list(struct(col("n_id"), col("rel_micro"),
        col("n_emb"), col("n_norm"))).as("cand"))
    val picks = GraftColumnBridge.column(graft.functions.MmrGreedyPick(
      GraftColumnBridge.expression(col("cand")), k, lambda10))
    collected
      .select(col("q_id"), explode(picks).as("pick"))
      .select(col("q_id"), col("pick.rank").as("rank"),
        col("pick.n_id").as("n_id"),
        col("pick.mmr_score_e7").as("mmr_score_e7"))
  }

  /** The r16 k-round join/window formulation of the greedy — retained
    * for the SimilaritySpec equivalence pin against `MmrGreedyPick`
    * and as the documented fallback when the per-query candidate set
    * is too wide to collect per group. Staged like `mmrRerank`; every
    * cache is released before return. */
  private[sim] def mmrGreedyJoins(sl0: DataFrame, k: Int,
      lambda10: Int): DataFrame = {
    require(lambda10 >= 0 && lambda10 <= 10,
      s"lambda10=$lambda10 must be in [0, 10]")
    import org.apache.spark.storage.StorageLevel
    // shortlist with kept embeddings (for the pair sims), persisted:
    // the shortlist derivation runs ONCE, not once per greedy round
    val sl = graft.io.Scratch.truncate(sl0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // pairwise sims among each query's shortlist members (q × R²)
    val pairs = graft.io.Scratch.truncate(sl.select(col("q_id"),
        col("n_id").as("a"), col("n_emb").as("a_emb"),
        col("n_norm").as("a_norm"))
      .join(sl.select(col("q_id"), col("n_id").as("b"),
        col("n_emb").as("b_emb"), col("n_norm").as("b_norm")),
        Seq("q_id"))
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        simMicro(dotD(col("a_emb"), col("b_emb")) /
          (col("a_norm") * col("b_norm"))).as("sim_micro")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wPick = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("n_id").asc)
    // rem: remaining candidates with ms = running max sim_micro to the
    // selected set (null until the first pick lands a real sim — so
    // score uses the TRUE max, which may be negative, never a 0 floor).
    // Lineage note (the kCore/neighborhood per-round-cut rule): rem is
    // deliberately NOT cut per round — unlike those loops it is
    // referenced ONCE per round (linear, not multiplicative, plan
    // growth), is bounded by k ≤ 5 rounds over a ≤ 8-wide shortlist,
    // and each round's accumulator IS materialized (`Scratch.cut`).
    // If k ever grows past ~10, cut rem like kCore.
    var rem = sl.select(col("q_id"), col("n_id"), col("rel_micro"))
      .withColumn("ms", lit(null).cast("long"))
    var acc: DataFrame = null
    var prevAcc: DataFrame = null
    try {
      (1 to k).foreach { r =>
        val scored = rem.withColumn("score",
          lit(lambda10) * col("rel_micro") -
            lit(10 - lambda10) * coalesce(col("ms"), lit(0L)))
        val pick = scored.withColumn("rk", row_number().over(wPick))
          .filter(col("rk") === 1)
          .select(col("q_id"), lit(r).as("rank"), col("n_id"),
            col("score").as("mmr_score_e7"))
        // materialized before the previous round is released
        val newAcc =
          graft.io.Scratch.cut(if (acc == null) pick else acc.union(pick))
        if (prevAcc != null) prevAcc.unpersist()
        prevAcc = acc
        acc = newAcc
        if (r < k) {
          val picked = acc.filter(col("rank") === r)
            .select(col("q_id"), col("n_id").as("pick_id"))
          rem = rem.join(picked, Seq("q_id"))
            .filter(col("n_id") =!= col("pick_id"))
            .join(pairs.select(col("q_id"), col("a").as("n_id"),
              col("b").as("pick_id"), col("sim_micro")),
              Seq("q_id", "n_id", "pick_id"))
            .select(col("q_id"), col("n_id"), col("rel_micro"),
              greatest(coalesce(col("ms"), col("sim_micro")),
                col("sim_micro")).as("ms"))
        }
      }
      graft.io.Scratch.stage(acc.select(col("q_id"),
          col("rank").cast("int").as("rank"), col("n_id"),
          col("mmr_score_e7")),
        "mmr_greedy_joins")
    } finally {
      Seq(prevAcc, acc).filter(_ != null).foreach(_.unpersist())
      sl.unpersist(); pairs.unpersist()
    }
  }

  /** All-pairs candidate scoring via LSH bucket SELF-join: every pair
    * of corpus vectors sharing ≥1 table bucket, scored with the exact
    * cosine and collapsed per pair. Neither side broadcasts — this is
    * the shape for corpus-wide near-dup detection, where lshTopK's
    * broadcast-query form would ship the whole corpus. */
  def selfBucketPairs(corpus: DataFrame, tables: Int = 8, bits: Int = 4,
      dim: Int = 64): DataFrame = {
    val planes = hyperplanes(tables, bits, dim)
    val prepared = corpus
      .select(col("vec_id").as("id"),
        asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", sqrt(dotD(col("emb"), col("emb"))))
    // NOT staged (r17 A/B): writing the bucketed table (64-double
    // arrays per row) measured far slower than re-deriving the
    // sign-sketches on both self-join sides — array-heavy payloads
    // make staging a loss even when the compute is nontrivial
    val bucketed = prepared.select(col("*"),
      posexplode(bucketsOf(col("emb"), planes))
        .as(Seq("table", "bucket")))
    // NARROW self-join payload (r18, guide §8 "shuffle keys, not
    // payloads"): the bucket join only DECIDES which id pairs meet —
    // it never needs the vectors. The r17 form shipped both 64-double
    // embeddings through the bucket exchanges (tables × dim doubles
    // per row, twice) and scored every bucket collision; this form
    // joins on (table, bucket, id) alone, dedups the collision list
    // to distinct id pairs (replacing the old groupBy-max over
    // identical per-bucket scores), and re-attaches the two vectors
    // by id join to score each surviving pair ONCE. Equivalent by
    // construction: sim is a pure function of the pair's embeddings,
    // so max(sim) over a pair's bucket collisions == the one score.
    val a = bucketed.select(col("table"), col("bucket"),
      col("id").as("id_a"))
    val b = bucketed.select(col("table"), col("bucket"),
      col("id").as("id_b"))
    val pairs = a.join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    pairs
      .join(prepared.select(col("id").as("id_a"),
        col("emb").as("emb_a"), col("nrm").as("nrm_a")), Seq("id_a"))
      .join(prepared.select(col("id").as("id_b"),
        col("emb").as("emb_b"), col("nrm").as("nrm_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dotD(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b"))).as("cos_sim"))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with
    * the Lloyd-refined coarse quantizer, then inside each cluster drop
    * every vector that has a LOWER-id neighbor with cosine ≥ `tau`
    * (the one-pass keep-first rule of Abbas et al. 2023, "SemDeDup" —
    * intentionally not transitive closure: the kept set is exactly the
    * vectors with no earlier ≥ τ neighbor in their cluster, which
    * over-keeps slightly vs CC but needs no iteration). Returns one
    * row per corpus vector: (idCol, cid, kept).
    *
    * Scale shape: the only corpus-sized shuffles are the cluster
    * assignment window and the (cid)-keyed self-join. Within-cluster
    * pairing costs Σᵢ sᵢ² ≈ n²/nlist when balanced — `nlist` must grow
    * with the corpus (SemDeDup runs k ~ O(√n) or larger, keeping
    * cluster sizes bounded); for corpora where even that is too big,
    * compose `selfBucketPairs` (LSH) with an external keep rule
    * instead. Deterministic end-to-end: hash-seeded centroids, decimal
    * means, id-ordered keep rule — no RNG, no collect. */
  def semanticDedup(corpus: DataFrame, tau: Double, nlist: Int = 16,
      lloydIters: Int = 2): DataFrame = {
    val prepared = prepare(corpus)
    val centroids = fitCentroids(prepared, nlist, lloydIters)
    val assigned = nearestCentroid(prepared, centroids, "n_id", "n_emb",
      "n_norm")
      .select(col("n_id"), col("cid"), col("n_emb"), col("n_norm"))
    val a = assigned.select(col("cid"), col("n_id").as("id_a"),
      col("n_emb").as("emb_a"), col("n_norm").as("nrm_a"))
    val b = assigned.select(col("cid"), col("n_id").as("id_b"),
      col("n_emb").as("emb_b"), col("n_norm").as("nrm_b"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      // threshold on the UNROUNDED cosine, matching the oracle's
      // list_cosine_similarity filter (same double arithmetic)
      .filter(dotD(col("emb_a"), col("emb_b")) /
        (col("nrm_a") * col("nrm_b")) >= tau)
      .select(col("id_b").as("n_id")).distinct()
    assigned
      .join(dropped.withColumn("__graft_drop", lit(true)),
        Seq("n_id"), "left")
      .select(col("n_id").as("vec_id"), col("cid"),
        col("__graft_drop").isNull.as("kept"))
  }

  // ---- product quantization (PQ codes + ADC scoring) ----

  /** (n_id, sub, s_emb) subvector rows: each vector split into `mSub`
    * contiguous subvectors of width dim/mSub. Narrow (explode over a
    * literal index range + slice), so subvector extraction runs at
    * scan speed and inherits the input partitioning. */
  private def subRows(prepared: DataFrame, mSub: Int): DataFrame = {
    val w = (size(col("n_emb")) / mSub).cast("int")
    prepared
      // fail loudly on dim % mSub != 0 — floor(dim/mSub) widths would
      // silently drop the trailing dimensions from codes, ADC, and MSE
      .withColumn("n_emb",
        when(size(col("n_emb")) % mSub === 0, col("n_emb"))
          .otherwise(raise_error(format_string(
            s"PQ: embedding dim %d is not divisible by mSub=$mSub",
            size(col("n_emb"))))))
      .select(col("n_id"), col("n_emb"),
        explode(sequence(lit(0), lit(mSub - 1))).as("sub"))
      .select(col("n_id"), col("sub"),
        slice(col("n_emb"), col("sub") * w + 1, w).as("s_emb"))
  }

  /** Sequential-fold squared L2 distance (same fold order in DuckDB's
    * list functions → bit-exact cross-engine, the dotD discipline). */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Product-quantization codebooks: an independent deterministic
    * Lloyd fit (hash-ordered seeds, decimal-exact means — the
    * fitCentroids discipline) in EACH of the `mSub` subspaces, run as
    * one grouped computation: every step keys by `sub`, so the mSub
    * fits ride a single plan and the codebook side stays
    * broadcast-sized (mSub × kCodes rows). Assignment metric is
    * squared L2, the standard PQ choice. Returns (sub, code, c_emb)
    * with code = dense 0..kCodes-1 rank of the seed order.
    *
    * Scale: each Lloyd pass is corpus-subvectors × kCodes compare +
    * one decimal mean aggregate — the same cost class as the IVF
    * coarse fit. A 100 TB deployment fits codebooks on a sample and
    * encodes the full corpus with them; the encode path (`pqEncode`)
    * is the part that must and does run corpus-wide. */
  def pqFitCodebooks(corpus: DataFrame, mSub: Int = 8,
      kCodes: Int = 16, lloydIters: Int = 2, dim: Int = 64): DataFrame = {
    pqFitRuns.incrementAndGet()
    // the subvector rows feed the seed window + every Lloyd pass: at
    // scale that lineage re-derives the (possibly residual) corpus per
    // pass, so it is persisted for the duration of the fit and
    // released before return (every consumer below is eager — pinned
    // collects — so the cache is drained by then)
    val rows = subRows(prepare(corpus), mSub).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wSeed = Window.partitionBy("sub")
      .orderBy(xxhash64(col("n_id")), col("n_id"))
    // per-iteration LocalRelation pinning + aggregate means: the
    // fitCentroids discipline (see there) applied per subspace; the
    // accumulator is bounded at mSub × kCodes rows by construction
    // (128 at the defaults).
    val seed = pinLocal(rows
      .withColumn("rk", row_number().over(wSeed))
      .filter(col("rk") <= kCodes)
      .select(col("sub"), (col("rk") - 1).as("code"),
        col("s_emb").as("c_emb")))
    val fitted = (1 to lloydIters).foldLeft(seed) { (cents, _) =>
      val assigned = assignCodes(rows, cents)
      val means = assigned
        .groupBy("sub", "code")
        .agg(avgEmb("s_emb", dim / mSub).as("new_emb"))
      // an emptied code keeps its previous centroid, so the code book
      // stays dense and kCodes-stable; means is the build side
      pinLocal(cents.join(broadcast(means), Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("new_emb"), col("c_emb")).as("c_emb")))
    }
    // THE codebook is 6-dp quantized (the embedNormalize rounding
    // contract): codeword elements survive a decimal-text round-trip
    // losslessly, so the dumped index and the live fit are the same
    // numbers and the conditioned oracle can replay ADC bit-for-bit.
    // Pinned like every iteration (the final pin is what downstream
    // encode joins and ADC LUTs broadcast from).
    val out = pinLocal(fitted.select(col("sub"), col("code"),
      transform(col("c_emb"), x => round(x, 6)).as("c_emb")))
    rows.unpersist()
    out
  }

  /** Nearest-codeword assignment of (n_id, sub, s_emb) rows against a
    * broadcast codebook: one row per (n_id, sub) with the argmin-L2
    * code (ties → smaller code). The argmin is a `min(struct(d2,
    * code, …))` AGGREGATE — struct ordering is the exact (d2 asc,
    * code asc) total order, deterministic under ties, and the
    * aggregate partial-combines map-side with no per-group sort; a
    * row_number window here would sort corpus×kCodes rows instead
    * (measured 3-4× slower across the PQ gate set). d2 is never NaN
    * (squared L2), so struct ordering has no NaN edge. */
  private def assignCodes(rows: DataFrame, cents: DataFrame): DataFrame = {
    // the codebook is a pinned LocalRelation at every encode site
    // (mSub × kCodes rows by construction — bounded collect, the
    // pqFitCodebooks sanction), so the assignment is a pure per-row
    // expression: no broadcast join fan-out, no argmin aggregate
    // whose min(struct(d2, code, s_emb)) buffer carried the subvector
    // payload out of the hash-aggregate fast path (the
    // NearestCentroidIdx finding applied to the code space; tie and
    // fold contracts on graft.functions.NearestCodeIdx).
    import org.apache.spark.sql.GraftColumnBridge
    val cbRows = cents.select(col("sub"), col("code"), col("c_emb"))
      .collect()
    // GUARD (r18): same expression-embedding bound as nearestCentroid
    // — the codebook rides every task's serialized plan.
    require(cbRows.length <= 65536,
      s"assignCodes: ${cbRows.length} codebook rows exceeds the " +
        "65536 expression-embedding bound")
    val bySub = cbRows
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    val subsL = bySub.map(_._1)
    val codesL = bySub.map(_._2.map(_.getInt(1)).toSeq)
    val cembsL = bySub.map(_._2.map(_.getSeq[Double](2).toSeq).toSeq)
    val codeCol = GraftColumnBridge.column(
      graft.functions.NearestCodeIdx(
        GraftColumnBridge.expression(col("sub")),
        GraftColumnBridge.expression(col("s_emb")),
        subsL, codesL, cembsL))
    rows.select(col("n_id"), col("sub"), codeCol.as("code"),
      col("s_emb"))
  }

  /** PQ-encode a corpus: (n_id, sub, code) — mSub small ints per
    * vector, the 8-byte-per-vector compressed representation that
    * makes a 100 TB embedding table fit an ANN serving tier. */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame,
      mSub: Int = 8): DataFrame =
    assignCodes(subRows(prepare(corpus), mSub), codebooks)
      .select(col("n_id"), col("sub"), col("code"))

  /** ADC (asymmetric distance computation) top-k: queries stay exact,
    * the corpus is represented ONLY by its PQ codes. Per query the
    * (sub, code) → <q_sub, codeword> lookup table is mSub × kCodes
    * partial products — broadcast-tiny — and each corpus vector's
    * approximate cosine reassembles from mSub lookups instead of a
    * dim-wide dot product:
    *   cos(q, x) ≈ Σ_sub LUT[sub, code(x, sub)] / (|q| · |x̂|),
    * with |x̂| the reconstruction norm, also code-derived.
    *
    * ENGINE-PORTABLE SUMMATION CONTRACT: the per-(query, vector) sum
    * over subspaces is a shuffle aggregate whose float order no engine
    * pins, so each LUT partial (and codeword norm²) is rounded to 6 dp
    * and summed as DECIMAL(18,6) — exact, order-independent addition;
    * the 1e-6 quantization is noise against PQ's own approximation
    * error. The conditioned oracle replays the identical arithmetic
    * from the x_pq_index dump.
    *
    * Scale shape: codes join a broadcast LUT (no corpus shuffle), the
    * (q_id, n_id) sum partial-aggregates map-side to ≤ queries ×
    * vectors rows, and the final top-k windows per query. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      mSub: Int = 8, kCodes: Int = 16, lloydIters: Int = 2): DataFrame = {
    val cb = pqFitCodebooks(corpus, mSub, kCodes, lloydIters)
    val codes = pqEncode(corpus, cb, mSub)
    adcTail(codes.join(adcLut(queries, cb, mSub), Seq("sub", "code")), k)
  }

  /** The broadcast (q_id, sub, code) → partial-product lookup table of
    * ADC (queries × codebooks — tiny), with the 6-dp DECIMAL rounding
    * that makes downstream summation order-independent. */
  private def adcLut(queries: DataFrame, cb: DataFrame,
      mSub: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb"))))
    val qSubs = subRows(
      q.select(col("q_id").as("n_id"), col("q_emb").as("n_emb")), mSub)
      .select(col("n_id").as("q_id"), col("sub"), col("s_emb"))
    broadcast(qSubs.join(broadcast(cb), Seq("sub"))
      .join(q.select(col("q_id"), col("q_norm")), Seq("q_id"))
      .select(col("q_id"), col("sub"), col("code"), col("q_norm"),
        round(dotD(col("s_emb"), col("c_emb")), 6)
          .cast("decimal(18,6)").as("partial"),
        round(dotD(col("c_emb"), col("c_emb")), 6)
          .cast("decimal(18,6)").as("cnorm2")))
  }

  /** Per-pair ADC scores: (q_id, n_id, partial, cnorm2, q_norm) rows
    * → decimal sums → approximate cosine, ranked per query (round-6
    * order, n_id tie-break — deterministic). */
  private def adcScores(joined: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    joined
      .filter(col("n_id") =!= col("q_id"))
      .groupBy("q_id", "n_id")
      .agg(sum("partial").as("ip"), sum("cnorm2").as("r_norm2"),
        max("q_norm").as("q_norm"))
      .withColumn("sim", col("ip").cast("double") /
        (col("q_norm") * sqrt(col("r_norm2").cast("double"))))
      .withColumn("rn", row_number().over(w))
  }

  /** Shared ADC scoring tail: scores → top-k projection. */
  private def adcTail(joined: DataFrame, k: Int): DataFrame =
    adcScores(joined)
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").cast("int").as("rank"), col("n_id"),
        round(col("sim"), 4).as("adc_sim"))

  /** Exact-cosine re-rank of a (q_id, n_id) shortlist — the refine
    * stage of IVF-PQ-R (FAISS IndexIVFPQR shape): the ADC shortlist is
    * cheap but rank-noisy near the top (quantization error), so the
    * final top-k re-scores the R survivors against their TRUE vectors.
    * Cost: R exact dot products per query instead of corpus-wide — the
    * broadcast-query side ships once, the corpus side arrives via an
    * equi-join on the shortlist ids (no scan of unlisted vectors). */
  private def refineRerank(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb")))))
    val c = corpus.select(col("vec_id").as("n_id"),
        asDouble(col("embedding")).as("n_emb"))
      .withColumn("n_norm", sqrt(dotD(col("n_emb"), col("n_emb"))))
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    shortlist.select("q_id", "n_id")
      .join(c, Seq("n_id"))
      .join(q, Seq("q_id"))
      .withColumn("sim", dotD(col("q_emb"), col("n_emb")) /
        (col("q_norm") * col("n_norm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").cast("int").as("rank"), col("n_id"),
        round(col("sim"), 4).as("cos_sim"))
  }

  /** IVF-PQ-R: coarse pruning → ADC top-`shortlist` → exact re-rank →
    * top-k. The serving-tier recall fix: ADC ranks carry PQ
    * quantization error, so production PQ pipelines re-score the small
    * shortlist exactly; recall at fixed k rises toward the IVF ceiling
    * while the corpus-wide scan still runs entirely on 8-byte codes. */
  def ivfPqRefineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int = 12, nlist: Int = 16, nprobe: Int = 6,
      mSub: Int = 8, kCodes: Int = 16, lloydIters: Int = 2): DataFrame = {
    val sl = ivfPqTopK(queries, corpus, shortlist, nlist, nprobe, mSub,
      kCodes, lloydIters)
    refineRerank(sl, queries, corpus, k)
  }

  /** IVF-PQ: the full similarity-search scale path — the coarse
    * quantizer prunes the corpus to the `nprobe` probed inverted lists
    * and ADC scores ONLY those candidates from their 8-byte codes.
    * Per query the scan cost drops from n×mSub lookups to
    * ≈ n×(nprobe/nlist)×mSub, and the corpus representation in the
    * scoring join is codes, not vectors. At nprobe = nlist the pruning
    * is lossless and the result equals `pqTopK` EXACTLY (pinned by
    * PqSpec and the x_pq_ivf_full oracle) — the same machinery-
    * exactness argument as `x_ann_ivf_full`. Both fits are the shared
    * deterministic Lloyd, so the production-params gate can condition
    * its oracle on the x_ann_ivf_assign + x_pq_index dumps of separate
    * executions. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 6, mSub: Int = 8, kCodes: Int = 16,
      lloydIters: Int = 2): DataFrame = {
    val (lists, probes) =
      ivfListsAndProbes(queries, corpus, nlist, nprobe, lloydIters)
    val cb = pqFitCodebooks(corpus, mSub, kCodes, lloydIters)
    val codes = pqEncode(corpus, cb, mSub)
    val cand = lists.select(col("cid"), col("n_id"))
      .join(probes.select(col("cid"), col("q_id")), Seq("cid"))
      .select("q_id", "n_id")
    adcTail(
      codes.join(cand, Seq("n_id"))
        .join(adcLut(queries, cb, mSub), Seq("q_id", "sub", "code")), k)
  }

  // ---- residual PQ (IVF-PQ with by_residual — the FAISS default) ----

  /** (vec_id, embedding) corpus of COARSE RESIDUALS v − c(list(v)).
    * Quantizing residuals instead of raw vectors is the classic IVF-PQ
    * refinement (Jégou et al. 2011): residual energy is much smaller
    * than vector energy, so the same mSub×kCodes codeword budget
    * spends itself on the part the coarse quantizer didn't explain and
    * reconstruction MSE drops (PqSpec pins residual MSE < raw MSE on
    * the real corpus). Narrow: one broadcast-centroid join + a
    * zip_with subtract — residual extraction runs at scan speed. */
  def residualCorpus(corpus: DataFrame, lists: DataFrame,
      cents: DataFrame): DataFrame =
    prepare(corpus).join(lists, Seq("n_id"))
      .join(broadcast(cents), Seq("cid"))
      .select(col("n_id").as("vec_id"),
        zip_with(col("n_emb"), col("c_emb"), (v, c) => v - c)
          .as("embedding"))

  /** Mean squared sub-vector quantization error of a coded corpus —
    * the PQ quality metric (reconstruction MSE of x equals the
    * quantization MSE of whatever was coded: raw vectors for plain PQ,
    * coarse residuals for residual PQ, since the coarse term cancels).
    * Exact decimal mean so the comparison is order-independent. */
  def pqMse(vectors: DataFrame, cb: DataFrame, codes: DataFrame,
      mSub: Int = 8): Double =
    subRows(prepare(vectors), mSub)
      .join(codes.select(col("n_id"), col("sub"), col("code")),
        Seq("n_id", "sub"))
      .join(broadcast(cb), Seq("sub", "code"))
      .select(sqDist(col("s_emb"), col("c_emb"))
        .cast("decimal(38,18)").as("e2"))
      .agg(avg("e2").cast("double")).head.getDouble(0)

  /** Residual-PQ ADC top-k over prepared index state. Scoring
    * reconstructs x̂ = c_list + r̂ entirely from broadcast lookup
    * terms:
    *   <q, x̂>  = <q, c> + Σ_sub <q_sub, cw_sub>
    *   |x̂|²   = |c|² + Σ_sub (2·<c_sub, cw_sub> + |cw_sub|²)
    * — the per-(query, centroid) terms and the per-(centroid, sub,
    * code) cross terms are nlist- and nlist×mSub×kCodes-sized
    * broadcasts; the corpus side still arrives as 8-byte codes. Every
    * partial is 6-dp DECIMAL (the adcLut summation contract), so the
    * shuffle-order-free sums replay bit-for-bit cross-engine. */
  private def residualAdcTopK(queries: DataFrame, cents: DataFrame,
      lists: DataFrame, probes: DataFrame, cb: DataFrame,
      codes: DataFrame, k: Int, mSub: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb"))))
    val dec6 = (c: Column) => round(c, 6).cast("decimal(18,6)")
    val qc = broadcast(q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cid"), col("q_norm"),
        dec6(dotD(col("q_emb"), col("c_emb"))).as("qcip"),
        dec6(dotD(col("c_emb"), col("c_emb"))).as("cn2")))
    val cSubs = subRows(cents.select(col("cid").as("n_id"),
        col("c_emb").as("n_emb")), mSub)
      .select(col("n_id").as("cid"), col("sub"),
        col("s_emb").as("c_sub"))
    val cterm = broadcast(cSubs.join(broadcast(cb), Seq("sub"))
      .select(col("cid"), col("sub"), col("code"),
        (dec6(dotD(col("c_sub"), col("c_emb"))) * 2 +
          dec6(dotD(col("c_emb"), col("c_emb")))).as("cterm")))
    val cand = lists.join(probes, Seq("cid"))
      .select(col("q_id"), col("n_id"), col("cid"))
      .filter(col("n_id") =!= col("q_id"))
    val lut = adcLut(q.select(col("q_id").as("vec_id"),
        col("q_emb").as("embedding")), cb, mSub)
      .select(col("q_id"), col("sub"), col("code"), col("partial"))
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    codes.join(cand, Seq("n_id"))
      .join(lut, Seq("q_id", "sub", "code"))
      .join(cterm, Seq("cid", "sub", "code"))
      .groupBy("q_id", "n_id", "cid")
      .agg(sum("partial").as("rp"), sum("cterm").as("ct"))
      .join(qc, Seq("q_id", "cid"))
      .withColumn("sim", (col("qcip") + col("rp")).cast("double") /
        (col("q_norm") * sqrt((col("cn2") + col("ct")).cast("double"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").cast("int").as("rank"),
        col("n_id"), round(col("sim"), 4).as("adc_sim"))
  }

  /** Residual-PQ index build in ONE self-contained execution (coarse
    * fit → lists → residuals → grouped-Lloyd codebooks on residuals →
    * codes), dumped in the x_pq_index schema. The gate's oracle
    * conditions on the x_ann_ivf_assign dump (a SEPARATE execution's
    * coarse fit — determinism hash-checked, as ever) to re-derive
    * every residual and every argmin-L2 code over the echoed
    * codebooks. */
  def pqResidualIndex(corpus: DataFrame, nlist: Int = 16,
      lloydIters: Int = 2, mSub: Int = 8, kCodes: Int = 16): DataFrame = {
    val prepared = prepare(corpus)
    val cents = fitCentroids(prepared, nlist, lloydIters)
    // residuals in the SAME pass as the assignment: nearestCentroid
    // carries the winning codeword (carryCentroid), so v − c(list(v))
    // is a zip_with over the aggregate's own output — no join back
    // through lists, no second broadcast of the centroid relation
    val res = nearestCentroid(prepared, cents, "n_id", "n_emb",
        "n_norm", carryCentroid = true)
      .select(col("n_id").as("vec_id"),
        zip_with(col("n_emb"), col("c_emb"), (v, c) => v - c)
          .as("embedding"))
    val cb = pqFitCodebooks(res, mSub, kCodes, lloydIters)
    cb.select(lit("cb").as("kind"), col("sub"),
        col("code").cast("long").as("id"),
        serDec6(col("c_emb")).as("payload"))
      .unionByName(pqEncode(res, cb, mSub)
        .select(lit("code").as("kind"), col("sub"),
          col("n_id").as("id"), col("code").cast("string").as("payload")))
  }

  /** Self-contained residual IVF-PQ top-k (refit path — the library
    * form; the gate serves from the staged index instead). */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 6, mSub: Int = 8, kCodes: Int = 16,
      lloydIters: Int = 2): DataFrame = {
    val prepared = prepare(corpus)
    val cents = fitCentroids(prepared, nlist, lloydIters)
    val lists = nearestCentroid(prepared, cents, "n_id", "n_emb",
      "n_norm").select("n_id", "cid")
    val q = queries.select(col("vec_id").as("q_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb"))))
    val probes = broadcast(rankByCentroid(q, cents, "q_id", "q_emb",
        "q_norm").filter(col("c_rank") <= nprobe)
      .select(col("cid"), col("q_id")))
    val res = residualCorpus(corpus, lists, cents)
    val cb = pqFitCodebooks(res, mSub, kCodes, lloydIters)
    val codes = pqEncode(res, cb, mSub)
    residualAdcTopK(queries, cents, lists, probes, cb, codes, k, mSub)
  }

  // ---- gate queries ----

  private def queriesSide(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").filter(col("vec_id") < 10)

  /** Brute-force cosine top-3 for the first 10 vectors. */
  private def xAnnBrute(s: SparkSession, d: String): DataFrame =
    bruteForceTopK(queriesSide(s, d), t(s, d, "embeddings"), 3)

  /** Quantization-quality evaluation gate: the 3-level integer
    * ranking (quantizedBruteTopK — deliberately coarse so recall
    * visibly degrades) scored against the float top-10 via
    * rankMetrics. FULL oracle: both runs and the metric join
    * re-derive end-to-end in DuckDB — the quantized run's integer
    * arithmetic is fold-order-exact, the float run rides the
    * round-6 rank contract of x_ann_brute. */
  private def xRankMetrics(s: SparkSession, d: String): DataFrame =
    rankMetrics(
      quantizedBruteTopK(queriesSide(s, d), t(s, d, "embeddings"),
        10, levels = 3),
      bruteForceTopK(queriesSide(s, d), t(s, d, "embeddings"), 10),
      10)

  /** LSH variant, FULL-oracle: at 16 tables × 2 bits the collision
    * probability of a top-3 neighbor (cos ≈ 0.45 ⇒ per-table ≈ 0.43)
    * gives a miss probability ≈ 1e-4 per pair — empirically recall is
    * exactly 1.0 on the fixed gate data, so DuckDB's brute-force SQL
    * is a valid oracle while the engine still runs the real bucketed
    * join (the plan never goes all-pairs). Production-default recall
    * floors are asserted separately in SimilaritySpec. */
  private def xAnnLsh(s: SparkSession, d: String): DataFrame =
    lshTopK(queriesSide(s, d), t(s, d, "embeddings"), 3,
      tables = 16, bits = 2)

  /** IVF variant at production params. Centroid placement is
    * engine-specific, so the oracle is CONDITIONED on the
    * x_ann_ivf_assign dump: given the engine's inverted lists and
    * probe sets, DuckDB re-derives the exact top-3 independently —
    * every rank, id and similarity is fully verified, and because this
    * gate refits Lloyd in a separate execution from the dump, a
    * nondeterministic fit would hash-mismatch. Recall quality
    * (vs brute force, planted clusters) stays in SimilaritySpec. */
  private def xAnnIvf(s: SparkSession, d: String): DataFrame =
    ivfTopK(queriesSide(s, d), t(s, d, "embeddings"), 3)

  /** The IVF assignment dump the x_ann_ivf oracle conditions on — now
    * itself CONDITIONED-oracled: centroid rows ride in the dump, the
    * oracle echoes them and re-derives every list/probe assignment
    * (see `ivfAssignReplaySql`). */
  private def xAnnIvfAssign(s: SparkSession, d: String): DataFrame =
    ivfAssignments(queriesSide(s, d), t(s, d, "embeddings"))

  /** IVF machinery-exactness gate, FULL-oracle: probing every list
    * (nprobe = nlist) must recover brute force exactly — this proves
    * the partition into inverted lists loses no vector, the probe
    * join fans out correctly, and the re-rank is exact, independent
    * of where Lloyd puts the centroids. The recall-at-nprobe<nlist
    * half lives in SimilaritySpec's planted-cluster gate. */
  private def xAnnIvfFull(s: SparkSession, d: String): DataFrame =
    ivfTopK(queriesSide(s, d), t(s, d, "embeddings"), 3,
      nlist = 16, nprobe = 16)

  /** PQ index dump: the codebooks (kind='cb', id=code, payload =
    * 6-dp decimal codeword) unioned with every vector's codes
    * (kind='code', id=vec_id, payload=code) — the engine state the
    * x_pq_topk oracle conditions on. Now itself CONDITIONED-oracled:
    * the oracle echoes the codebooks and re-derives every code as the
    * argmin-L2 codeword (see `pqIndexReplaySql`); the staged serving
    * gates refit in separate executions, so fit determinism stays
    * hash-checked. */
  private def xPqIndex(s: SparkSession, d: String): DataFrame = {
    val corpus = t(s, d, "embeddings")
    val cb = pqFitCodebooks(corpus)
    cb.select(lit("cb").as("kind"), col("sub"),
        col("code").cast("long").as("id"),
        serDec6(col("c_emb")).as("payload"))
      .unionByName(pqEncode(corpus, cb)
        .select(lit("code").as("kind"), col("sub"),
          col("n_id").as("id"), col("code").cast("string").as("payload")))
  }

  // ---- staged fit-once index tables ----
  //
  // The Lloyd fits (coarse quantizer + PQ codebooks) are index-BUILD
  // work; serving gates should consume the built index, not refit per
  // query — exactly the dupClustersStaged shape. Each fit is staged
  // ONCE per (process, sf dir) through `io.Scratch.stagedOnce` and
  // every consumer reads the staged parquet back, so the ADC/probe
  // gates pay scan cost, not fit cost. x_pq_index (and the x_ann_*
  // family) still refit in their own executions — the dump each staged
  // consumer's oracle conditions on therefore comes from a SEPARATE
  // fit, and a nondeterministic Lloyd would hash-mismatch (the
  // determinism proof is preserved, just no longer paid 4×).

  /** Fit counters PqSpec pins the fit-once contract with. */
  private[graft] val pqFitRuns =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val coarseFitRuns =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The x_pq_index rows, staged once per sf dir and read back. */
  private def pqIndexStaged(s: SparkSession, d: String): DataFrame =
    graft.io.Scratch.stagedOnce(s, "pq_index", d)(xPqIndex(s, d))

  /** Parse the codebooks out of a PQ index table (the x_pq_index
    * schema: kind/sub/id/payload) into the broadcast LocalRelation
    * shape (sub, code, c_emb) every serving/encode path consumes —
    * the decimal-text payload round-trips the 6-dp codewords
    * losslessly, so the loaded codebooks are bit-identical to the
    * live fit. Bounded collect: mSub × kCodes rows by construction. */
  def loadPqCodebooks(index: DataFrame): DataFrame = {
    val cb = index.filter(col("kind") === "cb")
      .select(col("sub"), col("id").cast("int").as("code"),
        transform(split(col("payload"), ","),
          x => x.cast("double")).as("c_emb"))
    val rows = cb.collect()
    index.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), cb.schema)
  }

  /** Incremental PQ encode: code a NEW batch against an EXISTING
    * index's codebooks — the nightly-delta path (deltas never refit;
    * the fit is index-build work, the encode is the corpus-wide part).
    * Appending these codes to the stored code table keeps the serving
    * tier current at delta cost. */
  def pqEncodeWithIndex(delta: DataFrame, index: DataFrame,
      mSub: Int = 8): DataFrame =
    pqEncode(delta, loadPqCodebooks(index), mSub)

  /** Parse the coarse centroids out of an IVF assignment dump (the
    * x_ann_ivf_assign schema, which carries kind='cent' rows) into
    * the broadcast (cid, c_emb, c_norm) shape. */
  def loadIvfCentroids(assign: DataFrame): DataFrame = {
    val cents = assign.filter(col("kind") === "cent")
      .select(col("cid"),
        transform(split(col("payload"), ","),
          x => x.cast("double")).as("c_emb"))
      .withColumn("c_norm", sqrt(dotD(col("c_emb"), col("c_emb"))))
    val rows = cents.collect()
    assign.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), cents.schema)
  }

  /** Incremental IVF list assignment: place a NEW batch into the
    * existing inverted lists (nearest dumped centroid, the same
    * cosine/tie rule as the fit-time assignment) — appended to the
    * stored list table, the index absorbs deltas without refitting. */
  def ivfAssignWithIndex(delta: DataFrame, assign: DataFrame): DataFrame = {
    val prepared = prepare(delta)
    nearestCentroid(prepared, loadIvfCentroids(assign), "n_id",
      "n_emb", "n_norm")
      .select(col("n_id"), col("cid"))
  }

  /** Staged codebooks (fit-once scratch staging → loaded LocalRelation). */
  private def codebooksStaged(s: SparkSession, d: String): DataFrame =
    loadPqCodebooks(pqIndexStaged(s, d))

  /** Staged per-vector codes (n_id, sub, code). */
  private def codesStaged(s: SparkSession, d: String): DataFrame =
    pqIndexStaged(s, d).filter(col("kind") === "code")
      .select(col("id").as("n_id"), col("sub"),
        col("payload").cast("int").as("code"))

  /** Staged coarse-quantizer state at FULL probe rank: list rows
    * (kind='list', id=n_id, cid) and probe rows carrying c_rank
    * (kind='probe', id=q_id, cid, rk), so nprobe=6 and nprobe=nlist
    * consumers share ONE fit — each just filters rk. Inputs are
    * identical to ivfAssignments' gate params (nlist=16, 2 Lloyd
    * iters, queries = vec_id<10), so the rk≤6 slice equals the
    * x_ann_ivf_assign dump the conditioned oracles read. */
  private def ivfAssignStaged(s: SparkSession, d: String): DataFrame =
    graft.io.Scratch.stagedOnce(s, "ivf_assign", d) {
      val prepared = prepare(t(s, d, "embeddings"))
      val centroids = fitCentroids(prepared, 16, 2)
      val lists = nearestCentroid(prepared, centroids, "n_id", "n_emb",
        "n_norm")
        .select(lit("list").as("kind"), col("n_id").as("id"),
          col("cid"), lit(1).as("rk"),
          lit(null).cast("string").as("payload"))
      val q = queriesSide(s, d).select(col("vec_id").as("q_id"),
          asDouble(col("embedding")).as("q_emb"))
        .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb"))))
      val probes = rankByCentroid(q, centroids, "q_id", "q_emb",
        "q_norm")
        .select(lit("probe").as("kind"), col("q_id").as("id"),
          col("cid"), col("c_rank").as("rk"),
          lit(null).cast("string").as("payload"))
      // centroid vectors ride along (6-dp decimal text — lossless) so
      // the residual-PQ consumers can subtract the coarse codeword
      // without refitting
      val cents = centroids.select(lit("cent").as("kind"),
        col("cid").as("id"), col("cid"), lit(0).as("rk"),
        serDec6(col("c_emb")).as("payload"))
      lists.unionByName(probes).unionByName(cents)
    }

  /** IVF-PQ over the STAGED index: candidates from the staged coarse
    * assignment at `nprobe`, ADC from the staged codebooks/codes. The
    * pruning join, LUT build, decimal summation, and top-k machinery
    * all still run — only the fits are read, not redone. */
  private def ivfPqTopKStaged(s: SparkSession, d: String, k: Int,
      nprobe: Int): DataFrame = {
    val asg = ivfAssignStaged(s, d)
    val lists = asg.filter(col("kind") === "list")
      .select(col("cid"), col("id").as("n_id"))
    val probes = broadcast(asg
      .filter(col("kind") === "probe" && col("rk") <= nprobe)
      .select(col("cid"), col("id").as("q_id")))
    val cand = lists.join(probes, Seq("cid")).select("q_id", "n_id")
    adcTail(
      codesStaged(s, d).join(cand, Seq("n_id"))
        .join(adcLut(queriesSide(s, d), codebooksStaged(s, d), 8),
          Seq("q_id", "sub", "code")), k)
  }

  /** PQ-ADC top-3 at the default 8×16 codebook (64-dim → 8-byte
    * codes), SERVED from the staged index. Oracle: DuckDB replays the
    * LUT build, the decimal summation, and the top-k from the
    * x_pq_index dump — which the x_pq_index gate refits in its own
    * execution, so fit determinism stays hash-checked. */
  private def xPqTopk(s: SparkSession, d: String): DataFrame =
    adcTail(
      codesStaged(s, d)
        .join(adcLut(queriesSide(s, d), codebooksStaged(s, d), 8),
          Seq("sub", "code")), 3)

  /** IVF-PQ at production params (nprobe=6 of 16 lists, 8×16 codes)
    * over the staged index. Oracle conditioned on BOTH gate dumps:
    * candidate pairs from x_ann_ivf_assign (probe ⨝ list), ADC
    * arithmetic from x_pq_index — every pruning and scoring decision
    * re-derived cross-engine, against dumps fitted in separate
    * executions. */
  private def xPqIvf(s: SparkSession, d: String): DataFrame =
    ivfPqTopKStaged(s, d, 3, nprobe = 6)

  /** IVF-PQ machinery-exactness gate: probing every list must equal
    * pqTopK exactly (lossless pruning), so its oracle is x_pq_topk's
    * replay — independent of where Lloyd puts the coarse centroids. */
  private def xPqIvfFull(s: SparkSession, d: String): DataFrame =
    ivfPqTopKStaged(s, d, 3, nprobe = 16)

  /** IVF-PQ-R gate: staged-index ADC top-10 shortlist (production
    * nprobe=6) → exact re-rank → top-3. FULL replay oracle: DuckDB
    * re-derives the probed ADC shortlist from the dumps AND the exact
    * re-rank from the raw embeddings. */
  private def xPqRefine(s: SparkSession, d: String): DataFrame =
    refineRerank(ivfPqTopKStaged(s, d, 10, nprobe = 6),
      queriesSide(s, d), t(s, d, "embeddings"), 3)

  /** Residual codebooks + codes staged once per (process, sf dir),
    * fitted over residuals of the STAGED coarse assignment — serving
    * consumes the built index; only the x_pq_residual_index gate
    * refits (the determinism proof, the x_pq_index precedent). */
  private def rpqIndexStaged(s: SparkSession, d: String): DataFrame =
    graft.io.Scratch.stagedOnce(s, "rpq_index", d) {
      val asg = ivfAssignStaged(s, d)
      val cents = loadIvfCentroids(asg)
      val lists = asg.filter(col("kind") === "list")
        .select(col("id").as("n_id"), col("cid"))
      val res = residualCorpus(t(s, d, "embeddings"), lists, cents)
      val cb = pqFitCodebooks(res)
      cb.select(lit("cb").as("kind"), col("sub"),
          col("code").cast("long").as("id"),
          serDec6(col("c_emb")).as("payload"))
        .unionByName(pqEncode(res, cb)
          .select(lit("code").as("kind"), col("sub"),
            col("n_id").as("id"), col("code").cast("string").as("payload")))
    }

  /** Residual-PQ index dump — the refit execution whose conditioned
    * oracle re-derives every residual (from the x_ann_ivf_assign
    * dump's centroids + lists) and every argmin-L2 code over the
    * echoed residual codebooks. */
  private def xPqResidualIndex(s: SparkSession, d: String): DataFrame =
    pqResidualIndex(t(s, d, "embeddings"))

  /** Residual IVF-PQ top-3 at production nprobe=6, served from the
    * staged coarse assignment + staged residual index. Oracle replays
    * the full reconstruction-ADC arithmetic from both dumps. */
  private def xPqResidual(s: SparkSession, d: String): DataFrame = {
    val asg = ivfAssignStaged(s, d)
    val cents = loadIvfCentroids(asg)
    val lists = asg.filter(col("kind") === "list")
      .select(col("id").as("n_id"), col("cid"))
    val probes = broadcast(asg
      .filter(col("kind") === "probe" && col("rk") <= 6)
      .select(col("cid"), col("id").as("q_id")))
    val idx = rpqIndexStaged(s, d)
    residualAdcTopK(queriesSide(s, d), cents, lists, probes,
      loadPqCodebooks(idx),
      idx.filter(col("kind") === "code").select(col("id").as("n_id"),
        col("sub"), col("payload").cast("int").as("code")),
      3, 8)
  }

  /** MIPS top-3 for the query slice, FULL oracle (DuckDB ranks by
    * list_inner_product over all pairs — the exact semantics). The
    * augmented-cosine scale path is pinned against this exact form in
    * SimilaritySpec. */
  private def xMips(s: SparkSession, d: String): DataFrame =
    mipsTopK(queriesSide(s, d), t(s, d, "embeddings"), 3)

  /** MMR-diversified top-5 from an 8-wide shortlist at λ = 0.7.
    * Conditioned-total oracle: DuckDB re-derives EVERY rank's argmax
    * from the shortlist + pair sims given only the dump's PRIOR picks
    * — a wrong pick at any rank mismatches at that rank. */
  private def xMmr(s: SparkSession, d: String): DataFrame =
    mmrRerank(queriesSide(s, d), t(s, d, "embeddings"),
      k = 5, shortlist = 8, lambda10 = 7)

  /** MMR composed with the STAGED ANN serving stack (the production
    * shape — the shortlist comes from IVF-PQ-R, not a corpus scan):
    * staged-index ADC top-10 at nprobe=6 → exact re-rank to an 8-wide
    * shortlist → shortlist-MMR top-5 at λ = 0.7. Conditioned-total
    * oracle: DuckDB re-derives the probed ADC shortlist from the
    * x_ann_ivf_assign + x_pq_index dumps (separate-execution fits),
    * the exact re-rank from raw embeddings, and then EVERY rank's
    * greedy argmax given only this dump's prior picks — the x_mmr
    * discipline over the ANN shortlist. */
  private def xMmrIvf(s: SparkSession, d: String): DataFrame = {
    val sl = refineRerank(ivfPqTopKStaged(s, d, 10, nprobe = 6),
      queriesSide(s, d), t(s, d, "embeddings"), 8)
    mmrRerankShortlist(sl, queriesSide(s, d), t(s, d, "embeddings"),
      k = 5, lambda10 = 7)
  }

  /** kNN label vote: majority label of the 5 nearest neighbors,
    * ties → smallest label (deterministic). */
  private def xKnnLabel(s: SparkSession, d: String): DataFrame = {
    val top5 = bruteForceTopK(queriesSide(s, d), t(s, d, "embeddings"), 5)
      .join(t(s, d, "embeddings").select(col("vec_id").as("n_id"),
        col("label")), Seq("n_id"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("votes").desc, col("label").asc)
    top5.groupBy("q_id", "label").agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
  }

  /** Vector aggregation: per-label centroid (element-wise mean) via the
    * relational explode form — posexplode evaluates each embedding once,
    * the (label, dim) aggregate is one shuffle, and the centroid norm
    * reduces per label. Scales as rows×dim, the same shape a 100 TB
    * embedding table needs (a collect-based centroid would not). */
  private def xCentroid(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val exploded = e.select(col("label"),
      posexplode(asDouble(col("embedding"))).as(Seq("dim", "v")))
    val perDim = exploded.groupBy("label", "dim")
      .agg(avg(col("v")).as("m"))
    val centroid = perDim.groupBy("label")
      .agg(round(sqrt(sum(col("m") * col("m"))), 4).as("centroid_norm"))
    val norms = e.select(col("label"),
        sqrt(dotD(asDouble(col("embedding")), asDouble(col("embedding"))))
          .as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), round(avg("nrm"), 4).as("avg_norm"))
    norms.join(centroid, Seq("label"))
      .select("label", "n_vecs", "avg_norm", "centroid_norm")
  }

  /** Embedding preprocessing — the normalize/quantize passes an ANN
    * index build runs before bucketing. Pure per-row array math, zero
    * shuffles, scan-speed at any scale. The scale/norm is materialized
    * as a column BEFORE the element lambda references it (a HOF lambda
    * re-evaluates captured expressions per element — the charShingles
    * lesson). */

  /** Serialize a double array for the oracle compare as fixed-scale
    * decimal text ("0.123450,-1.000000,…") — the d_minhash_signature
    * precedent, needed because the gate harness cannot sort/hash raw
    * array columns. decimal(18,6) (not plain string-cast) so both
    * engines print identical trailing zeros and never fall into
    * scientific notation; DuckDB side mirrors with
    * `CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)`. */
  private def serDec6(arr: Column): Column =
    concat_ws(",",
      transform(arr, x => x.cast("decimal(18,6)").cast("string")))

  /** L2-normalize: unit vector + the norm. Output elements rounded to
    * 6 dp (both engines round the same double, so the contract is
    * engine-portable). Zero vectors pass through unnormalized.
    * The unit vector is computed in its own projection BEFORE the
    * display-rounding of l2: aliasing `round(l2).as("l2")` in the same
    * select makes Spark resolve the lambda's l2 reference to the
    * ROUNDED sibling alias (lateral column aliasing), silently
    * normalizing by the 6-dp value. */
  def embedNormalize(e: DataFrame): DataFrame =
    e.withColumn("l2", l2norm(col("embedding")))
      .withColumn("unit",
        when(col("l2") > 0,
          transform(asDouble(col("embedding")),
            x => round(x / col("l2"), 6)))
          .otherwise(asDouble(col("embedding"))))
      .select(col("vec_id"), round(col("l2"), 6).as("l2"), col("unit"))

  private def xEmbedNorm(s: SparkSession, d: String): DataFrame =
    embedNormalize(t(s, d, "embeddings"))
      .select(col("vec_id"), col("l2"), serDec6(col("unit")).as("unit"))

  /** Symmetric int8 quantization: per-vector scale = max|x|/127,
    * elements as floor(x/scale + 0.5) — an EXPLICIT half-up so both
    * engines agree on ties (round() tie rules differ by engine and
    * type). The unrounded scale quantizes; the output scale is
    * display-rounded. All-zero vectors quantize to zeros. */
  def embedQuantizeInt8(e: DataFrame): DataFrame =
    e.withColumn("scale",
        array_max(transform(asDouble(col("embedding")), x => abs(x)))
          / 127.0)
      .withColumn("q_emb",
        when(col("scale") > 0,
          transform(asDouble(col("embedding")),
            x => floor(x / col("scale") + lit(0.5)).cast("int")))
          .otherwise(transform(col("embedding"), _ => lit(0))))
      // separate projection: see xEmbedNorm on lateral-alias shadowing
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        col("q_emb"))

  private def xEmbedQuantize(s: SparkSession, d: String): DataFrame =
    embedQuantizeInt8(t(s, d, "embeddings"))
      .select(col("vec_id"), col("scale"),
        concat_ws(",", col("q_emb").cast("array<string>")).as("q_emb"))

  /** Covariance MOMENTS of the embedding matrix: for every
    * upper-triangle dimension pair i ≤ j, the exact sums
    * (n, Σx_i, Σx_j, Σx_i·x_j) of 6-dp-quantized inputs accumulated
    * as DECIMALs — the w9_rolling_zscore output contract: moments
    * ride out exact and cov = (sxy − sx_i·sx_j/n)/n is one
    * closed-form step downstream, because a DIVIDED covariance
    * systematically lands on FP ties engines round apart. The PCA /
    * whitening / Mahalanobis prep pass.
    *
    * Scale shape: each row emits its d(d+1)/2 upper-triangle
    * products as one generated array feeding hash partial-agg
    * IN-STAGE, so every partition collapses to ≤ d(d+1)/2 running
    * sums before the exchange — the single shuffle carries
    * partitions·d²/2 rows regardless of corpus size (d is bounded).
    * No self-join, no n·d² shuffle, no collect. */
  def covarianceMoments(e: DataFrame,
      embCol: String = "embedding"): DataFrame = {
    val quant = transform(asDouble(col(embCol)), v => round(v, 6))
    val d = size(col("x"))
    // the product of two 6-dp values lies EXACTLY on the 12-dp grid,
    // so the straight decimal(38,12) cast is tie-free in both engines
    // (round(p, 6) is NOT: the true 12-dp product can sit exactly on
    // a .xxxxxx5 boundary, which Spark and DuckDB round apart)
    val pairs = flatten(transform(sequence(lit(0), d - 1), i =>
      transform(sequence(i, d - 1), j =>
        struct(i.as("i"), j.as("j"),
          (element_at(col("x"), i + 1) * element_at(col("x"), j + 1))
            .cast("decimal(38,12)").as("p")))))
    val m = e.select(quant.as("x"))
      .select(explode(pairs).as("t"))
      .groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(count(lit(1)).as("n"),
        sum(col("t.p")).cast("double").as("sxy"))
    val s = e.select(quant.as("x"))
      .select(posexplode(col("x")).as(Seq("i", "v")))
      .groupBy("i")
      .agg(sum(col("v").cast("decimal(28,6)")).cast("double").as("sx"))
    m.join(s.select(col("i"), col("sx").as("sx_i")), Seq("i"))
      .join(s.select(col("i").as("j"), col("sx").as("sx_j")), Seq("j"))
      .select(col("i"), col("j"), col("n"), col("sx_i"), col("sx_j"),
        col("sxy"))
  }

  /** `covarianceMoments`, FUSED: the same exact moments from ONE
    * mapPartitions scan of integer arithmetic on the quantization
    * grid. Each embedding quantizes once to 6-dp unscaled longs
    * (k = round(x·10⁶) — the exact integers Spark's `round(x, 6)`
    * denotes); every upper-triangle product is then k_i·k_j, which IS
    * the decimal(38,12) value the explode form casts from the double
    * product (the true product lies on the 12-dp grid; the double
    * error is ≪ half a grid step), and per-partition cells accumulate
    * in overflow-guarded longs (spilled to BigDecimal near ±2⁶²), so
    * the exchange carries ≤ partitions·(d²/2 + d) decimal partials
    * whose exact decimal sum reproduces the explode form BIT-FOR-BIT
    * (CovMomentsSpec pins equality; the x_covariance full oracle
    * checks it cross-engine every round). The d²-bounded cell table
    * collects for local assembly — the momentsMemo precedent.
    *
    * Motivation (sf1 soak): the explode form materializes n·d²/2
    * struct rows before partial-agg — 41M rows and 61 s, the single
    * largest gate at 10×; the fused pass is a scan (the
    * mapPartitions-partials class the MG sketch already uses). */
  def covarianceMomentsFused(e: DataFrame,
      embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = e.sparkSession
    val outSchema = StructType(Seq(
      StructField("i", IntegerType), StructField("j", IntegerType),
      StructField("n", LongType),
      StructField("part", DecimalType(38, 12))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val partials = e.select(asDouble(col(embCol)).as("x"))
      .mapPartitions { it =>
        var d = -1
        var n = 0L
        var sxy: Array[Long] = null
        var spill: Array[java.math.BigDecimal] = null
        var sx: Array[Long] = null
        var ks: Array[Long] = null
        val lim = Long.MaxValue / 2
        it.foreach { r =>
          val x = r.getSeq[Double](0)
          if (d < 0) {
            d = x.length
            sxy = new Array[Long](d * (d + 1) / 2)
            spill = new Array[java.math.BigDecimal](d * (d + 1) / 2)
            sx = new Array[Long](d)
            ks = new Array[Long](d)
          }
          require(x.length == d,
            s"covariance: ragged dims ${x.length} vs $d")
          var i = 0
          while (i < d) {
            // the exact unscaled 6-dp integer round(x, 6) denotes
            val k = java.math.BigDecimal.valueOf(x(i))
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
            // loud guard (the subRows discipline): |k| ≤ 1e9 keeps
            // every product ≤ 1e18 and the guarded sums overflow-free
            require(math.abs(k) <= 1000000000L,
              s"covariance: |value| ${x(i)} past the 6-dp grid bound")
            ks(i) = k
            sx(i) += k
            i += 1
          }
          n += 1
          var c = 0
          i = 0
          while (i < d) {
            val ki = ks(i)
            var j = i
            while (j < d) {
              if (sxy(c) > lim || sxy(c) < -lim) {
                val prev = if (spill(c) == null) java.math.BigDecimal.ZERO
                  else spill(c)
                spill(c) = prev.add(java.math.BigDecimal.valueOf(sxy(c)))
                sxy(c) = 0L
              }
              sxy(c) += ki * ks(j)
              c += 1; j += 1
            }
            i += 1
          }
        }
        if (d < 0) Iterator.empty
        else {
          val out = Array.newBuilder[Row]
          var c = 0
          var i = 0
          while (i < d) {
            var j = i
            while (j < d) {
              val tot = (if (spill(c) == null) java.math.BigDecimal.ZERO
                else spill(c)).add(java.math.BigDecimal.valueOf(sxy(c)))
              out += Row(i, j, n, tot.movePointLeft(12))
              c += 1; j += 1
            }
            i += 1
          }
          i = 0
          while (i < d) {
            // Σx_i rides the same schema at j = −1 (6-dp grid)
            out += Row(i, -1, n, java.math.BigDecimal.valueOf(sx(i), 6))
            i += 1
          }
          out.result().iterator
        }
      }(enc)
    // one distributed pass; the d²-bounded cell table assembles
    // locally (the sanctioned momentsMemo collect)
    val cells = partials.groupBy("i", "j")
      .agg(sum("n").as("n"), sum("part").as("p"))
      .collect()
    val outSchema2 = StructType(Seq(
      StructField("i", IntegerType), StructField("j", IntegerType),
      StructField("n", LongType), StructField("sx_i", DoubleType),
      StructField("sx_j", DoubleType), StructField("sxy", DoubleType)))
    val sxByDim = cells.filter(_.getInt(1) == -1)
      .map(r => r.getInt(0) -> r.getDecimal(3).doubleValue).toMap
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      cells.filter(_.getInt(1) >= 0).map { r =>
        Row(r.getInt(0), r.getInt(1), r.getLong(2),
          sxByDim(r.getInt(0)), sxByDim(r.getInt(1)),
          r.getDecimal(3).doubleValue): Row
      }: _*)
    spark.createDataFrame(rows, outSchema2)
  }

  private def xCovariance(s: SparkSession, d: String): DataFrame =
    covarianceMomentsFused(t(s, d, "embeddings"))

  /** Top principal component by fixed-iteration POWER METHOD over
    * `covarianceMoments`. The d×d covariance is bounded (d² doubles),
    * so the moments collect to the driver — the sanctioned-bounded
    * collect of the nlist/mSub fit precedent — and the iteration is a
    * deterministic driver loop: v ← C·v / ‖C·v‖ from v₀ = e₁, T
    * fixed, final sign normalized so the largest-|·| element is
    * positive, elements 6-dp-quantized for the dump. The distributed
    * work is the moments pass; the driver holds only d² + d doubles
    * at ANY corpus size. */
  def principalComponent(e: DataFrame, embCol: String = "embedding",
      iters: Int = 50): DataFrame =
    powerIterate(e.sparkSession,
      covarianceMoments(e, embCol).collect(), iters) // bounded collect

  /** The driver-side power loop over collected moment rows (bounded:
    * d(d+1)/2). Split out so gates can run it over process-staged
    * moments without re-deriving them. */
  private def powerIterate(spark0: SparkSession,
      rows: Array[org.apache.spark.sql.Row], iters: Int): DataFrame = {
    val d = rows.map(_.getInt(1)).max + 1
    val cov = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val n = r.getLong(2).toDouble
      val c = (r.getDouble(5) - r.getDouble(3) * r.getDouble(4) / n) / n
      cov(i)(j) = c; cov(j)(i) = c
    }
    pcaFitRuns.incrementAndGet()
    var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      if (nrm > 0) v = w.map(_ / nrm)
    }
    val top = v.indices.maxBy(i => (math.abs(v(i)), -i))
    val sgn = if (v(top) < 0) -1.0 else 1.0
    val out = v.zipWithIndex.map { case (x, i) =>
      (i, BigDecimal(sgn * x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    import spark0.implicits._
    out.toSeq.toDF("i", "v")
  }

  /** The covariance-moments pass memoized per (process, sf dir) —
    * the distributed cost of the whole PCA family, identical across
    * consumers, so gates share one pass (the staged-fit-once
    * discipline). Verification stays independent of the memo:
    * x_covariance recomputes the moments as its own full-oracle gate
    * content every execution, and the x_pca_power oracle re-derives
    * the covariance from raw embeddings in DuckDB before accepting
    * the dumped vector — a corrupt memo fails the eigen check or the
    * x_pca_project dot replay. */
  private val stagedMoments = new java.util.concurrent.ConcurrentHashMap[
    String, Array[org.apache.spark.sql.Row]]()
  /** Counters the PCA fit-once spec pins: distributed moments passes
    * (the expensive part — once per process+corpus) and power loops
    * (cheap driver math, once per consumer). */
  private[graft] val pcaMomentsRuns =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val pcaFitRuns =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def momentsMemo(s: SparkSession, d: String)
      : Array[org.apache.spark.sql.Row] =
    stagedMoments.computeIfAbsent(d, _ => {
      pcaMomentsRuns.incrementAndGet()
      covarianceMomentsFused(t(s, d, "embeddings")).collect()
    })

  private def xPcaPower(s: SparkSession, d: String): DataFrame =
    powerIterate(s, momentsMemo(s, d), iters = 50)

  private[graft] def principalComponentStaged(s: SparkSession,
      d: String): DataFrame =
    powerIterate(s, momentsMemo(s, d), iters = 50)

  /** Project every embedding onto a component vector: score =
    * Σ x_i·v_i over the 6-dp-quantized inputs, accumulated on the
    * exact 12-dp product grid (the covarianceMoments discipline) — the
    * PCA-score / anomaly-axis / concept-direction pass. `component`
    * is a bounded (i, v) frame (d rows) that broadcasts; the dot is a
    * per-row fold over the broadcast array, no shuffle at all. */
  def pcaProject(e: DataFrame, component: DataFrame,
      embCol: String = "embedding"): DataFrame = {
    val v = component.select("i", "v").as[(Int, Double)](
      org.apache.spark.sql.Encoders.product[(Int, Double)])
      .collect().sortBy(_._1).map(_._2) // bounded: d doubles
    val vArr = array(v.map(x => lit(x)): _*)
    e.select(col("vec_id"),
      aggregate(
        // operand precisions chosen so the decimal `+` result is
        // (38,12) — scale RETAINED: at (38,12)+(38,12) Spark rounds
        // the sum to scale 11 per step (found live, 5e-12 drift); at
        // (37,12)+(30,12) the add is exact and the cast-back free
        zip_with(transform(asDouble(col(embCol)), x => round(x, 6)),
          vArr, (x, c) => (x * c).cast("decimal(30,12)")),
        lit(0).cast("decimal(37,12)"),
        (acc, p) => (acc + p).cast("decimal(37,12)"))
        .cast("double").as("score"))
  }

  /** Gate: scores against the memoized component (identical to the
    * x_pca_power dump — the fit is deterministic, and the oracle
    * replays the dot FROM that separately-refit dump, so any memo
    * staleness or fit drift hash-mismatches here). */
  private def xPcaProject(s: SparkSession, d: String): DataFrame =
    pcaProject(t(s, d, "embeddings"),
      principalComponentStaged(s, d))

  /** SEMANTIC decontamination — the embedding-level analog of
    * `tx_decontam`: flag corpus vectors whose cosine against ANY
    * eval-set vector reaches `tau`, reporting the strongest match
    * (max sim, ties to the smallest eval id — the x_ann_brute rank
    * rule). Lexical n-gram decontamination misses paraphrased eval
    * leakage; this catches it at the embedding layer.
    *
    * Scale shape: the eval set is bounded (benchmarks are small), so
    * it BROADCASTS and the pass is one scan of the corpus — per row a
    * fold over the broadcast list, no shuffle except the final
    * per-row argmax aggregate, which is corpus-row-keyed and
    * partial-combines. */
  def embedDecontam(corpus: DataFrame, evalSet: DataFrame,
      tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau=$tau must be in (0, 1]")
    val e = broadcast(evalSet
      .select(col("vec_id").as("e_id"),
        asDouble(col("embedding")).as("e_emb"))
      .withColumn("e_norm", sqrt(dotD(col("e_emb"), col("e_emb")))))
    val c = corpus.select(col("vec_id").as("n_id"),
        asDouble(col("embedding")).as("n_emb"))
      .withColumn("n_norm", sqrt(dotD(col("n_emb"), col("n_emb"))))
    val w = Window.partitionBy("n_id")
      .orderBy(round(col("sim"), 6).desc, col("e_id").asc)
    c.crossJoin(e)
      .withColumn("sim",
        dotD(col("n_emb"), col("e_emb")) /
          (col("n_norm") * col("e_norm")))
      .filter(round(col("sim"), 6) >= tau)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("n_id"), col("e_id"),
        round(col("sim"), 4).as("cos_sim"))
  }

  /** Gate: eval set = vec_id < 20, corpus = the rest, τ = 0.3. */
  private def xEmbedDecontam(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    embedDecontam(emb.filter(col("vec_id") >= 20),
      emb.filter(col("vec_id") < 20), tau = 0.3)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) — the
    * hybrid-retrieval combiner: score(d) = Σ_lists 1/(c + rank_l(d)),
    * robust to incomparable score scales (BM25 vs cosine) because
    * only RANKS enter. Contributions are integer micro-units
    * 10¹² div (c + rank) (the x_mmr discipline) — exact,
    * engine-portable, no FP ties. Inputs are (id, rank) frames —
    * already top-R bounded, so the union/group/TakeOrdered is
    * dimension-sized regardless of corpus scale. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
      c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0 && c >= 0, s"k=$k must be > 0, c=$c >= 0")
    require(rankings.forall(_.columns.contains("rank")),
      "every rrfFuse input needs a 1-based `rank` column")
    rankings.map(_.select(col(idCol),
        expr(s"1000000000000 div (rank + $c)").as("contrib")))
      .reduce(_ unionAll _)
      .groupBy(idCol)
      .agg(sum("contrib").as("rrf_e12"),
        count(lit(1)).cast("int").as("n_lists"))
      .orderBy(col("rrf_e12").desc, col(idCol).asc)
      .limit(k)
  }

  /** Hybrid search gate: BM25 lexical top-20 fused with the cosine
    * ranking of query vector 0 over the full corpus (doc_id == vec_id
    * is the declared mapping of the synthetic tables). */
  private def xRrfFusion(s: SparkSession, d: String): DataFrame = {
    val lex = graft.text.TextOps.bm25TopK(t(s, d, "documents"),
        "doc_id", "text", graft.text.TextOps.bm25Terms, 20,
        logIdf = false)
      .withColumn("rank", row_number().over(
        // attribute-derived constant key (the w1Funnel trick): the
        // frame is the 20-row shortlist, single partition intended
        Window.partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("rank"))
    val sem = bruteForceTopK(
        t(s, d, "embeddings").filter(col("vec_id") === 0),
        t(s, d, "embeddings"), 20)
      .select(col("n_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, sem), "doc_id", k = 10)
  }

  /** Semantic-dedup gate: same corpus slice as d_embed_neardup, τ=0.3.
    * The cluster assignment is engine-specific (Lloyd), so the oracle
    * takes (vec_id, cid) from the dumped output and independently
    * re-derives the keep rule — every `kept` flag is fully verified
    * GIVEN the clustering (the same conditioned-oracle pattern as the
    * s15c mtime gate); the clustering itself is quality-gated by
    * SimilaritySpec's planted-duplicate recall test. */
  private def dSemanticDedup(s: SparkSession, d: String): DataFrame =
    semanticDedup(t(s, d, "embeddings").filter(col("vec_id") < 1000),
      tau = 0.3)

  /** Brute-force top-3 in DuckDB — the oracle for every ANN gate that
    * achieves exact recall on the gate data (see xAnnLsh/xAnnIvfFull). */
  private val bruteTop3Sql =
    """WITH q AS (SELECT vec_id AS q_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
       FROM embeddings WHERE vec_id < 10),
       scored AS (
         SELECT q.q_id, c.vec_id AS n_id,
           list_cosine_similarity(q.q_emb,
             list_transform(c.embedding, x -> CAST(x AS DOUBLE))) AS sim
         FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.q_id)
       SELECT q_id, CAST(rn AS INT) AS rank, n_id,
         round(sim, 4) AS cos_sim
       FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         ORDER BY round(sim, 6) DESC, n_id ASC) AS rn FROM scored) x
       WHERE rn <= 3"""

  /** Replays pqTopK's exact arithmetic from the x_pq_index dump:
    * 6-dp codewords (lossless decimal text), LUT partials and codeword
    * norms² rounded to 6 dp and summed as DECIMAL (order-independent),
    * final cosine assembled in double. mSub=8, w=8 mirror the gate's
    * defaults on the 64-dim fixture. With `restrictToProbed` the
    * scored pairs additionally come from the x_ann_ivf_assign dump's
    * probe ⨝ list join — the IVF-PQ candidate set. */
  private def pqReplaySql(restrictToProbed: Boolean): String = {
    val candCte = if (restrictToProbed) """,
         cand AS (
           SELECT DISTINCT p.id AS q_id, l.id AS n_id
           FROM (SELECT id, cid
             FROM parquet_scan('__OUTDIR__/x_ann_ivf_assign/*.parquet')
             WHERE kind = 'probe') p
           JOIN (SELECT id, cid
             FROM parquet_scan('__OUTDIR__/x_ann_ivf_assign/*.parquet')
             WHERE kind = 'list') l USING (cid))""" else ""
    val aggCte = if (restrictToProbed)
      """agg AS (
           SELECT cand.q_id, c.n_id, sum(l.partial) AS ip,
             sum(l.cnorm2) AS r_norm2, max(l.q_norm) AS q_norm
           FROM cand
             JOIN codes c ON c.n_id = cand.n_id
             JOIN lut l ON l.q_id = cand.q_id AND l.sub = c.sub
               AND l.code = c.code
           WHERE c.n_id <> cand.q_id
           GROUP BY 1, 2)"""
    else
      """agg AS (
           SELECT l.q_id, c.n_id, sum(l.partial) AS ip,
             sum(l.cnorm2) AS r_norm2, max(l.q_norm) AS q_norm
           FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
           WHERE c.n_id <> l.q_id
           GROUP BY 1, 2)"""
    s"""WITH cb AS (
           SELECT sub, CAST(id AS INT) AS code,
             list_transform(string_split(payload, ','),
               x -> CAST(x AS DOUBLE)) AS c_emb
           FROM parquet_scan('__OUTDIR__/x_pq_index/*.parquet')
           WHERE kind = 'cb'),
         codes AS (
           SELECT id AS n_id, sub, CAST(payload AS INT) AS code
           FROM parquet_scan('__OUTDIR__/x_pq_index/*.parquet')
           WHERE kind = 'code'),
         qn AS (
           SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb,
             sqrt(list_inner_product(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               list_transform(embedding, x -> CAST(x AS DOUBLE))))
               AS q_norm
           FROM embeddings WHERE vec_id < 10),
         lut AS (
           SELECT q_id, sub, code, q_norm,
             CAST(round(list_inner_product(
               list_slice(q_emb, sub*8+1, sub*8+8), c_emb), 6)
               AS DECIMAL(18,6)) AS partial,
             CAST(round(list_inner_product(c_emb, c_emb), 6)
               AS DECIMAL(18,6)) AS cnorm2
           FROM qn CROSS JOIN cb)$candCte,
         $aggCte,
         scored AS (
           SELECT q_id, n_id, CAST(ip AS DOUBLE) /
             (q_norm * sqrt(CAST(r_norm2 AS DOUBLE))) AS sim
           FROM agg),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY round(sim, 6) DESC, n_id ASC) AS rn FROM scored)"""
  }

  private def pqReplayTopK(restrictToProbed: Boolean): String =
    pqReplaySql(restrictToProbed) + """
         SELECT q_id, CAST(rn AS INT) AS rank, n_id,
           round(sim, 4) AS adc_sim
         FROM ranked WHERE rn <= 3"""

  /** Replays the FULL IVF-PQ-R pipeline from the dumps: the probed ADC
    * ranking (identical CTEs to the x_pq_ivf replay) truncated to the
    * R=10 shortlist, then an exact-cosine re-rank against the raw
    * embeddings — every shortlist admission and every final rank
    * re-derived cross-engine. */
  private def pqRefineReplaySql: String =
    pqReplaySql(restrictToProbed = true) + """,
         sl AS (SELECT q_id, n_id FROM ranked WHERE rn <= 10),
         exact AS (
           SELECT sl.q_id, sl.n_id,
             list_cosine_similarity(qn.q_emb,
               list_transform(c.embedding, x -> CAST(x AS DOUBLE)))
               AS sim
           FROM sl JOIN qn ON qn.q_id = sl.q_id
           JOIN embeddings c ON c.vec_id = sl.n_id)
         SELECT q_id, CAST(rn AS INT) AS rank, n_id,
           round(sim, 4) AS cos_sim
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           ORDER BY round(sim, 6) DESC, n_id ASC) AS rn FROM exact) x
         WHERE rn <= 3"""

  /** Replays the FULL serving-stack MMR: the probed ADC ranking from
    * the dumps (identical CTEs to the x_pq_ivf replay) → R=10 ADC
    * shortlist → exact-cosine re-rank to the 8-wide MMR shortlist →
    * every greedy rank's argmax re-derived given only the x_mmr_ivf
    * dump's PRIOR picks (the x_mmr conditioning) — a wrong shortlist
    * admission, a wrong relevance, or a wrong pick at any rank
    * mismatches at that rank. */
  private def mmrIvfReplaySql: String =
    pqReplaySql(restrictToProbed = true) + """,
         sl10 AS (SELECT q_id, n_id FROM ranked WHERE rn <= 10),
         ce AS (
           SELECT vec_id AS n_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         exact AS (
           SELECT sl10.q_id, sl10.n_id,
             list_cosine_similarity(qn.q_emb, ce.e) AS sim
           FROM sl10 JOIN qn ON qn.q_id = sl10.q_id
           JOIN ce ON ce.n_id = sl10.n_id),
         sl AS (
           SELECT q_id, n_id,
             CAST(CAST(round(sim, 6) AS DECIMAL(18,6)) * 1000000
               AS BIGINT) AS rel_micro
           FROM (SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY round(sim, 6) DESC, n_id ASC) AS rn2 FROM exact) x
           WHERE rn2 <= 8),
         p AS (
           SELECT a.q_id, a.n_id AS a, b.n_id AS b,
             CAST(CAST(round(list_cosine_similarity(ca.e, cb.e), 6)
               AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS sim_micro
           FROM sl a JOIN sl b ON a.q_id = b.q_id AND a.n_id <> b.n_id
           JOIN ce ca ON ca.n_id = a.n_id
           JOIN ce cb ON cb.n_id = b.n_id),
         dump AS (
           SELECT q_id, rank, n_id
           FROM parquet_scan('__OUTDIR__/x_mmr_ivf/*.parquet')),
         prior AS (
           SELECT r.q_id, r.rank,
             coalesce(list(d.n_id) FILTER (WHERE d.n_id IS NOT NULL),
               []) AS sel
           FROM (SELECT DISTINCT q_id, rank FROM dump) r
           LEFT JOIN dump d ON d.q_id = r.q_id AND d.rank < r.rank
           GROUP BY r.q_id, r.rank),
         mcand AS (
           SELECT pr.q_id, pr.rank, s.n_id,
             7 * s.rel_micro - 3 * coalesce((
               SELECT max(p.sim_micro) FROM p
               WHERE p.q_id = pr.q_id AND p.a = s.n_id
                 AND list_contains(pr.sel, p.b)), 0) AS score
           FROM prior pr JOIN sl s
             ON s.q_id = pr.q_id AND NOT list_contains(pr.sel, s.n_id))
         SELECT q_id, CAST(rank AS INT) AS rank, n_id,
           CAST(score AS BIGINT) AS mmr_score_e7
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id, rank
           ORDER BY score DESC, n_id ASC) AS rk FROM mcand) x
         WHERE rk = 1"""

  /** Conditioned oracle for the x_ann_ivf_assign dump itself: the
    * centroid rows are echoed (placement is the engine's Lloyd — its
    * determinism is hash-checked by the separately-executing consumer
    * gates), but EVERY list and probe row is re-derived from the
    * dumped centroids with the engine's exact arithmetic
    * (dot/(|a||b|), rank by sim desc / cid asc). A corpus vector in
    * the wrong inverted list, a mis-ranked probe, or a corrupted
    * centroid payload all hash-mismatch. */
  private val ivfAssignReplaySql =
    """WITH dump AS (
         SELECT * FROM
           parquet_scan('__OUTDIR__/x_ann_ivf_assign/*.parquet')),
       cn AS (
         SELECT cid,
           list_transform(string_split(payload, ','),
             x -> CAST(x AS DOUBLE)) AS c_emb
         FROM dump WHERE kind = 'cent'),
       cnn AS (
         SELECT cid, c_emb,
           sqrt(list_inner_product(c_emb, c_emb)) AS c_norm
         FROM cn),
       e AS (
         SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         FROM embeddings),
       en AS (
         SELECT vec_id, emb,
           sqrt(list_inner_product(emb, emb)) AS nrm
         FROM e),
       ranked AS (
         SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_inner_product(v.emb, c.c_emb) / (v.nrm * c.c_norm)
               DESC, c.cid ASC) AS rk
         FROM en v CROSS JOIN cnn c)
       SELECT 'list' AS kind, vec_id AS id, cid,
         CAST(NULL AS VARCHAR) AS payload
       FROM ranked WHERE rk = 1
       UNION ALL
       SELECT 'probe', vec_id, cid, CAST(NULL AS VARCHAR)
       FROM ranked WHERE rk <= 6 AND vec_id < 10
       UNION ALL
       SELECT 'cent', id, cid, payload FROM dump WHERE kind = 'cent'"""

  /** Conditioned oracle for the x_pq_index dump: codebook rows echoed
    * (engine Lloyd placement), every CODE re-derived as the argmin-L2
    * codeword over the dumped codebooks (ties → smaller code) with the
    * engine's exact squared-distance fold — the assignCodes contract
    * verified cross-engine for the full corpus. */
  private val pqIndexReplaySql =
    """WITH dump AS (
         SELECT * FROM parquet_scan('__OUTDIR__/x_pq_index/*.parquet')),
       cb AS (
         SELECT sub, CAST(id AS INT) AS code,
           list_transform(string_split(payload, ','),
             x -> CAST(x AS DOUBLE)) AS c_emb
         FROM dump WHERE kind = 'cb'),
       e AS (
         SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         FROM embeddings),
       subv AS (
         SELECT vec_id, CAST(s.sub AS INT) AS sub,
           list_slice(emb, s.sub * 8 + 1, s.sub * 8 + 8) AS s_emb
         FROM e CROSS JOIN (SELECT unnest(range(8)) AS sub) s),
       d2 AS (
         SELECT v.vec_id, v.sub, c.code,
           list_inner_product(
             list_transform(range(8), i -> v.s_emb[i+1] - c.c_emb[i+1]),
             list_transform(range(8), i -> v.s_emb[i+1] - c.c_emb[i+1]))
             AS d2
         FROM subv v JOIN cb c USING (sub)),
       codes AS (
         SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub
             ORDER BY d2 ASC, code ASC) AS rk
         FROM d2)
       SELECT 'cb' AS kind, sub, id, payload FROM dump WHERE kind = 'cb'
       UNION ALL
       SELECT 'code', sub, vec_id, CAST(code AS VARCHAR)
       FROM codes WHERE rk = 1"""

  val gates: Seq[Gate] = Seq(
    Gate("d_semantic_dedup", dSemanticDedup _, Some(
      """WITH asg AS (
           SELECT vec_id, cid
           FROM parquet_scan('__OUTDIR__/d_semantic_dedup/*.parquet')),
         e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings WHERE vec_id < 1000),
         j AS (
           -- e LEFT JOIN asg, not asg JOIN e: the oracle must be TOTAL
           -- over the slice, so an engine dump that silently dropped a
           -- vector yields an extra oracle row and a row-count mismatch
           -- instead of both sides shrinking in step
           SELECT e.vec_id, a.cid, e.emb
           FROM e LEFT JOIN asg a ON a.vec_id = e.vec_id),
         dropped AS (
           SELECT DISTINCT b.vec_id
           FROM j a JOIN j b
             ON a.cid = b.cid AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3)
         SELECT j.vec_id, j.cid, d.vec_id IS NULL AS kept
         FROM j LEFT JOIN dropped d ON j.vec_id = d.vec_id""")),
    Gate("x_embed_norm", xEmbedNorm _, Some(
      """WITH s AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
           FROM embeddings)
         SELECT vec_id, round(l2, 6) AS l2,
           array_to_string(list_transform(
             CASE WHEN l2 > 0
               THEN list_transform(emb, x -> round(x / l2, 6))
               ELSE emb END,
             x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)), ',') AS unit
         FROM s""")),
    Gate("x_embed_quantize", xEmbedQuantize _, Some(
      """WITH s AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
           FROM embeddings)
         SELECT vec_id, round(scale, 6) AS scale,
           array_to_string(CASE WHEN scale > 0
             THEN list_transform(emb,
               x -> CAST(floor(x / scale + 0.5) AS INT))
             ELSE list_transform(emb, x -> 0) END, ',') AS q_emb
         FROM s""")),
    Gate("x_covariance", xCovariance _, Some(
      """WITH e AS (
           SELECT list_transform(embedding,
             v -> round(CAST(v AS DOUBLE), 6)) AS x
           FROM embeddings),
         p AS (
           SELECT ii.i AS i, jj.j AS j,
             CAST(x[ii.i + 1] * x[jj.j + 1] AS DECIMAL(38,12)) AS p
           FROM e, unnest(range(0, len(x))) AS ii(i),
             unnest(range(ii.i, len(x))) AS jj(j)),
         m AS (
           SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
             count(*) AS n,
             CAST(sum(p) AS DOUBLE) AS sxy
           FROM p GROUP BY 1, 2),
         s AS (
           SELECT CAST(ii.i AS INT) AS i,
             CAST(sum(CAST(x[ii.i + 1] AS DECIMAL(28,6))) AS DOUBLE)
               AS sx
           FROM e, unnest(range(0, len(x))) AS ii(i) GROUP BY 1)
         SELECT m.i, m.j, m.n, sa.sx AS sx_i, sb.sx AS sx_j, m.sxy
         FROM m JOIN s sa ON m.i = sa.i JOIN s sb ON m.j = sb.i""")),
    // conditioned oracle (the x_ann_ivf pattern): re-derive the
    // covariance EXACTLY from the embeddings table, then accept the
    // dumped vector only if it satisfies BOTH
    //  (1) the eigen property — near-unit norm and small relative
    //      Rayleigh residual ||Cv − λv|| ≤ 5%·|λ| — and
    //  (2) DOMINANCE — λ must reach the best lower bounds on λ_max
    //      the oracle can compute independently: the max diagonal
    //      entry, trace/d, and 98% of the Rayleigh quotient of a
    //      3-step power iterate from a SECOND start vector (all-
    //      ones). Any eigenvector passes (1); a non-dominant one
    //      (wrong-column indexing, convergence to a minor component)
    //      fails (2) unless the top eigenvalues are within 2% —
    //      where "top component" is genuinely ill-posed.
    // A rejected vector yields zero rows and the gate row-count-
    // mismatches; thresholds live in the PREDICATE, never in a
    // value compare.
    Gate("x_pca_power", xPcaPower _, Some(
      """WITH v AS (
           SELECT i, v FROM '__OUTDIR__/x_pca_power/*.parquet'),
         e AS (
           SELECT list_transform(embedding,
             x -> round(CAST(x AS DOUBLE), 6)) AS x
           FROM embeddings),
         p AS (
           SELECT ii.i AS i, jj.j AS j,
             CAST(x[ii.i + 1] * x[jj.j + 1] AS DECIMAL(38,12)) AS p
           FROM e, unnest(range(0, len(x))) AS ii(i),
             unnest(range(0, len(x))) AS jj(j)),
         m AS (
           SELECT i, j, count(*) AS n,
             CAST(sum(p) AS DOUBLE) AS sxy
           FROM p GROUP BY 1, 2),
         s AS (
           SELECT ii.i AS i,
             CAST(sum(CAST(x[ii.i + 1] AS DECIMAL(28,6))) AS DOUBLE)
               AS sx
           FROM e, unnest(range(0, len(x))) AS ii(i) GROUP BY 1),
         c AS (
           SELECT m.i, m.j,
             (m.sxy - sa.sx * sb.sx / m.n) / m.n AS cov
           FROM m JOIN s sa ON m.i = sa.i JOIN s sb ON m.j = sb.i),
         w AS (
           SELECT c.i AS i, sum(c.cov * v2.v) AS wv
           FROM c JOIN v v2 ON c.j = v2.i GROUP BY 1),
         lam AS (SELECT sum(v.v * w.wv) AS l FROM v JOIN w USING (i)),
         u1 AS (SELECT c.i, sum(c.cov) AS v FROM c GROUP BY 1),
         u2 AS (SELECT c.i, sum(c.cov * u1.v) AS v
           FROM c JOIN u1 ON c.j = u1.i GROUP BY 1),
         u3 AS (SELECT c.i, sum(c.cov * u2.v) AS v
           FROM c JOIN u2 ON c.j = u2.i GROUP BY 1),
         u4 AS (SELECT c.i, sum(c.cov * u3.v) AS v
           FROM c JOIN u3 ON c.j = u3.i GROUP BY 1),
         ray AS (
           SELECT sum(u3.v * u4.v) / nullif(sum(u3.v * u3.v), 0) AS r
           FROM u3 JOIN u4 USING (i)),
         diag AS (
           SELECT max(cov) AS mx, sum(cov) / count(*) AS tr_avg
           FROM c WHERE i = j),
         chk AS (
           SELECT sqrt(sum((w.wv - lam.l * v.v) * (w.wv - lam.l * v.v)))
               <= 0.05 * greatest(abs(any_value(lam.l)), 1e-9)
             AND abs(sum(v.v * v.v) - 1) < 1e-3
             AND any_value(lam.l) >=
               any_value(diag.mx) -
                 0.02 * greatest(abs(any_value(lam.l)), 1e-9)
             AND any_value(lam.l) >= any_value(diag.tr_avg)
             AND any_value(lam.l) >=
               0.98 * coalesce(any_value(ray.r), 0) - 1e-9 AS ok
           FROM w JOIN v USING (i), lam, ray, diag)
         SELECT v.i, v.v FROM v, chk WHERE chk.ok""")),
    // conditioned on the x_pca_power dump (itself eigen-verified):
    // the dot replays on the exact 12-dp decimal grid, so scores
    // hash-compare bit-for-bit
    Gate("x_pca_project", xPcaProject _, Some(
      """WITH v AS (
           SELECT i, v FROM '__OUTDIR__/x_pca_power/*.parquet'),
         e AS (
           SELECT vec_id, list_transform(embedding,
             x -> round(CAST(x AS DOUBLE), 6)) AS x
           FROM embeddings),
         terms AS (
           SELECT vec_id, ii.i AS i, x[ii.i + 1] AS xi
           FROM e, unnest(range(0, len(x))) AS ii(i))
         SELECT t.vec_id,
           CAST(sum(CAST(t.xi * v.v AS DECIMAL(38,12))) AS DOUBLE)
             AS score
         FROM terms t JOIN v ON t.i = v.i GROUP BY 1""")),
    Gate("x_rrf_fusion", xRrfFusion _, Some(
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS tok
           FROM documents),
         sized AS (
           SELECT doc_id, tok, CAST(len(tok) AS DOUBLE) AS dl FROM tk),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) AS tot_len,
             CAST(sum(CASE WHEN list_contains(tok, 'vector')
               THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
             CAST(sum(CASE WHEN list_contains(tok, 'stream')
               THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
             CAST(sum(CASE WHEN list_contains(tok, 'merge')
               THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
           FROM sized),
         scored AS (
           SELECT doc_id,
             ((n_docs - df_0 + 0.5) / (df_0 + 0.5)) *
               ((CAST(len(list_filter(tok, x -> x = 'vector')) AS DOUBLE)
                  * (1.2 + 1.0)) /
                (CAST(len(list_filter(tok, x -> x = 'vector')) AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot_len / n_docs)))))
             + ((n_docs - df_1 + 0.5) / (df_1 + 0.5)) *
               ((CAST(len(list_filter(tok, x -> x = 'stream')) AS DOUBLE)
                  * (1.2 + 1.0)) /
                (CAST(len(list_filter(tok, x -> x = 'stream')) AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot_len / n_docs)))))
             + ((n_docs - df_2 + 0.5) / (df_2 + 0.5)) *
               ((CAST(len(list_filter(tok, x -> x = 'merge')) AS DOUBLE)
                  * (1.2 + 1.0)) /
                (CAST(len(list_filter(tok, x -> x = 'merge')) AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot_len / n_docs)))))
             AS score
           FROM sized CROSS JOIN stats),
         lex AS (
           SELECT doc_id, row_number() OVER (
               ORDER BY score DESC, doc_id ASC) AS rank
           FROM scored WHERE score > 0
           ORDER BY score DESC, doc_id LIMIT 20),
         q AS (
           SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
           FROM embeddings WHERE vec_id = 0),
         cos AS (
           SELECT c.vec_id AS doc_id,
             list_cosine_similarity(q.q_emb,
               list_transform(c.embedding, x -> CAST(x AS DOUBLE)))
               AS sim
           FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.q_id),
         sem AS (
           SELECT doc_id, rn AS rank
           FROM (SELECT *, row_number() OVER (
               ORDER BY round(sim, 6) DESC, doc_id ASC) AS rn
             FROM cos) x
           WHERE rn <= 20),
         u AS (
           SELECT doc_id, 1000000000000 // (rank + 60) AS contrib
           FROM lex
           UNION ALL
           SELECT doc_id, 1000000000000 // (rank + 60) FROM sem)
         SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_e12,
           CAST(count(*) AS INT) AS n_lists
         FROM u GROUP BY doc_id
         ORDER BY rrf_e12 DESC, doc_id LIMIT 10""")),
    Gate("x_embed_decontam", xEmbedDecontam _, Some(
      """WITH ev AS (
           SELECT vec_id AS e_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e_emb
           FROM embeddings WHERE vec_id < 20),
         c AS (
           SELECT vec_id AS n_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS n_emb
           FROM embeddings WHERE vec_id >= 20),
         scored AS (
           SELECT c.n_id, ev.e_id,
             list_cosine_similarity(c.n_emb, ev.e_emb) AS sim
           FROM c CROSS JOIN ev
           WHERE round(list_cosine_similarity(c.n_emb, ev.e_emb), 6)
             >= 0.3)
         SELECT n_id, e_id, round(sim, 4) AS cos_sim
         FROM (SELECT *, row_number() OVER (PARTITION BY n_id
           ORDER BY round(sim, 6) DESC, e_id ASC) AS rn FROM scored) x
         WHERE rn = 1""")),
    Gate("x_ann_brute", xAnnBrute _, Some(
      """WITH q AS (SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
           FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, c.vec_id AS n_id,
             list_cosine_similarity(q.q_emb,
               list_transform(c.embedding, x -> CAST(x AS DOUBLE))) AS sim
           FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.q_id)
         SELECT q_id, CAST(rn AS INT) AS rank, n_id,
           round(sim, 4) AS cos_sim
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           ORDER BY round(sim, 6) DESC, n_id ASC) AS rn FROM scored) x
         WHERE rn <= 3""")),
    Gate("x_rank_metrics", xRankMetrics _, Some(
      """WITH q AS (
           SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings WHERE vec_id < 10),
         c AS (
           SELECT vec_id AS n_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         truth AS (
           SELECT q_id, n_id, rn FROM (
             SELECT q.q_id, c.n_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY round(list_cosine_similarity(q.e, c.e), 6)
                   DESC, c.n_id ASC) AS rn
             FROM c CROSS JOIN q WHERE c.n_id <> q.q_id) x
           WHERE rn <= 10),
         qq AS (
           SELECT q_id, CASE
             WHEN list_max(list_transform(e, y -> abs(y))) > 0
             THEN list_transform(e, x -> floor(x /
               (list_max(list_transform(e, y -> abs(y))) / 3.0) + 0.5))
             ELSE list_transform(e, x -> 0.0) END AS qe
           FROM q),
         cq AS (
           SELECT n_id, CASE
             WHEN list_max(list_transform(e, y -> abs(y))) > 0
             THEN list_transform(e, x -> floor(x /
               (list_max(list_transform(e, y -> abs(y))) / 3.0) + 0.5))
             ELSE list_transform(e, x -> 0.0) END AS qe
           FROM c),
         run AS (
           SELECT q_id, n_id, rn FROM (
             SELECT qq.q_id, cq.n_id,
               row_number() OVER (PARTITION BY qq.q_id
                 ORDER BY round(list_cosine_similarity(qq.qe, cq.qe), 6)
                   DESC, cq.n_id ASC) AS rn
             FROM cq CROSS JOIN qq WHERE cq.n_id <> qq.q_id) x
           WHERE rn <= 10),
         h AS (
           SELECT r.q_id, count(*) AS n,
             sum(CASE WHEN r.rn <= 5 THEN 1 ELSE 0 END) AS h5,
             max(CASE WHEN t.rn = 1 THEN 1.0 / r.rn END) AS rr
           FROM run r JOIN truth t USING (q_id, n_id)
           GROUP BY 1)
         SELECT q.q_id,
           CAST(coalesce(h.n, 0) AS INT) AS n_hits,
           round(coalesce(h.n, 0) / 10.0, 6) AS recall_at_k,
           round(coalesce(h.h5, 0) / 5.0, 6) AS precision_at_5,
           coalesce(h.rr, 0.0) AS rr
         FROM (SELECT DISTINCT q_id FROM truth) q
         LEFT JOIN h USING (q_id)""")),
    Gate("x_ann_lsh", xAnnLsh _, Some(bruteTop3Sql)),
    // conditioned on the engine's dumped IVF state: candidates =
    // (probe ⋈ list on cid), then exact cosine + the engine's
    // tie-break re-derive the top-3 independently. The first CTE
    // doubles as a structural audit: a corpus vector assigned to 0 or
    // 2+ lists would change candidate multiplicity and hash-mismatch.
    Gate("x_ann_ivf", xAnnIvf _, Some(
      """WITH asg AS (
           SELECT id AS n_id, cid
           FROM parquet_scan('__OUTDIR__/x_ann_ivf_assign/*.parquet')
           WHERE kind = 'list'),
         probes AS (
           SELECT id AS q_id, cid
           FROM parquet_scan('__OUTDIR__/x_ann_ivf_assign/*.parquet')
           WHERE kind = 'probe'),
         q AS (SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
           FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS n_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS n_emb
           FROM embeddings),
         scored AS (
           SELECT p.q_id, a.n_id,
             list_cosine_similarity(q.q_emb, c.n_emb) AS sim
           FROM probes p JOIN asg a USING (cid)
             JOIN q ON q.q_id = p.q_id
             JOIN c ON c.n_id = a.n_id
           WHERE a.n_id <> p.q_id)
         SELECT q_id, CAST(rn AS INT) AS rank, n_id,
           round(sim, 4) AS cos_sim
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           ORDER BY round(sim, 6) DESC, n_id ASC) AS rn FROM scored) x
         WHERE rn <= 3""")),
    Gate("x_ann_ivf_assign", xAnnIvfAssign _, Some(ivfAssignReplaySql)),
    Gate("x_ann_ivf_full", xAnnIvfFull _, Some(bruteTop3Sql)),
    Gate("x_pq_index", xPqIndex _, Some(pqIndexReplaySql)),
    Gate("x_pq_topk", xPqTopk _, Some(pqReplayTopK(restrictToProbed = false))),
    Gate("x_pq_ivf", xPqIvf _, Some(pqReplayTopK(restrictToProbed = true))),
    // lossless pruning at nprobe = nlist ⇒ must equal the pqTopK
    // replay exactly, wherever Lloyd put the coarse centroids
    Gate("x_pq_ivf_full", xPqIvfFull _,
      Some(pqReplayTopK(restrictToProbed = false))),
    Gate("x_pq_refine", xPqRefine _, Some(pqRefineReplaySql)),
    // conditioned-total: every residual re-derived from the
    // x_ann_ivf_assign dump's centroids+lists (separate execution —
    // fit determinism stays hash-checked), every code re-derived as
    // the argmin-L2 codeword over the echoed residual codebooks
    Gate("x_pq_residual_index", xPqResidualIndex _, Some(
      """WITH dump AS (
           SELECT * FROM
             parquet_scan('__OUTDIR__/x_pq_residual_index/*.parquet')),
         cb AS (
           SELECT sub, CAST(id AS INT) AS code,
             list_transform(string_split(payload, ','),
               x -> CAST(x AS DOUBLE)) AS c_emb
           FROM dump WHERE kind = 'cb'),
         asg AS (
           SELECT * FROM
             parquet_scan('__OUTDIR__/x_ann_ivf_assign/*.parquet')),
         cent AS (
           SELECT cid, list_transform(string_split(payload, ','),
             x -> CAST(x AS DOUBLE)) AS c_emb
           FROM asg WHERE kind = 'cent'),
         lst AS (SELECT id AS vec_id, cid FROM asg WHERE kind = 'list'),
         e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         res AS (
           SELECT e.vec_id,
             list_transform(range(len(e.emb)),
               i -> e.emb[i+1] - c.c_emb[i+1]) AS emb
           FROM e JOIN lst USING (vec_id) JOIN cent c USING (cid)),
         subv AS (
           SELECT vec_id, CAST(s.sub AS INT) AS sub,
             list_slice(emb, s.sub * 8 + 1, s.sub * 8 + 8) AS s_emb
           FROM res CROSS JOIN (SELECT unnest(range(8)) AS sub) s),
         d2 AS (
           SELECT v.vec_id, v.sub, c.code,
             list_inner_product(
               list_transform(range(8), i -> v.s_emb[i+1] - c.c_emb[i+1]),
               list_transform(range(8), i -> v.s_emb[i+1] - c.c_emb[i+1]))
               AS d2
           FROM subv v JOIN cb c USING (sub)),
         codes AS (
           SELECT vec_id, sub, code,
             row_number() OVER (PARTITION BY vec_id, sub
               ORDER BY d2 ASC, code ASC) AS rk
           FROM d2)
         SELECT 'cb' AS kind, sub, id, payload FROM dump WHERE kind = 'cb'
         UNION ALL
         SELECT 'code', sub, vec_id, CAST(code AS VARCHAR)
         FROM codes WHERE rk = 1""")),
    // full replay of the reconstruction ADC — LUT, centroid cross
    // terms, decimal sums, ranking — from the two dumps
    Gate("x_pq_residual", xPqResidual _, Some(
      """WITH asg AS (
           SELECT * FROM
             parquet_scan('__OUTDIR__/x_ann_ivf_assign/*.parquet')),
         cent AS (
           SELECT cid, list_transform(string_split(payload, ','),
             x -> CAST(x AS DOUBLE)) AS c_emb
           FROM asg WHERE kind = 'cent'),
         lst AS (SELECT id AS n_id, cid FROM asg WHERE kind = 'list'),
         prb AS (SELECT id AS q_id, cid FROM asg WHERE kind = 'probe'),
         idx AS (
           SELECT * FROM
             parquet_scan('__OUTDIR__/x_pq_residual_index/*.parquet')),
         cb AS (
           SELECT sub, CAST(id AS INT) AS code,
             list_transform(string_split(payload, ','),
               x -> CAST(x AS DOUBLE)) AS c_emb
           FROM idx WHERE kind = 'cb'),
         codes AS (
           SELECT id AS n_id, sub, CAST(payload AS INT) AS code
           FROM idx WHERE kind = 'code'),
         qn AS (
           SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb,
             sqrt(list_inner_product(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               list_transform(embedding, x -> CAST(x AS DOUBLE))))
               AS q_norm
           FROM embeddings WHERE vec_id < 10),
         qc AS (
           SELECT q.q_id, c.cid, q.q_norm,
             CAST(round(list_inner_product(q.q_emb, c.c_emb), 6)
               AS DECIMAL(18,6)) AS qcip,
             CAST(round(list_inner_product(c.c_emb, c.c_emb), 6)
               AS DECIMAL(18,6)) AS cn2
           FROM qn q CROSS JOIN cent c),
         lut AS (
           SELECT q_id, sub, code,
             CAST(round(list_inner_product(
               list_slice(q_emb, sub*8+1, sub*8+8), cb.c_emb), 6)
               AS DECIMAL(18,6)) AS partial
           FROM qn CROSS JOIN cb),
         ct AS (
           SELECT c.cid, cb.sub, cb.code,
             CAST(round(list_inner_product(
               list_slice(c.c_emb, cb.sub*8+1, cb.sub*8+8), cb.c_emb), 6)
               AS DECIMAL(18,6)) * 2
             + CAST(round(list_inner_product(cb.c_emb, cb.c_emb), 6)
               AS DECIMAL(18,6)) AS cterm
           FROM cent c CROSS JOIN cb),
         cand AS (
           SELECT p.q_id, l.n_id, l.cid
           FROM prb p JOIN lst l USING (cid)
           WHERE l.n_id <> p.q_id),
         agg AS (
           SELECT cand.q_id, cand.n_id, cand.cid,
             sum(lut.partial) AS rp, sum(ct.cterm) AS cts
           FROM cand JOIN codes c2 ON c2.n_id = cand.n_id
           JOIN lut ON lut.q_id = cand.q_id AND lut.sub = c2.sub
             AND lut.code = c2.code
           JOIN ct ON ct.cid = cand.cid AND ct.sub = c2.sub
             AND ct.code = c2.code
           GROUP BY 1, 2, 3),
         scored AS (
           SELECT a.q_id, a.n_id,
             CAST(qc.qcip + a.rp AS DOUBLE) /
               (qc.q_norm * sqrt(CAST(qc.cn2 + a.cts AS DOUBLE))) AS sim
           FROM agg a JOIN qc ON qc.q_id = a.q_id AND qc.cid = a.cid)
         SELECT q_id, CAST(rn AS INT) AS rank, n_id,
           round(sim, 4) AS adc_sim
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           ORDER BY round(sim, 6) DESC, n_id ASC) AS rn FROM scored) x
         WHERE rn <= 3""")),
    Gate("x_knn_label", xKnnLabel _, Some(
      """WITH q AS (SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
           FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, c.vec_id AS n_id, c.label,
             list_cosine_similarity(q.q_emb,
               list_transform(c.embedding, x -> CAST(x AS DOUBLE))) AS sim
           FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.q_id),
         top5 AS (
           SELECT q_id, label FROM (SELECT *, row_number() OVER
             (PARTITION BY q_id ORDER BY round(sim, 6) DESC, n_id ASC)
             AS rn FROM scored) x WHERE rn <= 5),
         votes AS (
           SELECT q_id, label, count(*) AS votes FROM top5
           GROUP BY q_id, label)
         SELECT q_id, label AS pred_label, votes
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           ORDER BY votes DESC, label ASC) AS rn FROM votes) y
         WHERE rn = 1""")),
    Gate("x_mips", xMips _, Some(
      """WITH q AS (SELECT vec_id AS q_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
         FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, c.vec_id AS n_id,
             list_inner_product(q.q_emb,
               list_transform(c.embedding, x -> CAST(x AS DOUBLE)))
               AS ip
           FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.q_id)
         SELECT q_id, CAST(rn AS INT) AS rank, n_id,
           round(ip, 4) AS inner_prod
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           ORDER BY round(ip, 6) DESC, n_id ASC) AS rn FROM scored) x
         WHERE rn <= 3""")),
    Gate("x_mmr", xMmr _, Some(
      """WITH q AS (SELECT vec_id AS q_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS n_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         FROM embeddings),
         scored AS (
           SELECT q.q_id, c.n_id,
             list_cosine_similarity(q.e, c.e) AS sim
           FROM c CROSS JOIN q WHERE c.n_id <> q.q_id),
         sl AS (
           SELECT q_id, n_id,
             CAST(CAST(round(sim, 6) AS DECIMAL(18,6)) * 1000000
               AS BIGINT) AS rel_micro
           FROM (SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY round(sim, 6) DESC, n_id ASC) AS rn FROM scored) x
           WHERE rn <= 8),
         p AS (
           SELECT a.q_id, a.n_id AS a, b.n_id AS b,
             CAST(CAST(round(list_cosine_similarity(ca.e, cb.e), 6)
               AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS sim_micro
           FROM sl a JOIN sl b ON a.q_id = b.q_id AND a.n_id <> b.n_id
           JOIN c ca ON ca.n_id = a.n_id
           JOIN c cb ON cb.n_id = b.n_id),
         dump AS (
           SELECT q_id, rank, n_id
           FROM parquet_scan('__OUTDIR__/x_mmr/*.parquet')),
         prior AS (
           SELECT r.q_id, r.rank,
             coalesce(list(d.n_id) FILTER (WHERE d.n_id IS NOT NULL),
               []) AS sel
           FROM (SELECT DISTINCT q_id, rank FROM dump) r
           LEFT JOIN dump d ON d.q_id = r.q_id AND d.rank < r.rank
           GROUP BY r.q_id, r.rank),
         cand AS (
           SELECT pr.q_id, pr.rank, s.n_id,
             7 * s.rel_micro - 3 * coalesce((
               SELECT max(p.sim_micro) FROM p
               WHERE p.q_id = pr.q_id AND p.a = s.n_id
                 AND list_contains(pr.sel, p.b)), 0) AS score
           FROM prior pr JOIN sl s
             ON s.q_id = pr.q_id AND NOT list_contains(pr.sel, s.n_id))
         SELECT q_id, CAST(rank AS INT) AS rank, n_id,
           CAST(score AS BIGINT) AS mmr_score_e7
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id, rank
           ORDER BY score DESC, n_id ASC) AS rk FROM cand) x
         WHERE rk = 1""")),
    Gate("x_mmr_ivf", xMmrIvf _, Some(mmrIvfReplaySql)),
    Gate("x_centroid", xCentroid _, Some(
      """WITH ex AS (
           SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, range(1, 65) t(i)),
         per_dim AS (
           SELECT label, i, avg(v) AS m FROM ex GROUP BY label, i),
         centroid AS (
           SELECT label, round(sqrt(sum(m*m)), 4) AS centroid_norm
           FROM per_dim GROUP BY label),
         norms AS (
           SELECT label, count(*) AS n_vecs,
             round(avg(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
               AS avg_norm
           FROM embeddings GROUP BY label)
         SELECT n.label, n.n_vecs, n.avg_norm, c.centroid_norm
         FROM norms n JOIN centroid c USING(label)""")))
}
