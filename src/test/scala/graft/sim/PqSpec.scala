package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkEntry, TestSpark}
import graft.Tables.t

/** Product quantization: encode optimality, reconstruction-error
  * behavior, ADC retrieval quality, and cross-partitioning
  * determinism (the properties the conditioned x_pq_topk oracle
  * cannot see because it takes the engine's codebook as given). */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = t(spark, TestSpark.sf0001, "embeddings")

  test("pqEncode assigns every (vector, subspace) its argmin-L2 " +
    "codeword (ties to the smaller code)") {
    val cb = Similarity.pqFitCodebooks(corpus)
    val codes = Similarity.pqEncode(corpus, cb)
    // recompute the distance of the CHOSEN code and the true minimum
    // over all codes, relationally
    val subs = corpus.select(col("vec_id").as("n_id"),
        expr("transform(embedding, x -> cast(x as double))").as("emb"))
      .select(col("n_id"),
        explode(sequence(lit(0), lit(7))).as("sub"),
        col("emb"))
      .select(col("n_id"), col("sub"),
        slice(col("emb"), col("sub") * 8 + 1, lit(8)).as("s_emb"))
    val d2 = subs.join(cb, Seq("sub"))
      .withColumn("d2", aggregate(
        zip_with(col("s_emb"), col("c_emb"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v))
    val best = d2.groupBy("n_id", "sub").agg(min("d2").as("min_d2"))
    val chosen = codes.join(d2, Seq("n_id", "sub", "code"))
      .join(best, Seq("n_id", "sub"))
    assert(chosen.filter(col("d2") > col("min_d2")).count() == 0,
      "a chosen code is not the L2-argmin")
    // ties (if any) must resolve to the smallest qualifying code
    val tieBad = d2.join(best, Seq("n_id", "sub"))
      .filter(col("d2") === col("min_d2"))
      .groupBy("n_id", "sub").agg(min("code").as("want_code"))
      .join(codes, Seq("n_id", "sub"))
      .filter(col("code") =!= col("want_code"))
    assert(tieBad.count() == 0, "tie not broken to the smaller code")
  }

  test("reconstruction MSE shrinks as the codebook grows (k=4 → k=32)") {
    def mse(k: Int): Double = {
      val cb = Similarity.pqFitCodebooks(corpus, kCodes = k)
      val codes = Similarity.pqEncode(corpus, cb)
      val subs = corpus.select(col("vec_id").as("n_id"),
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .select(col("n_id"),
          explode(sequence(lit(0), lit(7))).as("sub"), col("emb"))
        .select(col("n_id"), col("sub"),
          slice(col("emb"), col("sub") * 8 + 1, lit(8)).as("s_emb"))
      codes.join(cb, Seq("sub", "code")).join(subs, Seq("n_id", "sub"))
        .select(aggregate(
          zip_with(col("s_emb"), col("c_emb"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v).as("d2"))
        .agg(avg("d2")).as[Double].head()
    }
    val (m4, m32) = (mse(4), mse(32))
    assert(m32 < m4,
      s"MSE must shrink with codebook size: k=4 → $m4, k=32 → $m32")
  }

  test("ADC retrieval: ≥ 0.9 of top-10 neighbors share the query's " +
    "cluster on a planted-cluster corpus") {
    // NOTE the metric: 8-byte codes collapse every member of a tight
    // cluster onto (nearly) the same code vector, so ADC cannot — by
    // design — resolve WITHIN-cluster fine ranking the way exact
    // cosine does (recall@3 vs brute force is the wrong yardstick for
    // PQ). What codes must preserve is the coarse geometry: retrieved
    // neighbors come from the right cluster.
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 600L).map { id =>
      val c = (id % 30).toInt
      val emb = Array.fill(64)(rnd.nextGaussian().toFloat * 0.05f)
      emb((2 * c) % 64) += 8.0f
      emb((2 * c + 1) % 64) += 8.0f
      (id, c, emb)
    }
    val planted = vecs.toDF("vec_id", "label", "embedding")
    val queries = planted.filter(col("vec_id") < 20)
    val labels = planted.select(col("vec_id").as("n_id"),
      col("label").as("n_label"))
    val hits = Similarity.pqTopK(queries, planted, 10)
      .join(labels, Seq("n_id"))
      .join(planted.select(col("vec_id").as("q_id"), col("label")),
        Seq("q_id"))
    val frac = hits.agg(
      avg((col("n_label") === col("label")).cast("double")))
      .as[Double].head()
    assert(frac >= 0.9, s"planted-cluster ADC label consistency: $frac")
  }

  test("ivfPqTopK at nprobe = nlist equals pqTopK exactly " +
    "(lossless pruning, identical ADC arithmetic)") {
    val queries = corpus.filter(col("vec_id") < 10)
    val full = Similarity.ivfPqTopK(queries, corpus, 3,
      nlist = 16, nprobe = 16)
      .collect().map(_.toSeq).toSet
    val pq = Similarity.pqTopK(queries, corpus, 3)
      .collect().map(_.toSeq).toSet
    assert(full == pq, "nprobe=nlist IVF-PQ must equal plain PQ-ADC")
  }

  test("IVF-PQ production params: ≥ 0.85 of top-10 neighbors share " +
    "the query's cluster on the planted corpus") {
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 600L).map { id =>
      val c = (id % 30).toInt
      val emb = Array.fill(64)(rnd.nextGaussian().toFloat * 0.05f)
      emb((2 * c) % 64) += 8.0f
      emb((2 * c + 1) % 64) += 8.0f
      (id, c, emb)
    }
    val planted = vecs.toDF("vec_id", "label", "embedding")
    val queries = planted.filter(col("vec_id") < 20)
    val labels = planted.select(col("vec_id").as("n_id"),
      col("label").as("n_label"))
    val hits = Similarity.ivfPqTopK(queries, planted, 10)
      .join(labels, Seq("n_id"))
      .join(planted.select(col("vec_id").as("q_id"), col("label")),
        Seq("q_id"))
    val frac = hits.agg(
      avg((col("n_label") === col("label")).cast("double")))
      .as[Double].head()
    assert(frac >= 0.85, s"planted IVF-PQ label consistency: $frac")
  }

  test("PQ pipeline is deterministic across partitionings") {
    val queries = corpus.filter(col("vec_id") < 10)
    val a = Similarity.pqTopK(queries, corpus.repartition(1), 3)
      .collect().map(_.toSeq).toSet
    val b = Similarity.pqTopK(queries, corpus.repartition(32), 3)
      .collect().map(_.toSeq).toSet
    assert(a == b, "PQ result depends on partitioning")
  }

  test("refine re-rank: recall vs brute force ≥ ADC-only recall on " +
    "the planted corpus (and strictly ordered by exact cosine)") {
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 600L).map { id =>
      val c = (id % 30).toInt
      val emb = Array.fill(64)(rnd.nextGaussian().toFloat * 0.3f)
      emb((2 * c) % 64) += 4.0f
      emb((2 * c + 1) % 64) += 4.0f
      (id, c, emb)
    }
    val planted = vecs.toDF("vec_id", "label", "embedding")
    val queries = planted.filter(col("vec_id") < 20)
    val k = 5
    def recallOf(res: org.apache.spark.sql.DataFrame): Double = {
      val truth = Similarity.bruteForceTopK(queries, planted, k)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = res.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val adcOnly = recallOf(
      Similarity.ivfPqTopK(queries, planted, k, nprobe = 16))
    val refined = recallOf(
      Similarity.ivfPqRefineTopK(queries, planted, k,
        shortlist = 4 * k, nprobe = 16))
    assert(refined >= adcOnly,
      s"refine lowered recall: adc=$adcOnly refined=$refined")
    assert(refined >= 0.8, s"refined recall too low: $refined")
  }

  test("incremental encode/assign against a dumped index equal the " +
    "full fit's own rows for the same vectors (delta path == rebuild)") {
    val d = TestSpark.sf0001
    val corpus = t(spark, d, "embeddings")
    val delta = corpus.filter(col("vec_id") >= 400)
    val index = SparkEntry.queries("x_pq_index")(spark, d)
    val deltaCodes = Similarity.pqEncodeWithIndex(delta, index)
      .select(col("n_id"), col("sub"), col("code"))
      .collect().map(_.toSeq).toSet
    val fullCodes = index
      .filter(col("kind") === "code" && col("id") >= 400)
      .select(col("id"), col("sub"), col("payload").cast("int"))
      .collect().map(_.toSeq).toSet
    assert(deltaCodes.nonEmpty && deltaCodes == fullCodes,
      "incremental PQ encode drifted from the fit-time codes")
    val assign = SparkEntry.queries("x_ann_ivf_assign")(spark, d)
    val deltaLists = Similarity.ivfAssignWithIndex(delta, assign)
      .collect().map(_.toSeq).toSet
    val fullLists = assign
      .filter(col("kind") === "list" && col("id") >= 400)
      .select(col("id"), col("cid"))
      .collect().map(_.toSeq).toSet
    assert(deltaLists.nonEmpty && deltaLists == fullLists,
      "incremental IVF assignment drifted from the fit-time lists")
  }

  test("staged serving gates fit once per corpus and match the live " +
    "refit exactly (x_pq_topk / x_pq_ivf_full == pqTopK)") {
    val d = TestSpark.sf0001
    val queries = corpus.filter(col("vec_id") < 10)
    // warm the staged index (fits once), snapshot, then drive every
    // staged gate twice — no further fits may happen
    val staged1 = SparkEntry.queries("x_pq_topk")(spark, d)
      .collect().map(_.toSeq).toSet
    val pqBefore = Similarity.pqFitRuns.get()
    val coarseBefore = {
      // x_pq_ivf triggers the coarse staging on first touch
      SparkEntry.queries("x_pq_ivf")(spark, d).collect()
      Similarity.coarseFitRuns.get()
    }
    val staged2 = SparkEntry.queries("x_pq_topk")(spark, d)
      .collect().map(_.toSeq).toSet
    val stagedFull = SparkEntry.queries("x_pq_ivf_full")(spark, d)
      .collect().map(_.toSeq).toSet
    SparkEntry.queries("x_pq_ivf")(spark, d).collect()
    assert(Similarity.pqFitRuns.get() == pqBefore,
      "a staged PQ gate refit the codebooks")
    assert(Similarity.coarseFitRuns.get() == coarseBefore,
      "a staged IVF-PQ gate refit the coarse quantizer")
    // the staged index serves the SAME answers as a live fit
    val live = Similarity.pqTopK(queries, corpus, 3)
      .collect().map(_.toSeq).toSet
    assert(staged1 == live, "staged ADC differs from the live fit")
    assert(staged2 == staged1, "staged ADC not stable across reads")
    assert(stagedFull == live,
      "staged nprobe=nlist IVF-PQ must equal plain PQ-ADC")
  }

  test("residual PQ: quantizing coarse residuals beats quantizing raw " +
    "vectors at the same codebook budget (the Jégou by_residual claim)") {
    val prepared = corpus.select(col("vec_id").as("n_id"),
        expr("transform(embedding, x -> cast(x as double))").as("n_emb"))
      .withColumn("n_norm",
        sqrt(aggregate(expr("transform(n_emb, x -> x * x)"),
          lit(0.0), (a, v) => a + v)))
    // raw-vector PQ at the gate budget
    val rawCb = Similarity.pqFitCodebooks(corpus)
    val rawMse = Similarity.pqMse(corpus, rawCb,
      Similarity.pqEncode(corpus, rawCb))
    // residual PQ from the dumped index (cents+lists via the dump
    // parsers — exercises the exact serving path)
    val idx = Similarity.pqResidualIndex(corpus)
    val asg = Similarity.ivfAssignments(
      corpus.filter(col("vec_id") < 10), corpus)
    val cents = Similarity.loadIvfCentroids(asg)
    val lists = asg.filter(col("kind") === "list")
      .select(col("id").as("n_id"), col("cid"))
    val res = Similarity.residualCorpus(corpus, lists, cents)
    val resCb = idx.filter(col("kind") === "cb")
      .select(col("sub"), col("id").cast("int").as("code"),
        expr("transform(split(payload, ','), x -> cast(x as double))")
          .as("c_emb"))
    val resCodes = idx.filter(col("kind") === "code")
      .select(col("id").as("n_id"), col("sub"),
        col("payload").cast("int").as("code"))
    val resMse = Similarity.pqMse(res, resCb, resCodes)
    assert(resMse < rawMse,
      s"residual MSE $resMse must beat raw MSE $rawMse")
  }

  test("residual IVF-PQ: staged gate equals the self-contained refit " +
    "path; structural sanity (3 ranks per query, no self-hits)") {
    val d = TestSpark.sf0001
    val queries = corpus.filter(col("vec_id") < 10)
    val staged = SparkEntry.queries("x_pq_residual")(spark, d)
      .collect().map(_.toSeq).toSet
    val live = Similarity.ivfPqResidualTopK(queries, corpus, 3)
      .collect().map(_.toSeq).toSet
    assert(staged == live,
      "staged residual serving differs from the live refit path")
    val rows = SparkEntry.queries("x_pq_residual")(spark, d).collect()
    assert(rows.length == 30)
    assert(!rows.exists(r =>
      r.getAs[Long]("q_id") == r.getAs[Long]("n_id")))
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.forall(_._2.map(_.getAs[Int]("rank")).sorted.toSeq ==
      Seq(1, 2, 3)))
  }
}
