package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.Tables.t

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine on hand vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 0.0f), Array(1.0f, 1.0f), 1.0 / math.sqrt(2)),
      (Array(1.0f, 2.0f), Array(-1.0f, -2.0f), -1.0)
    ).toDF("a", "b", "want")
    val bad = df.select(
      abs(Similarity.cosine(col("a"), col("b")) - col("want")).as("err"))
      .filter(col("err") > 1e-12).count()
    assert(bad == 0)
  }

  test("brute-force top-k is symmetric-sane and self-excluded") {
    val out = graft.SparkEntry.queries("x_ann_brute")(
      spark, TestSpark.sf0001)
    val rows = out.collect()
    assert(rows.length == 30) // 10 queries × 3
    assert(!rows.exists(r =>
      r.getAs[Long]("q_id") == r.getAs[Long]("n_id")))
    // ranks are 1..3 per query
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.forall(_._2.map(_.getAs[Int]("rank")).sorted.toSeq ==
      Seq(1, 2, 3)))
  }

  test("LSH recall@3 vs brute force ≥ 0.5 on sf0.001") {
    val brute = graft.SparkEntry.queries("x_ann_brute")(
      spark, TestSpark.sf0001)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val lsh = graft.SparkEntry.queries("x_ann_lsh")(
      spark, TestSpark.sf0001)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall@3 too low: $recall")
  }

  test("IVF recall@3 vs brute force ≥ 0.5; exact within probed lists") {
    val brute = graft.SparkEntry.queries("x_ann_brute")(
      spark, TestSpark.sf0001)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = graft.SparkEntry.queries("x_ann_ivf")(
      spark, TestSpark.sf0001)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall@3 too low: $recall")
    // probing ALL lists must recover the brute-force result exactly
    val full = Similarity.ivfTopK(
      t(spark, TestSpark.sf0001, "embeddings")
        .filter(col("vec_id") < 10),
      t(spark, TestSpark.sf0001, "embeddings"), 3,
      nlist = 16, nprobe = 16)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(full == brute, "nprobe=nlist must equal brute force")
  }

  test("Lloyd-refined IVF: recall@3 ≥ 0.9 at nprobe=6 on a planted-" +
    "cluster corpus (hash-sampled seeds alone would miss clusters)") {
    // 40 well-separated clusters in 64d: center c has +8.0 in dims
    // (2c, 2c+1); members jitter deterministically. nlist=16 < 40
    // clusters means seeds CANNOT cover clusters 1:1 — recall relies
    // on Lloyd pulling centroids onto cluster mass
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 800L).map { id =>
      val c = (id % 40).toInt
      val emb = Array.fill(64)(rnd.nextGaussian().toFloat * 0.05f)
      emb((2 * c) % 64) += 8.0f
      emb((2 * c + 1) % 64) += 8.0f
      (id, c, emb)
    }
    val corpus = vecs.toDF("vec_id", "label", "embedding")
    val queries = corpus.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(queries, corpus, 3)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, corpus, 3,
        nlist = 16, nprobe = 6, lloydIters = 2)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"planted-cluster IVF recall@3: $recall")
  }

  test("Lloyd refinement is deterministic across partitionings " +
    "(decimal means): 1-partition corpus == 32-partition corpus") {
    val corpus = t(spark, TestSpark.sf0001, "embeddings")
    val queries = corpus.filter(col("vec_id") < 10)
    val a = Similarity.ivfTopK(queries, corpus.repartition(1), 3)
      .collect().map(_.toSeq).toSet
    val b = Similarity.ivfTopK(queries, corpus.repartition(32), 3)
      .collect().map(_.toSeq).toSet
    assert(a == b, "IVF result depends on partitioning")
  }

  test("semanticDedup: planted duplicate triples collapse to their " +
    "lowest-id member, singleton centers all keep, deterministic " +
    "across partitionings") {
    // 20 near-orthogonal base vectors (spike in a distinct dim), each
    // with exact copies at id+100 and id+200. Copies necessarily land
    // in their original's cluster (identical vector ⇒ identical
    // centroid ranking), so the keep-first rule must keep exactly the
    // 20 originals at τ just under 1.
    val rnd = new scala.util.Random(7)
    val base = (0 until 20).map { c =>
      val emb = Array.fill(64)(rnd.nextGaussian().toFloat * 0.05f)
      emb(3 * c % 64) += 8.0f
      (c.toLong, emb)
    }
    val corpus = (base ++ base.map { case (c, e) => (c + 100L, e) } ++
      base.map { case (c, e) => (c + 200L, e) })
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(corpus, tau = 0.999, nlist = 8,
      lloydIters = 2)
    assert(out.count() == 60)
    assert(out.select("vec_id").distinct().count() == 60)
    val kept = out.filter(col("kept")).select("vec_id")
      .as[Long].collect().toSet
    assert(kept == (0L until 20L).toSet,
      s"kept ${kept.toSeq.sorted} — duplicates must drop, originals keep")
    val a = out.collect().map(_.toSeq).toSet
    val b = Similarity.semanticDedup(corpus.repartition(32), 0.999, 8, 2)
      .collect().map(_.toSeq).toSet
    assert(a == b, "semanticDedup depends on partitioning")
  }

  test("embed norm/quantize invariants: unit norm 1, |x − q·scale| ≤ " +
    "scale/2, int8 range — against the UNROUNDED scale (the rounded " +
    "output alias must not leak into the math)") {
    val d = TestSpark.sf0001
    val e = t(spark, d, "embeddings")
    // norm: re-derive l2 of the unit vector with exact input norms;
    // if the lambda had normalized by the display-rounded l2 (the
    // lateral-alias shadowing bug), this drifts at the 6th decimal
    val unit = Similarity.embedNormalize(e)
    val drift = unit.select(abs(sqrt(aggregate(
        transform(col("unit"), x => x * x), lit(0.0),
        (a, v) => a + v)) - lit(1.0)).as("err"))
      .agg(max("err")).head.getDouble(0)
    assert(drift < 1e-4, s"unit norm drift $drift")
    // quantize: dequantized error bounded by scale/2 + the error the
    // 6-dp display rounding of scale itself introduces (|q| ≤ 127 ⇒
    // 127 × 5e-7); a quantizer that used the ROUNDED scale would pass
    // this but fail the oracle, so both gates together pin it
    val q = Similarity.embedQuantizeInt8(e)
    val joined = e.select(col("vec_id"), col("embedding"))
      .join(q, Seq("vec_id"))
    val bad = joined.select(col("vec_id"),
        zip_with(col("embedding").cast("array<double>"), col("q_emb"),
          (x, qi) => abs(x - qi * col("scale"))).as("errs"),
        col("scale"))
      .filter(exists(col("errs"),
        er => er > col("scale") / 2 + lit(127 * 5e-7)))
      .count()
    assert(bad == 0)
    val range = q.select(array_max(transform(col("q_emb"),
        x => abs(x))).as("m"))
      .agg(max("m")).head.getInt(0)
    assert(range <= 127)
  }

  test("kNN vote label comes from the embedding table's label domain") {
    val labels = t(spark, TestSpark.sf0001, "embeddings")
      .select("label").distinct().as[Int].collect().toSet
    val preds = graft.SparkEntry.queries("x_knn_label")(
      spark, TestSpark.sf0001)
      .select("pred_label").as[Int].collect()
    assert(preds.forall(labels.contains))
  }

  test("ORACLE PRECONDITION — x_ann_lsh's brute-force oracle is valid " +
    "only while 16×2 LSH has exact recall on the driver fixture; a " +
    "fixture regeneration that breaks this fails HERE, not as an " +
    "opaque gate hash-mismatch") {
    val q = t(spark, TestSpark.sf0001, "embeddings")
      .filter(col("vec_id") < 10)
    val c = t(spark, TestSpark.sf0001, "embeddings")
    val lsh = Similarity.lshTopK(q, c, 3, tables = 16, bits = 2)
      .collect().map(_.toString).sorted.toSeq
    val brute = Similarity.bruteForceTopK(q, c, 3)
      .collect().map(_.toString).sorted.toSeq
    assert(lsh == brute,
      "16×2 LSH no longer reproduces brute force on the fixture — " +
        "re-tune x_ann_lsh's params or give it a conditioned oracle")
  }

  test("ORACLE PRECONDITION — d_embed_neardup's full oracle is valid " +
    "only while 32×2 bucketing finds every pair ≥ 0.3 on the fixture") {
    val e = t(spark, TestSpark.sf0001, "embeddings")
      .filter(col("vec_id") < 1000)
    val got = graft.dedup.Dedup.embeddingNearDups(
        e, minCos = 0.3, tables = 32, bits = 2)
      .select("keep_id", "dup_id").as[(Long, Long)].collect().toSet
    // brute-force pair truth: every unordered pair with cos ≥ 0.3
    val prep = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
    val a = prep.toDF("id_a", "emb_a")
    val b = prep.toDF("id_b", "emb_b")
    val want = a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        aggregate(zip_with(col("emb_a"), col("emb_b"), _ * _),
          lit(0.0), _ + _) /
          (sqrt(aggregate(transform(col("emb_a"), x => x * x),
            lit(0.0), _ + _)) *
           sqrt(aggregate(transform(col("emb_b"), x => x * x),
            lit(0.0), _ + _))))
      .filter(col("cos") >= 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == want,
      "32×2 bucketing no longer has exact recall at cos ≥ 0.3 on the " +
        "fixture — re-tune d_embed_neardup's params before trusting " +
        "its brute-force oracle")
  }

  test("selfBucketPairs: the r18 narrow-join form (decide on keys, " +
    "re-attach vectors by id) equals the payload-carrying original " +
    "bit-for-bit") {
    val corpus = t(spark, TestSpark.sf0001, "embeddings")
      .filter(col("vec_id") < 400)
    val got = Similarity.selfBucketPairs(corpus, tables = 8, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // the r17 formulation verbatim: both 64-double embeddings ride the
    // bucket self-join; every bucket collision is scored and the
    // per-pair max (of identical values) collapses duplicates
    val planes = Similarity.hyperplanes(8, 4, 64)
    val prepared = corpus
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .withColumn("nrm", sqrt(Similarity.dotD(col("emb"), col("emb"))))
    val bucketed = prepared.select(col("*"),
      posexplode(Similarity.bucketsOf(col("emb"), planes))
        .as(Seq("table", "bucket")))
    val a = bucketed.select(col("table"), col("bucket"),
      col("id").as("id_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"))
    val b = bucketed.select(col("table"), col("bucket"),
      col("id").as("id_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"))
    val want = a.join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.dotD(col("emb_a"), col("emb_b")) /
        (col("nrm_a") * col("nrm_b")))
      .groupBy("id_a", "id_b")
      .agg(max(col("sim")).as("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == want)
  }

  test("IVF assignment dump: every corpus vector in exactly one list, " +
    "every query probes exactly nprobe lists") {
    val asg = graft.SparkEntry.queries("x_ann_ivf_assign")(
      spark, TestSpark.sf0001)
    val nVecs = t(spark, TestSpark.sf0001, "embeddings").count()
    val lists = asg.filter(col("kind") === "list")
    assert(lists.count() == nVecs)
    assert(lists.select("id").distinct().count() == nVecs)
    val probes = asg.filter(col("kind") === "probe")
      .groupBy("id").count().select("count").distinct()
      .as[Long].collect()
    assert(probes.toSeq == Seq(6L)) // the production default nprobe
  }

  test("MIPS norm-augmentation: augmented-cosine ranking equals the " +
    "exact inner-product ranking (the reduction that lets cosine ANN " +
    "infrastructure serve MIPS)") {
    val corpus = graft.Tables.t(spark, TestSpark.sf0001, "embeddings")
    val queries = corpus.filter(col("vec_id") < 10)
    val exact = Similarity.mipsTopK(queries, corpus, 5)
      .select("q_id", "rank", "n_id")
      .collect().map(_.toSeq).toSet
    val (augQ, augC) = Similarity.augmentForMips(queries, corpus)
    val viaCosine = Similarity.bruteForceTopK(augQ, augC, 5)
      .select("q_id", "rank", "n_id")
      .collect().map(_.toSeq).toSet
    assert(exact == viaCosine,
      "augmented-cosine order diverged from inner-product order")
    // every augmented corpus vector has norm M (the invariant the
    // reduction rests on)
    val norms = augC.select(
        round(Similarity.l2norm(col("embedding")), 6).as("nrm"))
      .distinct().count()
    assert(norms == 1, "augmented corpus norms are not all equal")
  }

  test("mmrRerank: diversification demotes the near-duplicate — the " +
    "planted orthogonal doc outranks a higher-relevance clone") {
    // q = x-axis; A and B nearly identical (both ~45° from q,
    // sim(A,B) ≈ 1), D mirrored (-45°: same relevance class, ~0 sim
    // to A). Pure relevance ranks A,B,D; MMR at λ=0.7 must rank
    // A,D,B — rank 2 trades 0.01 of relevance for ~1.0 of diversity.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), "q"),
      (1L, Array(0.72f, 0.694f, 0.0f), "a"),
      (2L, Array(0.71f, 0.704f, 0.0f), "b"),
      (3L, Array(0.70f, -0.714f, 0.0f), "d")
    ).toDF("vec_id", "embedding", "label")
    val queries = vecs.filter(col("vec_id") === 0L)
    val mmr = Similarity.mmrRerank(queries, vecs, k = 3, shortlist = 3)
      .orderBy("rank").select("rank", "n_id")
      .as[(Int, Long)].collect().toSeq
    assert(mmr == Seq((1, 1L), (2, 3L), (3, 2L)),
      s"got $mmr")
    val brute = Similarity.bruteForceTopK(queries, vecs, 3)
      .orderBy("rank").select("n_id").as[Long].collect().toSeq
    assert(brute == Seq(1L, 2L, 3L)) // relevance alone keeps the clone
  }

  test("mmrRerank: λ=1 reduces to pure relevance (equals brute " +
    "top-k ids in order); picks are k distinct shortlist members") {
    val queries = t(spark, TestSpark.sf0001, "embeddings")
      .filter(col("vec_id") < 5)
    val corpus = t(spark, TestSpark.sf0001, "embeddings")
    val mmr = Similarity.mmrRerank(queries, corpus, k = 4,
        shortlist = 6, lambda10 = 10)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id")))
    val brute = Similarity.bruteForceTopK(queries, corpus, 4)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"))).toSet
    assert(mmr.toSet == brute,
      "λ=1 MMR must equal relevance-ranked top-k")
    val byQ = mmr.groupBy(_._1)
    assert(byQ.size == 5)
    assert(byQ.values.forall(g => g.map(_._3).distinct.length == 4))
    assert(byQ.values.forall(g => g.map(_._2).sorted.toSeq ==
      Seq(1, 2, 3, 4)))
  }

  test("mmrRerankShortlist: picks equal the brute path whenever the " +
    "shortlist contains the brute top-R ids (the serving composition)") {
    val queries = t(spark, TestSpark.sf0001, "embeddings")
      .filter(col("vec_id") < 5)
    val corpus = t(spark, TestSpark.sf0001, "embeddings")
    // an "ANN" shortlist that happens to be exactly the brute top-8 —
    // the equivalence precondition — fed through the shortlist entry
    // point (equi-join back to true vectors, same integer greedy)
    val sl = Similarity.bruteForceTopK(queries, corpus, 8)
      .select("q_id", "n_id")
    def picks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("n_id"),
        r.getAs[Long]("mmr_score_e7"))).toSet
    val viaShortlist = picks(
      Similarity.mmrRerankShortlist(sl, queries, corpus, k = 4))
    val viaBrute = picks(
      Similarity.mmrRerank(queries, corpus, k = 4, shortlist = 8))
    assert(viaShortlist == viaBrute,
      "shortlist-MMR must replay the brute picks exactly when the " +
        "shortlist covers the brute top-R")
    assert(viaShortlist.nonEmpty)
  }

  test("mmrRerankShortlist: a query with fewer than k candidates " +
    "yields picks only up to its candidate count") {
    import spark.implicits._
    val corpus = t(spark, TestSpark.sf0001, "embeddings")
    val queries = corpus.filter(col("vec_id") < 2)
    val sl = Seq((0L, 20L), (0L, 21L), (1L, 20L), (1L, 21L), (1L, 22L))
      .toDF("q_id", "n_id")
    val got = Similarity.mmrRerankShortlist(sl, queries, corpus, k = 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank")))
    assert(got.count(_._1 == 0L) == 2, "q0 has only 2 candidates")
    assert(got.count(_._1 == 1L) == 3)
  }

  test("mmrRerank: rank-1 score is exactly 7×rel_micro of the " +
    "relevance winner (the integer-score contract)") {
    val queries = t(spark, TestSpark.sf0001, "embeddings")
      .filter(col("vec_id") < 3)
    val corpus = t(spark, TestSpark.sf0001, "embeddings")
    val top1 = Similarity.bruteForceTopK(queries, corpus, 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toMap
    // independent rel_micro: plain Scala cosine, round-6, ×1e6
    val embs = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
      .map { case (k, v) => k -> v.map(_.toDouble) }
    def relMicro(q: Long, n: Long): Long = {
      val (a, b) = (embs(q), embs(n))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val sim = dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      // mirror Spark's Round-on-double exactly: BigDecimal.valueOf
      // (shortest decimal repr), then HALF_UP at scale 6
      BigDecimal(java.math.BigDecimal.valueOf(sim))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(1000000)).toLongExact
    }
    val got = Similarity.mmrRerank(queries, corpus, k = 1, shortlist = 4)
      .select("q_id", "n_id", "mmr_score_e7")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 3)
    got.foreach { case (q, n, s) =>
      assert(n == top1(q), s"rank-1 pick for $q is not the rel winner")
      assert(s == 7L * relMicro(q, n), s"score mismatch for q=$q")
    }
  }

  test("covarianceMoments: exact moments match a driver-side " +
    "recompute on a hand corpus; upper triangle only; counts total") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, -1.5f)),
      (2L, Array(0.5f, -1.0f, 3.0f)),
      (3L, Array(2.25f, 0.0f, 1.0f))
    )
    val out = Similarity.covarianceMoments(
        vecs.toDF("vec_id", "embedding"))
      .as[(Int, Int, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(out.keySet ==
      (for (i <- 0 to 2; j <- i to 2) yield (i, j)).toSet)
    val xs = vecs.map(_._2.map(_.toDouble))
    for (((i, j), (n, sxi, sxj, sxy)) <- out) {
      assert(n == 3L)
      assert(math.abs(sxi - xs.map(_(i)).sum) < 1e-9)
      assert(math.abs(sxj - xs.map(_(j)).sum) < 1e-9)
      assert(math.abs(sxy - xs.map(x => x(i) * x(j)).sum) < 1e-9)
    }
  }

  test("covarianceMomentsFused == covarianceMoments BIT-FOR-BIT on " +
    "the real corpus and on a rounding-adversarial hand corpus") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Long, Double, Double, Double)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    val real = t(spark, TestSpark.sf0001, "embeddings")
    assert(canon(Similarity.covarianceMomentsFused(real)) ==
      canon(Similarity.covarianceMoments(real)),
      "fused moments drifted from the explode form on the corpus")
    // values sitting ON .xxxxxx5 rounding boundaries and at negative
    // half-ties — the exact-grid contract's hard cases
    val hand = Seq(
      (1L, Array(1.2345675f, -0.0000005f, 2.5f, 0.1f)),
      (2L, Array(-1.9999995f, 3.1415927f, -2.7182818f, 0.33333f)),
      (3L, Array(0.0f, -0.5f, 0.0000015f, 7.125f)),
      (4L, Array(123.456f, -98.7654f, 0.000001f, -0.000001f))
    ).toDF("vec_id", "embedding")
    assert(canon(Similarity.covarianceMomentsFused(hand)) ==
      canon(Similarity.covarianceMoments(hand)),
      "fused moments drifted on the rounding-adversarial corpus")
    // the loud guard: values past the 1e9-unscaled bound must raise,
    // not silently overflow the integer grid
    val big = Seq((1L, Array(2000.0f, 1.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception](
      Similarity.covarianceMomentsFused(big).collect())
    assert(ex.getMessage != null)
  }

  test("principalComponent: recovers a planted dominant direction, " +
    "unit norm, max-|.|-element-positive sign convention") {
    val d = 8
    val u = Array.tabulate(d)(i => if (i == 2) 0.8 else 0.15)
    val un = { val n = math.sqrt(u.map(x => x * x).sum); u.map(_ / n) }
    val rnd = new scala.util.Random(11)
    val vecs = (1 to 200).map { id =>
      val a = rnd.nextGaussian() * 5.0 // dominant axis
      (id.toLong, Array.tabulate(d)(i =>
        (a * un(i) + rnd.nextGaussian() * 0.05).toFloat))
    }
    val v = Similarity.principalComponent(
        vecs.toDF("vec_id", "embedding"))
      .as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-3)
    val align = v.zip(un).map { case (a, b) => a * b }.sum
    assert(math.abs(align) > 0.99, s"alignment $align")
    val top = v.indices.maxBy(i => (math.abs(v(i)), -i))
    assert(v(top) > 0, "sign convention violated")
  }

  test("embedDecontam: planted eval copy is flagged with the right " +
    "eval id, orthogonal vectors stay clean, ties to smallest e_id") {
    val evalSet = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f)) // duplicate direction of e1
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(2.0f, 0.0f, 0.0f)),   // parallel to e1 AND e3 -> tie
      (11L, Array(0.0f, 0.0f, 5.0f)),   // orthogonal to all
      (12L, Array(1.0f, 1.0f, 0.0f))    // cos 0.7071 vs e1/e2/e3
    ).toDF("vec_id", "embedding")
    val got = Similarity.embedDecontam(corpus, evalSet, tau = 0.9)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(10L))
    assert(got(10L) == ((1L, 1.0))) // tie between e1/e3 -> smallest id
    val loose = Similarity.embedDecontam(corpus, evalSet, tau = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(loose.keySet == Set(10L, 12L))
    assert(loose(12L)._1 == 1L && math.abs(loose(12L)._2 - 0.7071) < 1e-9)
  }

  test("rrfFuse: integer micro-unit contributions, dual-list ids " +
    "outrank single-list ids, deterministic ties") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val b = Seq((2L, 1), (4L, 2)).toDF("doc_id", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), "doc_id", k = 4)
      .as[(Long, Long, Int)].collect()
    def cu(r: Int) = 1000000000000L / (r + 60)
    assert(got.map(_._1).toSeq == Seq(2L, 1L, 4L, 3L))
    val m = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(2L) == ((cu(2) + cu(1), 2))) // in both lists
    assert(m(1L) == ((cu(1), 1)))
    assert(m(4L) == ((cu(2), 1)))
    assert(m(3L) == ((cu(3), 1)))
  }

  test("principalComponentStaged: ONE distributed moments pass per " +
    "corpus (counter pinned) and staged == live fit") {
    val d = graft.TestSpark.sf001
    val before = Similarity.pcaMomentsRuns.get()
    val a = Similarity.principalComponentStaged(spark, d)
      .as[(Int, Double)].collect().sortBy(_._1).toSeq
    val mid = Similarity.pcaMomentsRuns.get()
    val b = Similarity.principalComponentStaged(spark, d)
      .as[(Int, Double)].collect().sortBy(_._1).toSeq
    assert(Similarity.pcaMomentsRuns.get() == mid) // no second pass
    assert(mid - before <= 1) // at most one (0 if already memoized)
    assert(a == b)
    val live = Similarity.principalComponent(
        graft.Tables.t(spark, d, "embeddings"))
      .as[(Int, Double)].collect().sortBy(_._1).toSeq
    assert(a == live) // the memo serves exactly the live fit
  }

  test("pcaProject: scores equal the driver-side dot of the " +
    "quantized inputs with the component") {
    val comp = Seq((0, 0.6), (1, -0.8), (2, 0.0)).toDF("i", "v")
    val vecs = Seq(
      (1L, Array(1.0f, 1.0f, 5.0f)),   // 0.6 - 0.8 = -0.2
      (2L, Array(0.5f, -0.25f, 0.0f)), // 0.3 + 0.2 = 0.5
      (3L, Array(0.0f, 0.0f, 9.0f))    // 0.0
    ).toDF("vec_id", "embedding")
    val got = Similarity.pcaProject(vecs, comp)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - -0.2) < 1e-12)
    assert(math.abs(got(2L) - 0.5) < 1e-12)
    assert(got(3L) == 0.0)
  }

  test("rankMetrics: hand math — perfect run scores 1.0 everywhere, " +
    "a rank-shifted run pays in rr/precision, a miss of the true " +
    "top-1 zeroes rr, an empty-overlap query appears with zeros") {
    def df(rows: (Long, Int, Long)*) =
      rows.toDF("q_id", "rank", "n_id")
    val truth = df((1L, 1, 101L), (1L, 2, 102L), (1L, 3, 103L),
      (2L, 1, 201L), (2L, 2, 202L), (2L, 3, 203L),
      (3L, 1, 301L), (3L, 2, 302L), (3L, 3, 303L))
    // q1: perfect. q2: true #1 found at rank 3, one miss.
    // q3: zero overlap.
    val run = df((1L, 1, 101L), (1L, 2, 102L), (1L, 3, 103L),
      (2L, 1, 203L), (2L, 2, 999L), (2L, 3, 201L),
      (3L, 1, 777L), (3L, 2, 888L), (3L, 3, 999L))
    val got = Similarity.rankMetrics(run, truth, 3).collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Int]("n_hits"), r.getAs[Double]("recall_at_k"),
          r.getAs[Double]("precision_at_5"), r.getAs[Double]("rr"))))
      .toMap
    assert(got(1L) == ((3, 1.0, 0.6, 1.0))) // 3 hits in first 5 → 3/5
    assert(got(2L) == ((2, 0.666667, 0.4, 1.0 / 3))) // rr unrounded
    assert(got(3L) == ((0, 0.0, 0.0, 0.0)))
  }

  test("quantizedBruteTopK: at high levels the quantized ranking " +
    "converges to the float ranking; at levels=1 it coarsens (gate " +
    "non-triviality); determinism across runs") {
    val emb = t(spark, TestSpark.sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val fine = Similarity.quantizedBruteTopK(q, emb, 5, levels = 1000)
      .select("q_id", "rank", "n_id")
    val float = Similarity.bruteForceTopK(q, emb, 5)
      .select("q_id", "rank", "n_id")
    val m = Similarity.rankMetrics(fine, float, 5)
      .agg(avg("recall_at_k")).head.getDouble(0)
    assert(m > 0.95, s"1000-level quantization lost recall: $m")
    val coarse1 = Similarity.quantizedBruteTopK(q, emb, 5, levels = 1)
    val coarse2 = Similarity.quantizedBruteTopK(q, emb, 5, levels = 1)
    assert(coarse1.collect().map(_.toSeq).toSeq ==
      coarse2.collect().map(_.toSeq).toSeq, "nondeterministic ranking")
    val mc = Similarity.rankMetrics(
      coarse1.select("q_id", "rank", "n_id"), float, 5)
      .agg(avg("recall_at_k")).head.getDouble(0)
    assert(mc < 1.0, "1-level (sign-only) quantization should visibly " +
      s"degrade recall on real data, got $mc")
  }

  test("nearestCentroid aggregate == window rank-1 assignment " +
    "(the r17 argmin rewrite: identical cid for every corpus row, " +
    "identical carried embedding/norm)") {
    val prepared = Similarity.prepare(t(spark, TestSpark.sf001, "embeddings"))
    // an arbitrary deterministic centroid set (first 7 rows by hash
    // order) — the equivalence must hold for ANY centroid relation
    val cents = prepared
      .orderBy(xxhash64(col("n_id")), col("n_id")).limit(7)
      .select(col("n_id").as("cid"), col("n_emb").as("c_emb"),
        col("n_norm").as("c_norm"))
    val viaWindow = Similarity.rankByCentroid(prepared, cents,
        "n_id", "n_emb", "n_norm")
      .filter(col("c_rank") === 1)
      .select(col("n_id"), col("cid"), col("n_emb"), col("n_norm"))
    val viaAgg = Similarity.nearestCentroid(prepared, cents,
        "n_id", "n_emb", "n_norm")
      .select(col("n_id"), col("cid"), col("n_emb"), col("n_norm"))
    assert(viaWindow.exceptAll(viaAgg).isEmpty &&
      viaAgg.exceptAll(viaWindow).isEmpty,
      "aggregate argmin diverged from the window rank-1 form")
  }

  test("MmrGreedyPick expression == the k-round join greedy " +
    "(the r17 single-aggregate rewrite: identical picks, ranks and " +
    "integer scores on real data at several lambda values)") {
    val corpus = t(spark, TestSpark.sf001, "embeddings")
    val queries = corpus.filter(col("vec_id") < 10)
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"),
        expr("transform(embedding, x -> cast(x as double))").as("q_emb"))
      .withColumn("q_norm", sqrt(Similarity.dot(col("q_emb"), col("q_emb")))))
    val c = corpus
      .select(col("vec_id").as("n_id"),
        expr("transform(embedding, x -> cast(x as double))").as("n_emb"))
      .withColumn("n_norm", sqrt(Similarity.dot(col("n_emb"), col("n_emb"))))
    val wTop = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    val sl0 = c.crossJoin(q)
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", Similarity.dot(col("q_emb"), col("n_emb")) /
        (col("q_norm") * col("n_norm")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 8)
      .select(col("q_id"), col("n_id"),
        (round(col("sim"), 6).cast("decimal(18,6)") * lit(1000000))
          .cast("long").as("rel_micro"),
        col("n_emb"), col("n_norm"))
    for (lambda10 <- Seq(0, 7, 10)) {
      val viaJoins = Similarity.mmrGreedyJoins(sl0, 5, lambda10)
      val viaExprRows = {
        import org.apache.spark.sql.GraftColumnBridge
        val collected = sl0.groupBy("q_id")
          .agg(collect_list(struct(col("n_id"), col("rel_micro"),
            col("n_emb"), col("n_norm"))).as("cand"))
        val picks = GraftColumnBridge.column(
          graft.functions.MmrGreedyPick(
            GraftColumnBridge.expression(col("cand")), 5, lambda10))
        collected.select(col("q_id"), explode(picks).as("p"))
          .select(col("q_id"), col("p.rank"), col("p.n_id"),
            col("p.mmr_score_e7"))
          .collect().map(_.toSeq).toSet
      }
      val joinRows = viaJoins
        .select(col("q_id"), col("rank").cast("int"), col("n_id"),
          col("mmr_score_e7"))
        .collect().map(_.toSeq).toSet
      assert(joinRows == viaExprRows,
        s"greedy divergence at lambda10=$lambda10")
    }
  }
}
