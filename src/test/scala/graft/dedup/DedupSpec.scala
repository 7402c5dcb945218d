package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Dedup operators against planted duplicates — the fixtures the
  * synthetic documents table lacks (its 500 texts are all distinct). */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest to find food and water for the night"

  private lazy val docs = Seq(
    (0L, base),
    (1L, base), // exact dup of 0
    (2L, base.replace("quick", "QUICK") + "  "), // fingerprint dup
    (3L, base.replace("brown fox", "red wolf")), // near-dup
    (4L, "completely different text about spark query engines and " +
      "distributed columnar execution with whole stage codegen"),
    (5L, "yet another unrelated document mentioning minhash lsh bands " +
      "and jaccard similarity estimation at scale")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep"), count(lit(1)).as("n"))
    assert(out.count() == 5)
    assert(out.filter(col("n") === 2).select("keep")
      .as[Long].head() == 0L)
  }

  test("fingerprint dedup catches case/whitespace variants") {
    val out = docs.groupBy(
      graft.text.TextOps.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"))
    // 0,1,2 collapse; 3,4,5 distinct
    assert(out.count() == 4)
    assert(out.filter(col("n") === 3).count() == 1)
  }

  test("minhash LSH finds the planted near-dup pair, skips unrelated") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_jaccard")))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L))) // exact dup: all bands collide
    assert(keys.contains((0L, 2L)) || keys.contains((1L, 2L)))
    // near-dup 3 should surface against one of 0/1/2
    assert(keys.exists(p => p._2 == 3L))
    // unrelated docs never pair with the base cluster
    assert(!keys.exists(p => (p._1 <= 3L) && (p._2 >= 4L)))
    // exact dup estimated jaccard = 1
    assert(pairs.find(p => (p._1, p._2) == ((0L, 1L))).get._3 == 1.0)
  }

  private def hamming(a: Long, b: Long): Int =
    java.lang.Long.bitCount(a ^ b)

  test("simhash candidate pairs surface near-dups, skip unrelated") {
    val pairs = Dedup.simhashCandidatePairs(docs, "doc_id", "text",
      maxHamming = 16)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        -> r.getAs[Int]("hamming")).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) == 0)
    assert(pairs.keys.exists(p => p._1 <= 2L && p._2 == 3L)) // near-dup
    assert(!pairs.contains((0L, 4L))) // unrelated beyond threshold
  }

  test("embedding near-dup dedup finds the planted duplicate vector") {
    val rng = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = vec()
    val nearDup = base.zipWithIndex.map { case (v, i) =>
      if (i == 0) v + 0.01f else v } // tiny perturbation
    val emb = (Seq((0L, base), (1L, base), (2L, nearDup)) ++
      (3L until 40L).map(i => (i, vec())))
      .toDF("vec_id", "embedding")
    val dups = Dedup.embeddingNearDups(emb, minCos = 0.95)
      .collect().map(r => (r.getAs[Long]("keep_id"),
        r.getAs[Long]("dup_id"))).toSet
    assert(dups.contains((0L, 1L))) // exact copy
    assert(dups.contains((0L, 2L)) || dups.contains((1L, 2L)))
    // random 64-d vectors almost surely below 0.95 cosine
    assert(dups.forall(p => p._1 <= 2L && p._2 <= 2L))
  }

  test("simhash: near-dups within small hamming distance, " +
    "unrelated docs far") {
    val sh = docs.select(col("doc_id"),
      Dedup.simhash(graft.text.TextOps.tokens(lower(col("text"))))
        .as("sh")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sh")).toMap
    assert(sh(0L) == sh(1L))
    assert(hamming(sh(0L), sh(3L)) <= 16)
    assert(hamming(sh(0L), sh(4L)) > 16)
  }

  test("simhash pair join: maxBucketSize prunes degenerate buckets, " +
    "pair count stays linear") {
    // 200 near-empty docs all sketch to the same chunks — without the
    // cap the chunk self-join is quadratic (~19900 pairs)
    val degenerate = (0L until 200L).map(i => (i, "aaa aaa aaa"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashCandidatePairs(degenerate, "doc_id",
      "text", maxHamming = 3, maxBucketSize = 100)
    assert(capped.count() == 0) // every bucket over cap → dropped
    // real near-dups in NON-degenerate buckets still surface with the
    // cap on
    val mixed = docs.union(degenerate.filter(col("doc_id") >= 100L))
    val pairs = Dedup.simhashCandidatePairs(mixed, "doc_id", "text",
      maxHamming = 16, maxBucketSize = 50)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 >= 100L && p._2 >= 100L))
  }

  test("ngram df-cap drops stopword grams before the pair join") {
    // every doc shares the ultra-frequent boilerplate opener; only
    // 0 and 1 are genuinely similar
    val boiler = "this document is provided as is without warranty "
    val corpus = Seq(
      (0L, boiler + "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, boiler + "alpha beta gamma delta epsilon zeta eta iota"),
      (2L, boiler + "one two three four five six seven eight"),
      (3L, boiler + "red orange yellow green blue indigo violet pink"),
      (4L, boiler + "north south east west up down left right")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        -> r.getAs[Double]("jac")).toMap
    // boilerplate links ALL pairs: 5 choose 2 = 10
    assert(uncapped.size == 10)
    val capped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      maxGramDf = 2)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        -> r.getAs[Double]("jac")).toMap
    // grams in >2 docs (the boilerplate) dropped → only the genuine
    // near-dup pair survives the join, still scoring high over the
    // filtered sets
    assert(capped.keySet == Set((0L, 1L)))
    assert(capped((0L, 1L)) > 0.5)
  }

  test("ngram jaccard: dup pair ≈ 1, near-dup high, unrelated ≈ 0") {
    val grams = docs.select(col("doc_id"),
      Dedup.tokenNgrams(graft.text.TextOps.tokens(lower(col("text"))), 3)
        .as("g"))
    val a = grams.select(col("doc_id").as("ia"), col("g").as("ga"))
    val b = grams.select(col("doc_id").as("ib"), col("g").as("gb"))
    val j = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        Dedup.jaccard(col("ga"), col("gb")).as("j"))
      .collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib")) ->
        r.getAs[Double]("j")).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 3L)) > 0.5)
    assert(j((0L, 4L)) == 0.0)
  }

  test("connected components: chained pairs collapse to one cluster") {
    // pairs (0,1),(1,2),(2,3) form a diameter-3 chain — the case where
    // naive pair-wise dedup keeps 2 of 4 dups; CC must keep exactly 1
    val nodes = (0L to 6L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(nodes, "doc_id", pairs, "doc_a", "doc_b")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_canonical")))
      .toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(out(_)._1 == 0L))
    assert(out(4L) == (4L, true)) // isolated node is its own cluster
    assert(out(5L)._1 == 5L && out(6L)._1 == 5L)
    assert(out.values.count(_._2) == 3) // one canonical per cluster
    assert(out(0L)._2 && !out(1L)._2 && !out(3L)._2)
  }

  test("keepBest: the highest-quality cluster member survives, not " +
    "the lowest id; ties fall to the lowest id") {
    // docs 1,2,3 cluster; doc 3 has the best quality → keep=3.
    // docs 5,6 cluster with EQUAL quality → tie falls to 5.
    val docs = Seq(
      (1L, 0.2), (2L, 0.6), (3L, 0.9), (4L, 0.5),
      (5L, 0.7), (6L, 0.7)
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val clusters = Dedup.dupClusters(docs, "doc_id", pairs,
      "doc_a", "doc_b").select("doc_id", "cluster_id")
    val out = Dedup.keepBest(docs, "doc_id", clusters, col("q"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    assert(out(3L) == (1L, true))
    assert(!out(1L)._2 && !out(2L)._2)
    assert(out(4L) == (4L, true)) // singleton keeps itself
    assert(out(5L) == (5L, true) && out(6L) == (5L, false))
    assert(out.values.count(_._2) == 3)
  }

  test("incrementalNearDups: new docs match their best existing doc " +
    "only; disjoint new docs are absent; corpus never self-pairs") {
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over a sleepy cat"),
      (3L, "completely different content lives here now")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "nothing in common with anything stored before"),
      (12L, "completely different content lives here toO") // case-folded
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(fresh, old, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("new_id") ->
        (r.getAs[Long]("old_id"), r.getAs[Double]("jac"))).toMap
    assert(out(10L)._1 == 1L)       // best match is doc 1, not doc 2
    assert(out(10L)._2 > 0.5)       // and it is a genuinely high match
    assert(!out.contains(11L))      // zero-overlap: no row
    assert(out(12L)._1 == 3L && out(12L)._2 > 0.5)
    // one row per matched new doc — never old×old or new×new pairs
    assert(out.size == 2)
  }

  test("incrementalNearDups maxGramDf: a corpus-hot gram stops pairing " +
    "(the one-boilerplate-gram blowup guard) and Jaccard recomputes " +
    "over the stripped gram sets") {
    // every corpus doc shares the 3-gram "terms of service"; docs are
    // otherwise disjoint from the new doc
    val old = (1L to 5L).map(i =>
      (i, s"terms of service unique$i filler$i content$i"))
      .toDF("doc_id", "text")
    val fresh = Seq((10L, "terms of service brand new material here"))
      .toDF("doc_id", "text")
    // uncapped: the hot gram pairs the new doc with all 5 corpus docs
    // (best match = smallest id at the tied jaccard)
    val un = Dedup.incrementalNearDups(fresh, old, "doc_id", "text")
      .collect()
    assert(un.length == 1 && un.head.getAs[Long]("old_id") == 1L)
    // capped below 5: the only shared gram is banned → no pairs at all,
    // so the probe's cost can no longer scale with corpus df
    val capped = Dedup.incrementalNearDups(fresh, old, "doc_id", "text",
      maxGramDf = 4)
    assert(capped.isEmpty)
    // cap above the df: identical to uncapped, but jaccard must equal
    // the recomputed-size contract on both paths
    val loose = Dedup.incrementalNearDups(fresh, old, "doc_id", "text",
        maxGramDf = 100)
      .collect()
    assert(loose.map(r => (r.getAs[Long]("new_id"),
        r.getAs[Long]("old_id"), r.getAs[Double]("jac"))).toSeq ==
      un.map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id"),
        r.getAs[Double]("jac"))).toSeq)
  }

  test("connected components: edge direction does not matter") {
    val nodes = (0L to 3L).toDF("doc_id")
    // edges given max-first — min-label must still propagate everywhere
    val pairs = Seq((3L, 2L), (2L, 1L), (1L, 0L)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(nodes, "doc_id", pairs,
      "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.values.toSet == Set(0L))
  }

  test("connected components: maxIter too small fails loudly") {
    val nodes = (0L to 9L).toDF("doc_id")
    val chain = (0L to 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(nodes, "doc_id", chain,
        "doc_a", "doc_b", maxIter = 2)
    }
    // the failed guard releases the label state and edge list
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before)
  }

  test("connected components: every-2nd-round convergence check " +
    "preserves the exact maxIter boundary (r18)") {
    // a chain long enough to need several pointer-jumping rounds, so
    // both the paired checks and the budget-boundary re-check run
    val nodes = (0L to 16L).toDF("doc_id")
    val chain = (0L to 15L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def run(k: Int) = Dedup.connectedComponents(nodes, "doc_id",
        chain, "doc_a", "doc_b", maxIter = k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // find the minimal budget that converges; below it the loop must
    // throw (the old per-round semantics), at and above it the labels
    // must be identical — EXACTLY one component rooted at 0
    val minIter = (1 to 20).find { k =>
      try { run(k); true }
      catch { case _: IllegalArgumentException => false }
    }.get
    assert(minIter > 2, s"fixture too easy: converged at $minIter")
    intercept[IllegalArgumentException] { run(minIter - 1) }
    val atBoundary = run(minIter)
    assert(atBoundary.values.toSet == Set(0L))
    // extra idempotent rounds (odd AND even budgets past convergence)
    // cannot move a label
    assert(run(minIter + 1) == atBoundary)
    assert(run(minIter + 2) == atBoundary)
  }

  test("connected components: checkpointEvery cuts the lineage chain " +
    "and leaves the clustering unchanged") {
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    // without a checkpoint dir the option must refuse, not NPE later
    if (prevDir.isEmpty) {
      intercept[IllegalArgumentException] {
        Dedup.connectedComponents((0L to 3L).toDF("doc_id"),
          "doc_id", Seq((0L, 1L)).toDF("doc_a", "doc_b"),
          "doc_a", "doc_b", checkpointEvery = Some(2))
      }
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cc_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      // a diameter-9 chain needs several rounds → the every-2 path
      // actually checkpoints mid-loop
      val nodes = (0L to 20L).toDF("doc_id")
      val chain = (0L to 8L).map(i => (i, i + 1)) ++
        Seq((15L, 16L), (17L, 16L))
      val pairs = chain.toDF("doc_a", "doc_b")
      val plain = Dedup.connectedComponents(nodes, "doc_id", pairs,
        "doc_a", "doc_b").collect().map(_.toSeq).toSet
      val ckpt = Dedup.connectedComponents(nodes, "doc_id", pairs,
        "doc_a", "doc_b", checkpointEvery = Some(2))
        .collect().map(_.toSeq).toSet
      assert(ckpt == plain)
      // the checkpoint actually wrote something
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no checkpoint written")
    } finally {
      prevDir.foreach(sc.setCheckpointDir)
    }
  }

  test("labelSum: empty input is 0; decimal overflow on non-empty " +
    "input fails loudly instead of masquerading as convergence") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("label", DecimalType(38, 0))))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(Dedup.labelSum(empty).compareTo(
      java.math.BigDecimal.ZERO) == 0)
    val big = new java.math.BigDecimal("9" * 38)
    val rows = spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(big), org.apache.spark.sql.Row(big)))
    val overflowing = spark.createDataFrame(rows, schema)
    // ANSI sessions throw at the Sum itself; non-ANSI sessions return
    // null, which the guard converts to IllegalArgumentException —
    // either way the overflow is LOUD, never a silent 0
    val e = intercept[Exception] { Dedup.labelSum(overflowing) }
    val msg = e.getMessage.toLowerCase
    assert(msg.contains("overflow") || msg.contains("out_of_range"),
      s"unexpected failure shape: $msg")
  }

  test("prefix-filter threshold pairs == full gram join filtered, " +
    "at several thresholds (completeness of the AllPairs prefix)") {
    val corpus = graft.Tables.t(spark, TestSpark.sf0001, "documents")
    val full = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      blockCols = Seq("lang", "source"), n = 3)
    for (t <- Seq(0.1, 0.3, 0.5, 0.9)) {
      val want = full.filter(col("jac") >= t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val got = Dedup.ngramJaccardThresholdPairs(corpus, "doc_id",
        "text", t, blockCols = Seq("lang", "source"), n = 3)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got == want, s"threshold $t diverges from the full join")
    }
  }

  test("prefix filter: boilerplate-only overlap produces NO candidate " +
    "(the hot gram sorts to the suffix and never hits the index)") {
    // every doc shares one boilerplate phrase (3 common grams) but the
    // unique remainders don't overlap: all pairwise jac < 0.2, and at
    // t = 0.5 the 3 shared grams (df = 20, the heaviest) sort LAST in
    // every doc's (df, gram) order while prefixes stop well short —
    // the pair set must come back empty WITHOUT the verify step ever
    // rejecting a candidate (jac values here are ≈ 3/35, far below t,
    // so any surviving candidate would also prove over-indexing).
    val boiler = "copyright acme corp all rights reserved"
    val docs = (0 until 20).map { i =>
      (i.toLong, s"unique${i}a word${i}b token${i}c item${i}d " +
        s"alpha${i}e beta${i}f gamma${i}g delta${i}h $boiler")
    }.toDF("doc_id", "text")
    val out = Dedup.ngramJaccardThresholdPairs(docs, "doc_id", "text",
      t = 0.5, n = 3)
    assert(out.count() == 0)
    // sanity: the PLAIN gram join does pair them (the boilerplate
    // grams generate all 190 candidate pairs) — the prefix filter is
    // what avoids that work
    val plain = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3)
    assert(plain.count() == 190L)
  }

  test("prefix-filter pairs: exact-dup and near-dup planted docs " +
    "surface with jac = 1 and high jac") {
    val out = Dedup.ngramJaccardThresholdPairs(docs, "doc_id", "text",
      t = 0.5, n = 3)
      .select("doc_a", "doc_b", "jac")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b, math.rint(j * 100) / 100) }.toSet
    assert(out.contains((0L, 1L, 1.0)))
    assert(out.exists { case (a, b, j) => a == 0L && b == 3L && j > 0.5 })
  }

  test("editDistancePairs == brute force on bucket-edge fixtures " +
    "(identical, |Δlen| exactly k, same-length-far-apart, k=0, empty)") {
    val docs = Seq(
      (0L, "hello world"), (1L, "hello world"),   // dist 0
      (2L, "hello worl"),                         // dist 1 vs 0/1
      (3L, "hello world!!!"),                     // Δlen 3 = k edge
      (4L, "HELLO WORLD"),                        // same len, dist 8
      (5L, ""), (6L, "abc"),                      // empty vs short: Δlen 3
      (7L, "xyzzy plugh"))                        // same len as 0, far
      .toDF("doc_id", "text")
    def run(k: Int): Set[(Long, Long, Int)] = {
      val rows = Dedup.editDistancePairs(docs, "doc_id", "text",
        maxDist = k).as[(Long, Long, Int)].collect()
      // canonical-bucket exactly-once: no pair may be emitted twice
      assert(rows.length == rows.toSet.size,
        s"duplicate pair emission at k=$k")
      rows.toSet
    }
    def brute(k: Int): Set[(Long, Long, Int)] = {
      val a = docs.select(col("doc_id").as("doc_a"),
        col("text").as("ta"))
      val b = docs.select(col("doc_id").as("doc_b"),
        col("text").as("tb"))
      a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
        .withColumn("dist", levenshtein(col("ta"), col("tb")))
        .filter(col("dist") <= k)
        .select("doc_a", "doc_b", "dist")
        .as[(Long, Long, Int)].collect().toSet
    }
    Seq(0, 3, 8).foreach { k =>
      assert(run(k) == brute(k), s"mismatch at k=$k")
    }
    assert(run(0) == Set((0L, 1L, 0)))
    // Δlen 3 pairs appear exactly once at k=3 (canonical bucket, no
    // duplicate emission): multiset size == set size is inherent in
    // Set compare above; pin one known pair
    assert(run(3).contains((5L, 6L, 3)))
  }

  test("editDistancePairs == an independent driver-side DP over " +
    "seeded random corpora (lengths 0-15, k 0-4)") {
    // independent reimplementation: classic two-row DP
    def lev(a: String, b: String): Int = {
      var prev = (0 to b.length).toArray
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1)
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length)
    }
    val rnd = new scala.util.Random(41)
    (1 to 12).foreach { trial =>
      val k = rnd.nextInt(5)
      val strs = (0L until (6 + rnd.nextInt(6)).toLong).map { id =>
        (id, (0 until rnd.nextInt(16))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      }
      val want = (for {
        (ia, sa) <- strs; (ib, sb) <- strs
        if ia < ib
        d = lev(sa, sb) if d <= k
      } yield (ia, ib, d)).toSet
      val got = Dedup.editDistancePairs(strs.toDF("doc_id", "text"),
          "doc_id", "text", maxDist = k)
        .as[(Long, Long, Int)].collect()
      assert(got.length == got.toSet.size,
        s"trial $trial (k=$k): duplicate emission")
      assert(got.toSet == want,
        s"trial $trial (k=$k): got ${got.toSet} want $want on $strs")
    }
  }

  test("substringSpans: hand-derived islands — cross-doc repeats, " +
    "in-doc repeats, overlap merge, clean docs, short docs") {
    // L=4. doc 1 & 2 share "ABCDEF" -> windows ABCD/BCDE/CDEF at
    // positions 1..3 merge into ONE island of 6 chars in each.
    // doc 3 repeats "WXYZ" in-doc at 1 and 9 (no overlap): 2 islands
    // of 4. doc 4 is unique; doc 5 too short for any window.
    val docs = Seq(
      (1L, "ABCDEFgh"),
      (2L, "xyABCDEF"),
      (3L, "WXYZqrstWXYZ"),
      (4L, "nothing here"),
      (5L, "abc")
    ).toDF("doc_id", "text")
    for (hashed <- Seq(false, true)) {
      val out = Dedup.substringSpans(docs, "doc_id", "text",
          spanLen = 4, hashWindows = hashed)
        .as[(Long, Int, Int, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(out.size == 5, s"hashed=$hashed")
      assert(out(1L) == ((1, 6, 8)), s"hashed=$hashed: ${out(1L)}")
      assert(out(2L) == ((1, 6, 8)), s"hashed=$hashed")
      assert(out(3L) == ((2, 8, 12)), s"hashed=$hashed")
      assert(out(4L) == ((0, 0, 12)), s"hashed=$hashed")
      assert(out(5L) == ((0, 0, 3)), s"hashed=$hashed")
    }
  }

  test("substringSpans: hashed == string-keyed on the documents " +
    "corpus slice (the scale path computes the gate's answer)") {
    val docs = graft.Tables.t(spark, graft.TestSpark.sf001, "documents")
      .filter(col("doc_id") < 120)
    val a = Dedup.substringSpans(docs, "doc_id", "text",
        spanLen = 25, hashWindows = false)
      .as[(Long, Int, Int, Int)].collect().sortBy(_._1).toSeq
    val b = Dedup.substringSpans(docs, "doc_id", "text",
        spanLen = 25, hashWindows = true)
      .as[(Long, Int, Int, Int)].collect().sortBy(_._1).toSeq
    assert(a == b)
    assert(a.exists(_._2 > 0)) // the slice genuinely has repeats
  }

  test("substringSpans: adjacent-but-not-overlapping windows still " +
    "merge (shared exclusive end == next start)") {
    // L=3, doc A = "abcdef", doc B = "abc", doc C = "def": windows
    // abc (pos 1) and def (pos 4) both dup'd; island break requires
    // p > prev_end-1, and 4 > 1+3-1 is FALSE -> one island of 6.
    val docs = Seq((1L, "abcdef"), (2L, "abcxxx"), (3L, "xxxdef"))
      .toDF("doc_id", "text")
    val out = Dedup.substringSpans(docs, "doc_id", "text",
        spanLen = 3, hashWindows = false)
      .as[(Long, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1, 6))) // abc[1..3] + def[4..6] fuse seamlessly
  }

  test("incrementalSubstringSpans == full substringSpans restricted " +
    "to the batch, and a batch-only repeat is still found") {
    val docs = graft.Tables.t(spark, graft.TestSpark.sf001, "documents")
      .filter(col("doc_id") < 200)
    val batch = docs.filter(col("doc_id") >= 150)
    val corpus = docs.filter(col("doc_id") < 150)
    val incr = Dedup.incrementalSubstringSpans(batch, corpus,
        "doc_id", "text", spanLen = 25, hashWindows = true)
      .as[(Long, Int, Int, Int)].collect().sortBy(_._1).toSeq
    val full = Dedup.substringSpans(docs, "doc_id", "text",
        spanLen = 25, hashWindows = true)
      .filter(col("doc_id") >= 150)
      .as[(Long, Int, Int, Int)].collect().sortBy(_._1).toSeq
    assert(incr == full)
    assert(incr.size == 50)

    // a repeat strictly INSIDE the batch (absent from the corpus)
    // must still mark: dup detection sees batch ∪ corpus
    val run = "Z".repeat(30)
    val b2 = Seq((900L, s"aaaa $run bbbb"), (901L, s"cccc $run dddd"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalSubstringSpans(b2,
        corpus.select("doc_id", "text"), "doc_id", "text",
        spanLen = 25, hashWindows = true)
      .as[(Long, Int, Int, Int)].collect()
    assert(out.forall(_._2 >= 1), s"batch-internal repeat missed: ${out.toSeq}")
  }

  test("winnowMatchPairs: planted shared runs pair up, unrelated docs " +
    "stay unpaired, and blocks isolate") {
    val run = (1 to 12).map(i => s"stolen$i").mkString(" ")
    def junk(seed: Int, n: Int) =
      (1 to n).map(i => s"u${seed}x$i").mkString(" ")
    val docs = Seq(
      (1L, "en", junk(1, 40) + " " + run + " " + junk(2, 40)),
      (2L, "en", junk(3, 30) + " " + run + " " + junk(4, 50)),
      (3L, "en", junk(5, 80)),                 // unrelated
      (4L, "de", junk(6, 30) + " " + run)      // same run, other block
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.winnowMatchPairs(docs, "doc_id", "text",
        minShared = 2, blockCols = Seq("lang"))
      .select("doc_a", "doc_b", "n_shared")
      .as[(Long, Long, Int)].collect()
    assert(out.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"got ${out.toSeq}")
    assert(out.head._3 >= 2) // the 12-token run must winnow >=2 shared
  }

  test("containmentPairs: asymmetric scores from one symmetric " +
    "intersection — full containment, partial, threshold, no-overlap") {
    // n=1 (unigram shingles) for hand math. B = 10 distinct tokens;
    // A (3 tokens) and C (2 tokens) are subsets of B; A∩C = ∅; D
    // overlaps nothing.
    val docs = Seq(
      (1L, "x y z"),
      (2L, "x y z p q r s t u w"),
      (3L, "p q"),
      (4L, "nothing shared here at all")
    ).toDF("doc_id", "text")
    def run(t: Double) =
      Dedup.containmentPairs(docs, "doc_id", "text", t = t, n = 1)
        .as[(Long, Long, Double)].collect().toSet
    // t=0.5: only the two full containments
    assert(run(0.5) == Set((1L, 2L, 1.0), (3L, 2L, 1.0)))
    // t=0.25: B->A enters at 3/10; B->C (0.2) still below
    assert(run(0.25) == Set((1L, 2L, 1.0), (3L, 2L, 1.0),
      (2L, 1L, 0.3)))
    // t=0.1: all four ordered overlapping pairs
    assert(run(0.1) == Set((1L, 2L, 1.0), (3L, 2L, 1.0),
      (2L, 1L, 0.3), (2L, 3L, 0.2)))
  }

  test("containmentPairs: containment >= jaccard on every corpus pair " +
    "and full containments exist in the documents slice") {
    val docs = graft.Tables.t(spark, graft.TestSpark.sf001, "documents")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
        t = 0.05, blockCols = Seq("lang", "source"))
      .select("doc_sub", "doc_sup", "containment")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1 min r._2, r._1 max r._2) -> r._3).toMap
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq("lang", "source"))
      .select("doc_a", "doc_b", "jac")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(cont.nonEmpty)
    cont.foreach { case (pair, c) =>
      jac.get(pair).foreach(j =>
        assert(c >= j - 1e-9, s"$pair: containment $c < jaccard $j"))
    }
    assert(cont.values.exists(_ == 1.0)) // genuine full containment
  }

  test("substringCut: hand-derived clean texts — head cut, tail cut, " +
    "middle survivor, untouched docs, full-coverage doc") {
    // Same L=4 fixture as the spans hand test, plus a doc-pair whose
    // islands cover the WHOLE text (clean_text must be "").
    val docs = Seq(
      (1L, "ABCDEFgh"),     // island [1,7)  -> tail "gh" survives
      (2L, "xyABCDEF"),     // island [3,9)  -> head "xy" survives
      (3L, "WXYZqrstWXYZ"), // islands [1,5),[9,13) -> middle "qrst"
      (4L, "nothing here"), // clean doc: unchanged
      (5L, "abc"),          // sub-spanLen: unchanged
      (6L, "PQRSTU"),       // full coverage vs doc 7 -> ""
      (7L, "PQRSTU")
    ).toDF("doc_id", "text")
    for (hashed <- Seq(false, true)) {
      val out = Dedup.substringCut(docs, "doc_id", "text",
          spanLen = 4, hashWindows = hashed)
        .as[(Long, String, Int, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(out.size == 7, s"hashed=$hashed")
      assert(out(1L) == (("gh", 6, 8)), s"hashed=$hashed: ${out(1L)}")
      assert(out(2L) == (("xy", 6, 8)), s"hashed=$hashed")
      assert(out(3L) == (("qrst", 8, 12)), s"hashed=$hashed")
      assert(out(4L) == (("nothing here", 0, 12)), s"hashed=$hashed")
      assert(out(5L) == (("abc", 0, 3)), s"hashed=$hashed")
      assert(out(6L) == (("", 6, 6)), s"hashed=$hashed")
      assert(out(7L) == (("", 6, 6)), s"hashed=$hashed")
    }
  }

  test("weightedJaccardPairs: hand math — repetition discriminates " +
    "where set-Jaccard saturates; exact dups score 1.0; the df cap " +
    "drops stopword-grade tokens") {
    val docs = Seq(
      (1L, "spark spark spark query"), // bag {spark:3, query:1}
      (2L, "spark query query query"), // Σmin=2, Σmax=6 → 1/3
      (3L, "spark spark spark query"), // exact dup of 1 → 1.0
      (4L, "unrelated words only here")
    ).toDF("doc_id", "text")
    def run(t: Double, cap: Int = Int.MaxValue) =
      Dedup.weightedJaccardPairs(docs, "doc_id", "text", t = t,
        maxTokenDf = cap)
        .as[(Long, Long, Double)].collect().toSet
    assert(run(0.3) == Set((1L, 3L, 1.0), (1L, 2L, 0.333333),
      (2L, 3L, 0.333333)))
    // set-Jaccard on unigrams would call (1,2) identical (jac 1.0) —
    // the weighted form is the one that separates them
    assert(run(0.5) == Set((1L, 3L, 1.0)))
    // df cap at 2: "spark"/"query" appear in 3 docs → dropped; doc
    // pairs (1,2)/(2,3) lose all shared mass; (1,3) still pairs on
    // nothing — capped bags are empty, no pairs at all
    assert(run(0.3, cap = 2).isEmpty)
  }

  test("weightedJaccardPairs on the corpus slice: scores in (0, 1], " +
    "and the planted near-dups push the top of the range past 0.9") {
    val docs = graft.Tables.t(spark, graft.TestSpark.sf001, "documents")
    val w = Dedup.weightedJaccardPairs(docs, "doc_id", "text",
        t = 0.3, blockCols = Seq("lang", "source"))
      .select("doc_a", "doc_b", "wjac")
      .as[(Long, Long, Double)].collect()
    assert(w.nonEmpty)
    assert(w.forall(p => p._3 > 0.0 && p._3 <= 1.0 + 1e-9))
    // the corpus has no EXACT text dups (md5-distinct throughout), so
    // 1.0 is unreachable — but its planted near-dups score ≥ 0.9
    assert(w.exists(_._3 >= 0.9), "no near-dup pair in the top range")
  }

  test("substringCut: n_cut == substringSpans dup_chars and " +
    "length(clean_text) + n_cut == n_chars on the corpus slice") {
    val docs = graft.Tables.t(spark, graft.TestSpark.sf001, "documents")
      .filter(col("doc_id") < 120)
    val cut = Dedup.substringCut(docs, "doc_id", "text",
        spanLen = 25, hashWindows = true)
      .as[(Long, String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val spans = Dedup.substringSpans(docs, "doc_id", "text",
        spanLen = 25, hashWindows = true)
      .as[(Long, Int, Int, Int)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(cut.keySet == spans.keySet)
    cut.foreach { case (id, (clean, nCut, nChars)) =>
      assert(nCut == spans(id), s"doc $id: n_cut vs dup_chars")
      assert(clean.length + nCut == nChars, s"doc $id: length ledger")
    }
    assert(cut.values.exists(_._2 > 0)) // the slice genuinely cuts
  }

  test("capped production forms: a df cap above the corpus max is a " +
    "no-op (capped code path ≡ uncapped output on the gate corpus); " +
    "the d_wjaccard_capped gate cap genuinely bites") {
    val corpus = graft.Tables.t(spark, graft.TestSpark.sf001, "documents")
    def wj(cap: Int) = Dedup.weightedJaccardPairs(corpus, "doc_id",
      "text", t = 0.3, blockCols = Seq("lang", "source"),
      maxTokenDf = cap)
    // sf0.01 max in-block token df is 15 — cap 1000 exercises the cap
    // CODE PATH (df window + filter) while dropping nothing
    val un = wj(Int.MaxValue)
    val noop = wj(1000)
    assert(noop.exceptAll(un).count() == 0 &&
      un.exceptAll(noop).count() == 0,
      "a non-biting cap changed the wjaccard output")
    // the gate's cap (10) is below the corpus max df (15): it must
    // genuinely drop pairs (these counts pin the gate corpus)
    assert(un.count() == 1022 && wj(10).count() == 882)
  }

  test("winnowMatchPairs maxHashDf: boilerplate fingerprints shared " +
    "by a whole block are dropped before the pair join; a cap above " +
    "the max df is a no-op") {
    // 8 docs sharing ONLY an 11-token boilerplate prefix: every
    // selected fingerprint inside the prefix is identical across all
    // 8 (df = 8), the per-doc tails share nothing
    val boiler = "copyright acme corporation all rights reserved do " +
      "not redistribute this file"
    val docs8 = (0 until 8).map(i => (i.toLong,
      s"$boiler alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      .toDF("doc_id", "text")
    def wn(cap: Int) = Dedup.winnowMatchPairs(docs8, "doc_id", "text",
      minShared = 1, maxHashDf = cap)
    assert(wn(Int.MaxValue).count() == 28) // all C(8,2) pairs match
    assert(wn(4).count() == 0,
      "df cap 4 must kill every df-8 boilerplate fingerprint")
    val wnUn = wn(Int.MaxValue)
    val wnNoop = wn(1000)
    assert(wnNoop.exceptAll(wnUn).count() == 0 &&
      wnUn.exceptAll(wnNoop).count() == 0,
      "a non-biting cap changed the winnow output")
  }

  test("band-cap report surfaces exactly the buckets the Hamming " +
    "band join silently drops (planted degenerate bucket)") {
    // 30 identical texts = one degenerate sketch: all 4 chunk buckets
    // hold 30 ids; plus 2 distinct texts that must NOT be reported
    val flood = (0 until 30).map(i => (i.toLong, base)) ++ Seq(
      (100L, docs.collect()(4).getString(1)),
      (101L, docs.collect()(5).getString(1)))
    val fl = flood.toDF("doc_id", "text")
    val hashed = fl.select(col("doc_id"),
      Dedup.simhash(graft.text.TextOps.tokens(lower(col("text"))))
        .as("sh"))
    val rep = Dedup.hammingBandCapReport(fl.select(col("doc_id"),
        Dedup.simhash(graft.text.TextOps.tokens(lower(col("text"))))
          .as("sh")),
      "doc_id", "sh", maxBucketSize = 10).collect()
    // exactly the 4 chunks of the flooded sketch, each n=30 with the
    // C(30,2) suppressed-pair bound
    assert(rep.length == 4)
    assert(rep.forall(_.getAs[Long]("bucket_n") == 30L))
    assert(rep.forall(_.getAs[Long]("pairs_suppressed") == 435L))
    // consistency: the candidates join at the same cap finds NO pair
    // among the flooded ids (they were dropped, which is exactly what
    // the report said), and finds them again when the cap lifts
    val capped = Dedup.hammingBandCandidates(hashed, "doc_id", "sh",
      maxBucketSize = 10)
    assert(capped.filter(col("doc_a") < 30 && col("doc_b") < 30)
      .count() == 0)
    val uncapped = Dedup.hammingBandCandidates(hashed, "doc_id", "sh",
      maxBucketSize = Int.MaxValue)
    assert(uncapped.filter(col("doc_a") < 30 && col("doc_b") < 30)
      .count() == 435L)
    // an above-cap report is empty (nothing silently dropped → no row)
    assert(Dedup.hammingBandCapReport(hashed, "doc_id", "sh",
      maxBucketSize = 1000).count() == 0)
  }

  test("minhash band-cap report mirrors the LSH join's pruning " +
    "(planted signature flood)") {
    // 25 identical texts flood every band bucket; 2 distinct texts
    // stay below any cap
    val flood = (0 until 25).map(i => (i.toLong, base)) ++ Seq(
      (100L, docs.collect()(4).getString(1)),
      (101L, docs.collect()(5).getString(1)))
    val fl = flood.toDF("doc_id", "text")
    val rep = Dedup.minhashBandCapReport(fl, "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = 10).collect()
    // all 4 bands of the flooded signature trip the cap at n=25
    assert(rep.length == 4)
    assert(rep.forall(_.getAs[Long]("bucket_n") == 25L))
    assert(rep.forall(_.getAs[Long]("pairs_suppressed") == 300L))
    // the capped join finds no flooded pair; uncapped finds all 300
    val capped = Dedup.minhashCandidatePairs(fl, "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = 10)
    assert(capped.filter(col("doc_a") < 25 && col("doc_b") < 25)
      .count() == 0)
    val uncapped = Dedup.minhashCandidatePairs(fl, "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = Int.MaxValue)
    assert(uncapped.filter(col("doc_a") < 25 && col("doc_b") < 25)
      .count() == 300L)
    // above-cap: empty report
    assert(Dedup.minhashBandCapReport(fl, "doc_id", "text",
      maxBucketSize = 1000).count() == 0)
  }
}
