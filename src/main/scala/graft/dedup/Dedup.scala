package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t
import graft.text.TextOps

/** Deduplication operators for a training-data pipeline: exact,
  * fingerprint (near-exact), MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design:
  *  - Exact/fingerprint dedup is one hash-aggregate over the digest —
  *    the shuffle key is the 128-bit digest, perfectly balanced.
  *  - MinHash signatures are computed per-row (narrow); the LSH
  *    band-bucket join replaces the O(n²) all-pairs comparison with a
  *    groupBy over (band, bucket) — only same-bucket docs are paired.
  *    The banding math (16 hashes, 4 bands × 4 rows) targets ~0.5+
  *    Jaccard; at 100 TB the bucket join is the only shuffle and buckets
  *    are capped (`maxBucketSize`) to bound skew from degenerate docs.
  *  - SimHash is a per-row 64-bit sketch; near-dup candidates come from
  *    matching 16-bit chunks (4 tables), again a bucket join.
  */
object Dedup {

  // ---- shingling / signatures (pure column expressions, codegen'd) ----

  /** Character k-shingles of an ALREADY-NORMALIZED text column
    * (distinct set). Pass a materialized attribute (not the normalize()
    * expression itself) — the transform() lambda evaluates its input
    * per shingle, so an inline normalize would rerun its regexes
    * O(length) times per row. */
  def charShingles(norm: Column, k: Int = 5): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(lit(1), length(norm) - (k - 1))),
      i => norm.substr(i, lit(k))))

  /** SimHash: 64-bit sign-sketch of the token multiset. Bit b is 1 iff
    * Σ_tokens (±1 by bit b of xxhash64(token)) > 0. Delegates to the
    * native `graft.functions.SimHash64` expression — one JVM loop per
    * row instead of an interpreted lambda per (token × bit). */
  def simhash(tokenCol: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.SimHash64(
      GraftColumnBridge.expression(tokenCol)))
  }

  /** Distinct token n-grams ("a b c") for Jaccard similarity — native
    * expression, shared entry point in `TokenNgrams.of`. */
  def tokenNgrams(tokenCol: Column, n: Int = 3): Column =
    graft.functions.TokenNgrams.of(tokenCol, n)

  /** Jaccard over two pre-deduplicated arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Per-row MinHash signatures via the native expression — no explode,
    * no shuffle (see `graft.functions.MinHashSig`). */
  def minhashSignaturesNative(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 16, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    docs
      .withColumn("norm_text", TextOps.normalize(col(textCol)))
      .select(col(idCol).as("id"),
        GraftColumnBridge.column(graft.functions.MinHashSig(
          GraftColumnBridge.expression(col("norm_text")), n, k)).as("sig"))
  }

  /** Relational MinHash signatures: explode shingle positions
    * (Generate evaluates the normalized text once per doc), substring +
    * murmur3 per shingle row, then ONE hash aggregate with n `min`s.
    * Fully codegen'd but pays the rows×length explode and an aggregate
    * shuffle — kept as the formulation for pre-exploded shingle tables;
    * per-document use goes through `minhashSignaturesNative`.
    * Output: (id, sig array<long>[n]). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 16, k: Int = 5): DataFrame = {
    val p = 2147483647L
    val shingleRows = docs
      .withColumn("norm_text", TextOps.normalize(col(textCol)))
      .select(col(idCol).as("id"), col("norm_text"),
        posexplode(sequence(lit(1),
          greatest(lit(1), length(col("norm_text")) - (k - 1))))
          .as(Seq("pos0", "pos")))
      .select(col("id"),
        hash(col("norm_text").substr(col("pos"), lit(k))).cast("long")
          .as("h"))
    shingleRows.groupBy("id").agg(
      array((0 until n).map { i =>
        min(pmod(col("h") * (2L * i + 1L) + (7919L * i + 13L), lit(p)))
      }: _*).as("sig"))
  }

  // ---- library-level pair finding (LSH) ----

  /** MinHash-LSH candidate pairs: band the signature, bucket-join, and
    * emit distinct (doc_a < doc_b) pairs with their estimated Jaccard
    * (fraction of matching minhashes). `maxBucketSize` drops degenerate
    * buckets (boilerplate/empty docs) that would otherwise produce a
    * quadratic blow-up — the standard skew guard at scale. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 1000, stageSigs: Boolean = false): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — the " +
        "trailing hashes would silently drop out of every band, " +
        "weakening recall while est_jaccard still divides by numHashes")
    // `stageSigs` (r18): stage the PER-DOC signature table (id, sig —
    // one narrow row per doc, unlike the r17-rejected staging of the
    // exploded banded table) so the self-join's a/b sides scan the
    // staged sigs instead of hashing every shingle of every doc twice.
    // Default off: a single-use pair finder re-derives cheaply; the
    // blocking-comparison gate (which is graded alongside 3 other
    // blockers in one plan) passes true.
    val sigs0 = minhashSignaturesNative(docs, idCol, textCol, numHashes)
    val sigs =
      if (stageSigs)
        graft.io.Scratch.stage(sigs0, "minhash_sigs")
      else sigs0
    val banded = minhashBandedFromSigs(sigs, numHashes, bands)
    // the banded explode itself is NOT staged (the ngramJaccardPairs
    // A/B finding): re-deriving the cheap slice+xxhash64 banding on
    // both self-join sides beats writing the exploded table out
    val pruned = banded
      .withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket")))
      .filter(col("bucket_n") <= maxBucketSize)
    val a = pruned.select(col("band"), col("bucket"),
      col("id").as("doc_a"), col("sig").as("sig_a"))
    val b = pruned.select(col("band"), col("bucket"),
      col("id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), m => m)) /
          lit(numHashes.toDouble)).as("est_jaccard"))
      .distinct()
  }

  /** The banded-signature frame shared by the LSH bucket join and its
    * cap-drop report (one definition, same rationale as
    * `hammingChunked`). */
  private def minhashBanded(docs: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int): DataFrame =
    minhashBandedFromSigs(
      minhashSignaturesNative(docs, idCol, textCol, numHashes),
      numHashes, bands)

  /** The band explode over a PRE-BUILT (id, sig) signature frame —
    * split out so `minhashCandidatePairs(stageSigs = true)` can band
    * a staged signature table instead of re-hashing the corpus per
    * self-join side. */
  private def minhashBandedFromSigs(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(
      col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_",
          slice(col("sig"), b * rows + 1, lit(rows))
            .cast("array<string>")))))
        .as(Seq("band", "bucket")))
  }

  /** CAP-DROP OBSERVABILITY for MinHash-LSH: the band buckets
    * `minhashCandidatePairs` silently drops at the same
    * `maxBucketSize` (see `hammingBandCapReport` for why this report
    * exists). */
  def minhashBandCapReport(docs: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    minhashBanded(docs, idCol, textCol, numHashes, bands)
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(col("band"), col("bucket"), col("bucket_n"),
        expr("bucket_n * (bucket_n - 1) DIV 2").as("pairs_suppressed"))
  }

  /** SimHash near-dup candidate pairs: band the 64-bit sketch into four
    * 16-bit chunks; docs sharing ANY chunk are candidates, verified with
    * the true hamming distance via bit_count(xor). One bucket join, no
    * O(n²).
    *
    * RECALL BOUND: 4 chunks guarantee every pair within hamming ≤ 3
    * (pigeonhole — 4 differing bits can hit all 4 chunks). The default
    * maxHamming matches that guarantee; passing a larger threshold
    * widens the verification filter but pairs beyond distance 3 are
    * found only best-effort (when their differing bits cluster into ≤3
    * chunks). More chunks/tables raise the guarantee.
    *
    * `maxBucketSize` drops degenerate chunk buckets — short/empty docs
    * whose tokens all hash a chunk region to the same value would
    * otherwise make the chunk self-join quadratic at scale (the same
    * skew guard as `minhashCandidatePairs`). */
  def simhashCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame =
    simhashBandCandidates(docs, idCol, textCol, maxBucketSize)
      .filter(col("hamming") <= maxHamming)

  /** The raw chunk-sharing candidate stage of `simhashCandidatePairs`
    * — the blocking GEOMETRY before the hamming verification, exposed
    * so `blockingQuality` can grade SimHash banding against the same
    * truth as the other blockers (the minhash `CandidatePairs`
    * precedent). Carries the true hamming distance per pair. */
  def simhashBandCandidates(docs: DataFrame, idCol: String,
      textCol: String, maxBucketSize: Int = 1000,
      stageSigs: Boolean = false): DataFrame = {
    // `stageSigs` (r18): stage the PER-DOC (id, sh) sketch — one long
    // per doc, far narrower than the r17-rejected staging of the
    // pruned 4-rows-per-doc chunk table — so the chunk self-join's
    // sides scan the staged sketch instead of tokenizing + simhashing
    // the corpus twice. Default off (single-use callers re-derive
    // cheaply); the blocking-comparison gate passes true.
    val sk = docs.select(col(idCol).as("id"),
      simhash(TextOps.tokens(lower(col(textCol)))).as("sh"))
    val src =
      if (stageSigs)
        graft.io.Scratch.stage(sk, "simhash_sigs")
      else sk
    hammingBandCandidates(src, "id", "sh", maxBucketSize)
  }

  /** The 4×16-bit chunk explode shared by the band joins and the
    * cap-drop report (one definition — the report observes EXACTLY
    * the buckets the join prunes). `key` is an extra blocking column,
    * carried as `by` (none for the text and image callers). */
  private def hammingChunked(hashed: DataFrame, idCol: String,
      hashCol: String, key: Option[String] = None): DataFrame = {
    val by = key.map(_ => col("by")).toSeq
    hashed.select(key.map(k => col(k).as("by")).toSeq ++
        Seq(col(idCol).as("id"), col(hashCol).as("sh")): _*)
      .select(by ++ Seq(col("id"), col("sh"),
        posexplode(array((0 until 4).map { i =>
          shiftrightunsigned(col("sh"), 16 * i).bitwiseAND(0xFFFFL)
        }: _*)).as(Seq("chunk_idx", "chunk"))): _*)
  }

  /** CAP-DROP OBSERVABILITY for the Hamming banding family: the
    * buckets `hammingBandCandidates` SILENTLY drops at the same
    * `maxBucketSize`, with the id count and the upper bound on
    * suppressed candidate pairs. On a skewed real corpus the cap
    * trades recall for a quadratic-blowup guard — this report is the
    * signal that the trade happened and how much it cost ("no silent
    * caps": log what was dropped). Integer-only output so the gate
    * oracle compares exactly; aggregate-sized (≤ one row per dropped
    * bucket), so a pipeline can log it every run. */
  def hammingBandCapReport(hashed: DataFrame, idCol: String,
      hashCol: String, maxBucketSize: Int = 1000): DataFrame =
    hammingChunked(hashed, idCol, hashCol)
      .groupBy("chunk_idx", "chunk")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(col("chunk_idx"), col("chunk"), col("bucket_n"),
        expr("bucket_n * (bucket_n - 1) DIV 2").as("pairs_suppressed"))

  /** The Hamming band join itself, over ANY 64-bit sketch column —
    * the banding geometry is hash-agnostic, so the same machinery
    * serves text SimHash (above) and perceptual image hashes
    * (`Multimodal.dhashBmp`): band the sketch into four 16-bit
    * chunks, bucket-join per chunk, verify candidates with the true
    * distance via codegen'd bit_count(xor). Recall bound and the
    * maxBucketSize degenerate-bucket guard as documented on
    * `simhashCandidatePairs`. */
  def hammingBandCandidates(hashed: DataFrame, idCol: String,
      hashCol: String, maxBucketSize: Int = 1000,
      stageSketch: Boolean = false): DataFrame =
    hammingBand(hashed, idCol, hashCol, None, maxBucketSize, stageSketch)

  /** Hamming band join over ALIGNED collections of 64-bit sketches —
    * the video/near-dup generalization: each id carries one sketch
    * PER position (`byCol`, e.g. sampled-frame index), and candidates
    * must share a chunk AT THE SAME position (frame 3 of clip A never
    * buckets with frame 7 of clip B — temporal alignment is part of
    * the blocking key, which also keeps buckets position-local and
    * small). Emits one row per (position, id pair) with the true
    * Hamming distance; the caller votes positions into a
    * collection-level verdict (`Multimodal.m_vhash_pairs`: pairs with
    * ≥ k matching frames). Same recall bound and bucket cap as
    * `hammingBandCandidates`. */
  def hammingBandCandidatesBy(hashed: DataFrame, idCol: String,
      hashCol: String, byCol: String,
      maxBucketSize: Int = 1000,
      stageSketch: Boolean = false): DataFrame =
    hammingBand(hashed, idCol, hashCol, Some(byCol), maxBucketSize,
      stageSketch)

  /** The one band-join body: chunk, cap each (key, chunk) bucket at
    * `maxBucketSize`, self-join within buckets, verify with the true
    * distance. Output: the `key` column, doc_a, doc_b, hamming. */
  private def hammingBand(hashed: DataFrame, idCol: String,
      hashCol: String, key: Option[String], maxBucketSize: Int,
      stageSketch: Boolean): DataFrame = {
    val bucket = key.map(_ => "by").toSeq ++ Seq("chunk_idx", "chunk")
    // `stageSketch` (r17): when the upstream sketch is EXPENSIVE per
    // row (a real image/audio decode), stage the pruned chunk table
    // once so the self-join's a/b sides don't decode twice — measured
    // a win exactly there and a LOSS for cheap sketches (SimHash:
    // the write costs more than re-tokenizing; the perceptual and
    // video pair gates pass true, the text gates keep the default)
    val pruned0 = hammingChunked(hashed, idCol, hashCol, key)
      .withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(bucket.map(col): _*)))
      .filter(col("bucket_n") <= maxBucketSize)
    val pruned =
      if (stageSketch)
        graft.io.Scratch.stage(pruned0, "hamming_banded")
      else pruned0
    val a = pruned.select(bucket.map(col) ++ Seq(
      col("id").as("doc_a"), col("sh").as("sh_a")): _*)
    val b = pruned.select(bucket.map(col) ++ Seq(
      col("id").as("doc_b"), col("sh").as("sh_b")): _*)
    a.join(b, bucket)
      .filter(col("doc_a") < col("doc_b"))
      .select(key.map(k => col("by").as(k)).toSeq ++ Seq(
        col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming")): _*)
      .distinct()
  }

  /** Edit-distance (Levenshtein ≤ k) near-dup pairs within blocks —
    * the typo-level complement of the Jaccard family (catches
    * insert/delete/substitution drift that token-set measures dilute).
    *
    * Scale shape (PassJoin's first lever): strings within edit
    * distance k differ in length by ≤ k, so each side explodes to the
    * k+1 length buckets [len−k .. len] and pairs meet on (block…,
    * bucket) — an EQUI-join keyed by length locality, never an
    * inequality nested loop. A pair within the window shares several
    * buckets; it is emitted exactly once WITHOUT a distinct: only
    * from the canonical bucket min(len_a, len_b) (both sides provably
    * emit it — the intervalOverlapJoin trick). Survivors verify with
    * the built-in codegen'd `levenshtein` (O(l²) per CANDIDATE pair
    * only; production callers bound text length upstream or compare a
    * normalized prefix). Blocks + the length window bound the
    * candidate surface the same way the LSH bucket caps do.
    * Rows with a NULL text never enter the bucket explode and are
    * silently excluded (the sketch-finder convention). */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int, blockCols: Seq[String] = Nil): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    val bc = blockCols.map(col)
    val sized = docs.select(bc :+ col(idCol).as("id") :+
        col(textCol).as("txt"): _*)
      .withColumn("len", length(col("txt")))
    def bucketed(side: String) = sized
      .select(bc :+ col("id").as(s"doc_$side") :+
        col("txt").as(s"txt_$side") :+ col("len").as(s"len_$side"): _*)
      .withColumn("__bucket", explode(sequence(
        greatest(col(s"len_$side") - maxDist, lit(0)),
        col(s"len_$side"))))
    bucketed("a").join(bucketed("b"), blockCols :+ "__bucket")
      .filter(col("doc_a") < col("doc_b"))
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .filter(col("__bucket") === least(col("len_a"), col("len_b")))
      // threshold (banded) Levenshtein: O(k·l) per candidate with
      // early exit, returns -1 above the threshold — the verify step
      // costs the band, not the full DP matrix
      .withColumn("dist",
        levenshtein(col("txt_a"), col("txt_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(bc :+ col("doc_a") :+ col("doc_b") :+ col("dist"): _*)
  }

  /** n-gram Jaccard candidate pairs within blocks: explode the gram
    * sets and equi-join on (block..., gram), so |A∩B| is a count per
    * pair and zero-overlap pairs are never materialized — the quadratic
    * per-pair array-intersect of the naive form becomes a shuffle keyed
    * by gram. |A∪B| recovers as |A|+|B|−|A∩B|.
    *
    * `maxGramDf` is the document-frequency cap: grams appearing in more
    * than `maxGramDf` documents within a block are dropped BEFORE the
    * pair join. Without it, ultra-frequent grams ("of the …") pair
    * everything with everything and dominate the shuffle at scale.
    * Jaccard is then over the df-FILTERED gram sets (sizes recomputed
    * post-filter), the standard near-dup practice. Uncapped
    * (`Int.MaxValue`, the default) keeps exact Jaccard semantics and a
    * window-free plan. */
  /** Per-doc distinct grams, sized and exploded to (block..., id, n,
    * gram) rows — the shared probe shape of the Jaccard family
    * (self-join and incremental forms). */
  private def sizedGrams(docs: DataFrame, idCol: String,
      textCol: String, bc: Seq[Column], n: Int, idName: String,
      nName: String): DataFrame =
    docs.select(bc :+ col(idCol).as(idName) :+
        tokenNgrams(TextOps.tokens(lower(col(textCol))), n)
          .as("grams"): _*)
      .withColumn(nName, size(col("grams")))
      .select(bc :+ col(idName) :+ col(nName) :+
        explode(col("grams")).as("gram"): _*)

  /** |A∩B| / (|A|+|B|−|A∩B|) rounded to 6 — the engine-portable
    * Jaccard contract every gram pair path emits. */
  private def jaccardFromCounts(inter: Column, na: Column,
      nb: Column): Column =
    round(inter / (na + nb - inter), 6)

  /** `sizedGrams` with the `maxGramDf` hot-gram cap applied (and
    * per-doc sizes recomputed over the SURVIVING grams) — the shared
    * prep of the symmetric-Jaccard and containment pair joins. */
  private def sizedGramsCapped(docs: DataFrame, idCol: String,
      textCol: String, bc: Seq[Column], blockCols: Seq[String], n: Int,
      maxGramDf: Int): DataFrame =
    if (maxGramDf == Int.MaxValue)
      sizedGrams(docs, idCol, textCol, bc, n, "doc_id", "n_grams")
    else {
      val exploded = docs.select(bc :+ col(idCol).as("doc_id") :+
          tokenNgrams(TextOps.tokens(lower(col(textCol))), n)
            .as("grams"): _*)
        .select(bc :+ col("doc_id") :+ explode(col("grams"))
          .as("gram"): _*)
      // grams are distinct per doc, so count per (block, gram) IS the
      // document frequency
      exploded
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy((blockCols :+ "gram").map(col): _*)))
        .filter(col("df") <= maxGramDf)
        .withColumn("n_grams", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy((blockCols :+ "doc_id").map(col): _*)))
        .select(bc :+ col("doc_id") :+ col("n_grams") :+
          col("gram"): _*)
    }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String] = Nil, n: Int = 3,
      maxGramDf: Int = Int.MaxValue): DataFrame =
    // NOT staged: scratch-staging the exploded gram table measured
    // SLOWER than letting both self-join sides re-tokenize (the gram
    // explode is cheap native per-row work but its output is large —
    // writing it costs more than deriving it twice; r17 A/B)
    jaccardPairsFromSized(
      sizedGramsCapped(docs, idCol, textCol, blockCols.map(col),
        blockCols, n, maxGramDf), blockCols)

  /** The pair-join tail of `ngramJaccardPairs` over a PRE-BUILT sized
    * gram table (block..., doc_id, n_grams, gram) — factored so
    * multi-blocker gates can derive the gram table ONCE and feed it to
    * the truth join, the prefix index, and the SNM verifier instead of
    * re-tokenizing the corpus per consumer. */
  private def jaccardPairsFromSized(sized: DataFrame,
      blockCols: Seq[String]): DataFrame = {
    val bc = blockCols.map(col)
    val a = sized.select(bc ++ Seq(col("gram"), col("doc_id").as("doc_a"),
      col("n_grams").as("na")): _*)
    val b = sized.select(bc ++ Seq(col("gram"), col("doc_id").as("doc_b"),
      col("n_grams").as("nb")): _*)
    a.join(b, blockCols :+ "gram")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy((blockCols ++ Seq("doc_a", "doc_b", "na", "nb"))
        .map(col): _*)
      .agg(count(lit(1)).as("inter"))
      .select(bc ++ Seq(col("doc_a"), col("doc_b"),
        jaccardFromCounts(col("inter"), col("na"), col("nb"))
          .as("jac")): _*)
  }

  /** ASYMMETRIC shingle-containment pairs: every ordered same-block
    * pair (sub, sup) with |G(sub) ∩ G(sup)| / |G(sub)| ≥ `t` — the
    * quote / boilerplate-superset detector. Jaccard misses these by
    * construction (a 50-gram doc fully inside a 5000-gram doc has
    * jac ≈ 0.01 but containment = 1.0), so near-dup suites carry both.
    *
    * Scale shape: the intersection computes ONCE per unordered pair
    * (gram equi-join keyed doc_a < doc_b, the ngramJaccardPairs
    * shuffle); both directions then emit by PROJECTION from that one
    * count — never a second join. `maxGramDf` caps boilerplate grams
    * before the pair join, same contract as the Jaccard family.
    * Threshold compares use the unrounded double (both engines divide
    * the same integers); output rounds to the 6-dp contract. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      t: Double, blockCols: Seq[String] = Nil, n: Int = 3,
      maxGramDf: Int = Int.MaxValue): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"threshold t=$t must be in (0, 1]")
    val bc = blockCols.map(col)
    val sized = sizedGramsCapped(docs, idCol, textCol, bc, blockCols,
      n, maxGramDf)
    val a = sized.select(bc ++ Seq(col("gram"),
      col("doc_id").as("doc_a"), col("n_grams").as("na")): _*)
    val b = sized.select(bc ++ Seq(col("gram"),
      col("doc_id").as("doc_b"), col("n_grams").as("nb")): _*)
    val inter = a.join(b, blockCols :+ "gram")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy((blockCols ++ Seq("doc_a", "doc_b", "na", "nb"))
        .map(col): _*)
      .agg(count(lit(1)).as("inter"))
    def oriented(sub: String, sup: String, nSub: String) =
      inter.select(bc ++ Seq(col(s"doc_$sub").as("doc_sub"),
        col(s"doc_$sup").as("doc_sup"),
        (col("inter") / col(nSub)).as("c_raw")): _*)
    oriented("a", "b", "na").unionAll(oriented("b", "a", "nb"))
      .filter(col("c_raw") >= t)
      .select(bc ++ Seq(col("doc_sub"), col("doc_sup"),
        round(col("c_raw"), 6).as("containment")): _*)
  }

  /** WEIGHTED-Jaccard pairs over token term frequencies:
    * Σ_g min(tf_a, tf_b) / Σ_g max(tf_a, tf_b) — the bag-of-words
    * near-dup measure. Set-Jaccard treats "spark spark spark query"
    * and "spark query query query" as identical ({spark, query} both
    * sides); the weighted form scores them 2/6 — repetition-heavy
    * boilerplate stops aliasing with its one-mention cousins.
    *
    * Scale shape: Σmax never materializes — it is wa + wb − Σmin
    * (totals distribute over the union), so the join only touches
    * SHARED tokens, exactly the ngramJaccardPairs equi-join shuffle
    * keyed (block, token); `maxTokenDf` caps stopword-grade tokens
    * before the pair join (per-doc totals recomputed over survivors,
    * so the measure stays a true weighted Jaccard of the capped
    * bags). Thresholding uses the raw double (same integer division
    * both engines); output rounds to the 6-dp contract. */
  def weightedJaccardPairs(docs: DataFrame, idCol: String,
      textCol: String, t: Double, blockCols: Seq[String] = Nil,
      maxTokenDf: Int = Int.MaxValue): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"threshold t=$t must be in (0, 1]")
    val bc = blockCols.map(col)
    val tfRaw = docs
      .select(bc :+ col(idCol).as("doc_id") :+
        explode(TextOps.tokens(lower(col(textCol)))).as("tok"): _*)
      .filter(col("tok") =!= "")
      .groupBy((blockCols ++ Seq("doc_id", "tok")).map(col): _*)
      .agg(count(lit(1)).as("tf"))
    val tfCapped =
      if (maxTokenDf == Int.MaxValue) tfRaw
      else tfRaw // one row per (doc, tok) ⇒ the window count IS the df
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy((blockCols :+ "tok").map(col): _*)))
        .filter(col("df") <= maxTokenDf).drop("df")
    val sized = tfCapped.withColumn("w", sum("tf").over(
      org.apache.spark.sql.expressions.Window
        .partitionBy((blockCols :+ "doc_id").map(col): _*)))
    val a = sized.select(bc ++ Seq(col("tok"),
      col("doc_id").as("doc_a"), col("tf").as("tfa"),
      col("w").as("wa")): _*)
    val b = sized.select(bc ++ Seq(col("tok"),
      col("doc_id").as("doc_b"), col("tf").as("tfb"),
      col("w").as("wb")): _*)
    a.join(b, blockCols :+ "tok")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy((blockCols ++ Seq("doc_a", "doc_b", "wa", "wb"))
        .map(col): _*)
      .agg(sum(least(col("tfa"), col("tfb"))).as("smin"))
      .withColumn("raw",
        col("smin") / (col("wa") + col("wb") - col("smin")))
      .filter(col("raw") >= t)
      .select(bc ++ Seq(col("doc_a"), col("doc_b"),
        round(col("raw"), 6).as("wjac")): _*)
  }

  /** Sorted-neighborhood (SNM) candidate pairs — the Hernández/Stolfo
    * merge/purge blocking method: sort each block on a cheap
    * normalized key (here the first 16 alphanumeric characters of the
    * lowercased text), slide a fixed window of `w` positions over the
    * sort order, and verify only pairs whose ranks fall inside one
    * window. Near-dups that agree on their opening text land on
    * adjacent ranks; the candidate surface is exactly (w−1)·n pairs —
    * LINEAR by construction, with no similarity join at all.
    *
    * This is the family's third blocking geometry (LSH buckets hash
    * the whole doc; prefix filters bound by df; SNM bounds by sort
    * adjacency) and the cheapest at 100 TB: one range-partitioned
    * sort per block plus `w−1` window leads — no gram shuffle, no
    * bucket skew. Its price is recall (a near-dup pair that differs
    * in the first words never meets), which is what
    * `blockingQuality` measures against the brute ground truth.
    *
    * Verify step: each candidate is scored with the family's word
    * 3-gram Jaccard by joining the candidate list through the
    * per-doc gram rows — candidate-driven, so the verify cost is
    * (w−1)·Σ|grams| rows, never an all-pairs product. Zero-gram or
    * zero-overlap candidates emit jac = 0 (the window proposed them;
    * the verdict is the verifier's). */
  def snmPairs(docs0: DataFrame, idCol: String, textCol: String,
      w: Int = 5, blockCols: Seq[String] = Nil, n: Int = 3): DataFrame =
    snmPairsImpl(docs0, idCol, textCol, w, blockCols, n, None)

  /** `snmPairs` with an optional PRE-BUILT sized gram table (the
    * `sizedGrams` shape over the same docs/params) for the verify
    * join — lets the blocking-comparison gates tokenize once. A
    * null-text doc yields no gram rows either way (the explode drops
    * null gram arrays), so pre-building over unfiltered docs is
    * equivalent. */
  private def snmPairsImpl(docs0: DataFrame, idCol: String,
      textCol: String, w: Int, blockCols: Seq[String], n: Int,
      gramsPre: Option[DataFrame]): DataFrame = {
    require(w >= 2, s"window w=$w must be >= 2")
    // NULL-text rows are excluded (the editDistancePairs convention) —
    // a NULL sort key would also rank differently per engine (Spark
    // windows put NULLs first, DuckDB ORDER BY defaults NULLS LAST)
    val docs = docs0.filter(col(textCol).isNotNull)
    val bc = blockCols.map(col)
    val key = substring(
      regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""), 1, 16)
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(bc: _*).orderBy(col("__k"), col("doc_id"))
    val keyed = docs.select(bc :+ col(idCol).as("doc_id") :+
      key.as("__k"): _*)
    // leads computed in a plain projection first (window expressions
    // may not sit inside a generator argument), then exploded
    val withLeads = keyed.select(bc ++ Seq(col("doc_id")) ++
      (1 until w).map(o =>
        lead(col("doc_id"), o).over(ord).as(s"__l$o")): _*)
    val leads = withLeads.select(bc ++ Seq(col("doc_id"), explode(array(
      (1 until w).map(o => struct(col(s"__l$o").as("other"),
        lit(o).as("dist"))): _*)).as("cand")): _*)
      .filter(col("cand.other").isNotNull)
      .select(bc ++ Seq(
        least(col("doc_id"), col("cand.other")).as("doc_a"),
        greatest(col("doc_id"), col("cand.other")).as("doc_b"),
        col("cand.dist").as("dist")): _*)
    // verify: candidate-driven 3-gram Jaccard (gram sets distinct per
    // doc — the sizedGrams contract), zero-gram docs score 0
    val grams = gramsPre.getOrElse(
      sizedGrams(docs, idCol, textCol, bc, n, "doc_id", "n_grams"))
    val gcnt = docs.select(bc :+ col(idCol).as("doc_id"): _*)
      .join(grams.select(bc ++ Seq(col("doc_id"),
        col("n_grams")): _*).distinct(), blockCols :+ "doc_id", "left")
      .select(bc ++ Seq(col("doc_id"),
        coalesce(col("n_grams"), lit(0)).as("n_grams")): _*)
    val shared = leads
      .join(grams.select(bc ++ Seq(col("doc_id").as("doc_a"),
        col("gram")): _*), blockCols :+ "doc_a")
      .join(grams.select(bc ++ Seq(col("doc_id").as("doc_b"),
        col("gram")): _*), blockCols ++ Seq("doc_b", "gram"))
      .groupBy((blockCols ++ Seq("doc_a", "doc_b", "dist")).map(col): _*)
      .agg(count(lit(1)).as("inter"))
    leads
      .join(shared, blockCols ++ Seq("doc_a", "doc_b", "dist"), "left")
      .join(gcnt.select(bc ++ Seq(col("doc_id").as("doc_a"),
        col("n_grams").as("na")): _*), blockCols :+ "doc_a")
      .join(gcnt.select(bc ++ Seq(col("doc_id").as("doc_b"),
        col("n_grams").as("nb")): _*), blockCols :+ "doc_b")
      .withColumn("i", coalesce(col("inter"), lit(0L)))
      .select(bc ++ Seq(col("doc_a"), col("doc_b"), col("dist"),
        when(col("na") + col("nb") - col("i") > 0,
          jaccardFromCounts(col("i"), col("na"), col("nb")))
          .otherwise(lit(0.0)).as("jac")): _*)
  }

  /** Recall/precision of a blocking method's candidate pairs against
    * the brute similarity ground truth (pairs with verified 3-gram
    * Jaccard ≥ `t` within blocks) — the evaluation every blocking
    * swap needs before it ships (the `rankMetrics` discipline applied
    * to dedup): a blocking change that silently costs recall must
    * fail a gate, not a production corpus. Counts are exact longs;
    * the two ratios are single exact divisions rounded to the 6-dp
    * contract. */
  def blockingQuality(truth: DataFrame, cand: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    // ONE derivation per side (r18): the previous distinct + join +
    // three-count form referenced each input TWICE (its own count and
    // the hit join are separate subtrees, and no exchange reuse fires
    // across them), so every blocker's full candidate generation ran
    // twice per evaluation. Union both sides with membership flags and
    // fold distinct + intersection + all three counts into ONE
    // map-side-combined groupBy: per distinct key, max(flag) records
    // which sides contain it; a single-row aggregate then derives
    // n_truth / n_cand / n_hit together. `__nside` preserves the JOIN
    // null semantics of the old form exactly: a key tuple containing a
    // NULL never matches ACROSS sides (SQL join equality), but still
    // deduplicates WITHIN its side (DISTINCT treats NULLs as equal),
    // so null-keyed rows count toward their side's total and never
    // toward n_hit.
    val anyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    val tr = truth.select(keyCols.map(col) ++ Seq(
      when(anyNull, lit("t")).otherwise(lit("")).as("__nside"),
      lit(1).as("__t"), lit(0).as("__c")): _*)
    val cd = cand.select(keyCols.map(col) ++ Seq(
      when(anyNull, lit("c")).otherwise(lit("")).as("__nside"),
      lit(0).as("__t"), lit(1).as("__c")): _*)
    tr.unionByName(cd)
      .groupBy((keyCols :+ "__nside").map(col): _*)
      .agg(max("__t").as("__t"), max("__c").as("__c"))
      .agg(
        coalesce(sum("__t"), lit(0)).cast("long").as("n_truth"),
        coalesce(sum("__c"), lit(0)).cast("long").as("n_cand"),
        coalesce(sum(col("__t") * col("__c")), lit(0)).cast("long")
          .as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        when(col("n_truth") > 0,
          round(col("n_hit") / col("n_truth"), 6)).otherwise(lit(0.0))
          .as("recall"),
        when(col("n_cand") > 0,
          round(col("n_hit") / col("n_cand"), 6)).otherwise(lit(0.0))
          .as("precision"))
  }

  /** Winnowing-fingerprint match pairs — the MOSS plagiarism-style
    * local matcher: docs sharing ≥ `minShared` winnowed fingerprint
    * HASHES (TextOps.winnowFingerprints) are emitted with the shared
    * count. Catches long shared RUNS between otherwise-different
    * docs (each shared token run of ≥ window+k−1 tokens guarantees a
    * shared fingerprint), where set-overlap measures dilute by doc
    * length.
    *
    * Scale shape: the join keys on the fingerprint hash — only
    * ≈ 2/(window+1) of positions ever enter the index, and
    * `maxHashDf` drops boilerplate fingerprints (df cap, the
    * maxGramDf contract) before the pair join. Distinct hashes per
    * doc first, so a hash repeating INSIDE both docs still counts
    * once. */
  def winnowMatchPairs(docs: DataFrame, idCol: String, textCol: String,
      minShared: Int, blockCols: Seq[String] = Nil, k: Int = 3,
      window: Int = 4, maxHashDf: Int = Int.MaxValue): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    val bc = blockCols.map(col)
    val withBlocks = docs.select(bc :+ col(idCol).as("__id") :+
      col(textCol).as("__txt"): _*)
    val fp = TextOps.winnowFingerprints(withBlocks, "__id", "__txt",
        k, window)
      .join(withBlocks.select(bc :+ col("__id").as("doc_id"): _*),
        Seq("doc_id"))
      .select(bc :+ col("doc_id") :+ col("fp_hash"): _*)
      .distinct()
    val capped =
      if (maxHashDf == Int.MaxValue) fp
      else fp.withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy((blockCols :+ "fp_hash").map(col): _*)))
        .filter(col("df") <= maxHashDf).drop("df")
    capped.select(bc ++ Seq(col("fp_hash"),
        col("doc_id").as("doc_a")): _*)
      .join(capped.select(bc ++ Seq(col("fp_hash"),
        col("doc_id").as("doc_b")): _*), blockCols :+ "fp_hash")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy((blockCols ++ Seq("doc_a", "doc_b")).map(col): _*)
      .agg(count(lit(1)).cast("int").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-doc grams in the global (document-frequency, gram) prefix
    * order, with the prefix length for threshold `t` — the shared
    * core of the AllPairs/PPJoin prefix scheme. */
  private def prefixRanked(docs: DataFrame, idCol: String,
      textCol: String, t: Double, blockCols: Seq[String],
      n: Int): DataFrame = {
    val bc = blockCols.map(col)
    val exploded = docs
      .select(bc :+ col(idCol).as("doc_id") :+
        tokenNgrams(TextOps.tokens(lower(col(textCol))), n)
          .as("grams"): _*)
      .select(bc :+ col("doc_id") :+ explode(col("grams")).as("gram"): _*)
    prefixRankedFromExploded(exploded, t, blockCols)
  }

  /** `prefixRanked` over a PRE-BUILT (block..., doc_id, gram) exploded
    * gram table (the sizedGrams rows — the extra n_grams column is
    * simply not selected), so multi-blocker gates tokenize once. */
  private def prefixRankedFromExploded(exploded0: DataFrame, t: Double,
      blockCols: Seq[String]): DataFrame = {
    val bc = blockCols.map(col)
    val exploded = exploded0.select(bc :+ col("doc_id") :+
      col("gram"): _*)
    // grams are distinct per doc → count per (block, gram) IS df
    val dfs = exploded.groupBy((blockCols :+ "gram").map(col): _*)
      .agg(count(lit(1)).as("df"))
    exploded.join(dfs, blockCols :+ "gram")
      .groupBy((blockCols :+ "doc_id").map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("df"), col("gram")))),
        s => s.getField("gram")).as("sorted_grams"))
      .withColumn("n_grams", size(col("sorted_grams")))
      .withColumn("prefix_len",
        col("n_grams") - ceil(col("n_grams") * t).cast("int") + 1)
  }

  /** Candidate pairs from a `prefixRanked` frame: docs sharing ≥1
    * PREFIX gram within a block. */
  private def candFromRanked(ranked: DataFrame,
      blockCols: Seq[String]): DataFrame = {
    val bc = blockCols.map(col)
    val prefix = ranked.select(bc :+ col("doc_id") :+
      explode(slice(col("sorted_grams"), lit(1), col("prefix_len")))
        .as("gram"): _*)
    prefix
      .select(bc ++ Seq(col("gram"), col("doc_id").as("doc_a")): _*)
      .join(prefix.select(
        bc ++ Seq(col("gram"), col("doc_id").as("doc_b")): _*),
        blockCols :+ "gram")
      .filter(col("doc_a") < col("doc_b"))
      .select(bc ++ Seq(col("doc_a"), col("doc_b")): _*)
      .distinct()
  }

  /** The prefix filter's CANDIDATE surface (pre-verification) —
    * exposed so `blockingQuality` can grade the blocking geometry
    * itself against the other blockers (SNM sort-adjacency, LSH band
    * buckets): the candidates, not the verified output, are what a
    * blocking method costs and what its recall spends. */
  def prefixFilterCandidates(docs: DataFrame, idCol: String,
      textCol: String, t: Double, blockCols: Seq[String] = Nil,
      n: Int = 3): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"threshold t=$t must be in (0, 1]")
    candFromRanked(prefixRanked(docs, idCol, textCol, t, blockCols, n),
      blockCols)
  }

  /** Threshold Jaccard pairs via PREFIX FILTERING (the AllPairs /
    * PPJoin family): every same-block pair with jac ≥ `t`, found
    * WITHOUT indexing every gram. Each doc's grams sort by a global
    * (document-frequency, gram) total order; only the first
    * |A| − ⌈t·|A|⌉ + 1 grams — the PREFIX — enter the candidate
    * equi-join. The classic completeness theorem: under any shared
    * total order, jac(A,B) ≥ t forces the prefixes to intersect, so
    * no qualifying pair is lost, while the frequent grams (which
    * generate almost all candidate pairs in the plain gram join) sort
    * to the suffix and never hit the index. Candidates then verify
    * exactly against the full sorted gram arrays — carried once per
    * candidate PAIR, not per gram.
    *
    * Scale shape: one df aggregate (map-side combined), one gram-keyed
    * prefix self-join whose fan-out is prefix-bounded (≈ (1−t)·|A| per
    * doc), and a candidate-keyed verify join. The higher the
    * threshold, the smaller the index — the inverse of `maxGramDf`,
    * which caps hot grams but still indexes everything else and
    * cannot exploit t. Threshold compares use the UNROUNDED double
    * (both engines divide the same integers); output jac rounds to
    * the 6-dp contract. */
  def ngramJaccardThresholdPairs(docs: DataFrame, idCol: String,
      textCol: String, t: Double, blockCols: Seq[String] = Nil,
      n: Int = 3): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"threshold t=$t must be in (0, 1]")
    val bc = blockCols.map(col)
    // NOT staged (r17 A/B): the ranked table's sorted_grams column is
    // an array-heavy payload — writing it once measured slower than
    // letting the three consuming subtrees re-derive it (the
    // selfBucketPairs finding)
    val ranked = prefixRanked(docs, idCol, textCol, t, blockCols, n)
    val cand = candFromRanked(ranked, blockCols)
    val ga = ranked.select(bc ++ Seq(col("doc_id").as("doc_a"),
      col("sorted_grams").as("ga"), col("n_grams").as("na")): _*)
    val gb = ranked.select(bc ++ Seq(col("doc_id").as("doc_b"),
      col("sorted_grams").as("gb"), col("n_grams").as("nb")): _*)
    cand.join(ga, blockCols :+ "doc_a").join(gb, blockCols :+ "doc_b")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("jac_raw",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac_raw") >= t)
      .select(bc ++ Seq(col("doc_a"), col("doc_b"),
        round(col("jac_raw"), 6).as("jac")): _*)
  }

  /** Exact repeated-substring spans — the ExactSubstr dedup of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): any length-`spanLen` character window occurring more
    * than once ANYWHERE in the corpus (across docs or within one)
    * marks its characters as duplicated; overlapping marked windows
    * merge into maximal islands per document. Returns one row per doc:
    * `n_spans` maximal islands, `dup_chars` characters they cover,
    * `n_chars` — the span accounting a substring-cut pass consumes
    * (integer-only output: no FP contract to pin).
    *
    * The paper builds a corpus-wide suffix array; the relational
    * equivalence is that a length-L window repeats iff its suffix-array
    * neighbor shares an L-prefix — so groupBy(window) HAVING count>1
    * finds exactly the repeated-window set, and Spark's hash aggregate
    * replaces the suffix-array sort.
    *
    * Scale shape: window extraction is a narrow posexplode at scan
    * speed; the only corpus-wide shuffle keys on the window — with
    * `hashWindows=true` (the 100 TB default) windows shuffle as 8-byte
    * xxhash64 keys, never strings, and the aggregate partial-combines
    * map-side. Island-merge is one per-doc window over the MARKED
    * offsets only (≪ corpus size). The gate runs `hashWindows=false`
    * so DuckDB replays the window equality exactly; DedupSpec pins
    * hashed == string-keyed on fixtures (the maxBucketSize-gate
    * precedent: gates prove logic, the hash is the scale lever). */
  def substringSpans(docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 25, hashWindows: Boolean = true): DataFrame = {
    val src = spanSrc(docs, idCol, textCol)
    spansFromIslands(src, dupIslands(src, spanLen, hashWindows))
  }

  /** The per-doc rollup of `substringSpans`, factored so the two
    * substring gates can share ONE staged island derivation. */
  private def spansFromIslands(src: DataFrame,
      islands: DataFrame): DataFrame = {
    val perDoc = islands
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        sum(col("e") - col("s")).cast("int").as("dup_chars"))
    src.select(col("doc_id"), col("len").cast("int").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0)).as("dup_chars"),
        col("n_chars"))
  }

  private def spanSrc(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      col(textCol).as("txt"), length(col(textCol)).as("len"))

  /** The maximal duplicated islands behind `substringSpans`/
    * `substringCut`: (doc_id, s, e) with 1-based inclusive start `s`
    * and EXCLUSIVE end `e`, non-overlapping and non-adjacent by
    * construction (adjacent runs fuse). */
  private def dupIslands(src: DataFrame, spanLen: Int,
      hashWindows: Boolean, restrictTo: Option[DataFrame] = None)
      : DataFrame = {
    require(spanLen >= 2, s"spanLen=$spanLen must be >= 2")
    val w = org.apache.spark.sql.expressions.Window
    // filter, don't clamp: sequence(1, 0) in Spark is the DESCENDING
    // [1, 0], not empty — sub-spanLen docs must not reach the explode
    val wins = src
      .filter(col("len") >= spanLen)
      .select(col("doc_id"), col("txt"),
        posexplode(sequence(lit(1), col("len") - (spanLen - 1)))
          .as(Seq("i", "p")))
      .select(col("doc_id"), col("p"),
        col("txt").substr(col("p"), lit(spanLen)).as("g"))
      .withColumn("k",
        if (hashWindows) xxhash64(col("g")) else col("g"))
      .select("doc_id", "p", "k")
    val dupKeys = wins.groupBy("k").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("k")
    val markedAll = wins.join(dupKeys, Seq("k")).select("doc_id", "p")
    // incremental form: dup detection sees everything, but only the
    // restricted docs (the new batch) pay the island window
    val marked = restrictTo.fold(markedAll)(ids =>
      markedAll.join(ids.select("doc_id"), Seq("doc_id"), "left_semi"))
    val perDoc = w.partitionBy("doc_id").orderBy("p")
    marked
      .withColumn("prev_end", max(col("p") + spanLen).over(
        perDoc.rowsBetween(w.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("p") > coalesce(col("prev_end"), lit(-1)), 1)
          .otherwise(0))
      .withColumn("island", sum("brk").over(perDoc))
      .groupBy("doc_id", "island")
      .agg(min(col("p")).cast("int").as("s"),
        (max(col("p")) + spanLen).cast("int").as("e"))
  }

  /** INCREMENTAL ExactSubstr spans — the nightly-batch form: windows
    * of `batch` docs are marked duplicated if they repeat anywhere in
    * batch ∪ corpus, but only BATCH docs pay the island window and
    * appear in the output (the incrementalNearDups cost contract:
    * per-cycle work tracks the delta plus one corpus window-key
    * aggregate; at scale the corpus window-key set is the stored
    * artifact a nightly job joins against instead of re-deriving). */
  def incrementalSubstringSpans(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, spanLen: Int = 25,
      hashWindows: Boolean = true): DataFrame = {
    val bSrc = spanSrc(batch, idCol, textCol)
    val union = bSrc.unionByName(spanSrc(corpus, idCol, textCol))
    spansFromIslands(bSrc,
      dupIslands(union, spanLen, hashWindows,
        restrictTo = Some(bSrc.select("doc_id"))))
  }

  /** APPLY the ExactSubstr cut: every duplicated island's characters
    * are removed and the remainder re-concatenates in order — the
    * rewrite pass Lee et al. run after span detection (every repeated
    * occurrence is cut; a canonical-copy policy would instead exempt
    * one doc per span cluster). Returns (doc_id, clean_text, n_cut,
    * n_chars) for every input doc.
    *
    * The reconstruction is ONE fold over the doc's sorted island
    * array (substr-outside-islands concatenation) — per-row after a
    * collect_list of its own islands, so the rewrite runs at scan
    * speed and the only shuffles are the span-detection ones. */
  def substringCut(docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 25, hashWindows: Boolean = true): DataFrame = {
    val src = spanSrc(docs, idCol, textCol)
    cutFromIslands(src, dupIslands(src, spanLen, hashWindows))
  }

  /** The rewrite of `substringCut`, factored for the shared staged
    * island derivation (see `spansFromIslands`). */
  private def cutFromIslands(src: DataFrame,
      islands: DataFrame): DataFrame = {
    val arr = islands
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("s"), col("e"))))
        .as("isl"))
    src.join(arr, Seq("doc_id"), "left")
      .withColumn("isl", coalesce(col("isl"),
        array().cast("array<struct<s:int,e:int>>")))
      .withColumn("clean_text", aggregate(col("isl"),
        struct(lit(1).as("pos"), lit("").as("txt")),
        (a, i) => struct(i.getField("e").as("pos"),
          concat(a.getField("txt"),
            col("txt").substr(a.getField("pos"),
              i.getField("s") - a.getField("pos"))).as("txt")),
        a => concat(a.getField("txt"),
          col("txt").substr(a.getField("pos"),
            col("len") - a.getField("pos") + 1))))
      .select(col("doc_id"), col("clean_text"),
        (col("len") - length(col("clean_text"))).cast("int").as("n_cut"),
        col("len").cast("int").as("n_chars"))
  }

  /** Incremental near-dup probe: a NEW batch against the EXISTING
    * corpus — the nightly-ingest shape. The gram equi-join pairs batch
    * rows with corpus rows only (batch × corpus, never corpus ×
    * corpus), so each cycle's cost tracks the delta exactly like the
    * Bloom incremental path does for exact keys. Returns the best
    * existing match per new doc (max Jaccard, ties to the smallest
    * existing id) for new docs sharing ≥1 gram with the corpus.
    *
    * `maxGramDf` caps CORPUS-side document frequency, same contract as
    * `ngramJaccardPairs`: a gram in > maxGramDf corpus docs (boilerplate
    * headers, "of the …") would pair every new doc carrying it with
    * every one of those corpus docs — one hot gram turns the delta-cost
    * join into batch × corpus. The ban list is built by ONE linear
    * aggregate over the corpus grams (map-side combined, O(corpus) but
    * never quadratic), is hot-grams-only so it broadcasts, and strips
    * both sides before the join; Jaccard is then over the df-filtered
    * gram sets (sizes recomputed post-filter), as in the self-join
    * form. */
  def incrementalNearDups(newDocs: DataFrame, oldDocs: DataFrame,
      idCol: String, textCol: String, blockCols: Seq[String] = Nil,
      n: Int = 3, maxGramDf: Int = Int.MaxValue): DataFrame = {
    val bc = blockCols.map(col)
    val a0 = sizedGrams(newDocs, idCol, textCol, bc, n, "new_id", "na")
    val b0 = sizedGrams(oldDocs, idCol, textCol, bc, n, "old_id", "nb")
    val (a, b) =
      if (maxGramDf == Int.MaxValue) (a0, b0)
      else {
        // grams are distinct per doc, so count per (block, gram) IS df
        val gramKey = (blockCols :+ "gram").map(col)
        val hot = b0.groupBy(gramKey: _*)
          .agg(count(lit(1)).as("df")).filter(col("df") > maxGramDf)
          .select(gramKey: _*)
        def strip(df: DataFrame, idName: String, nName: String) =
          df.join(broadcast(hot), blockCols :+ "gram", "left_anti")
            .withColumn(nName, count(lit(1)).over(
              org.apache.spark.sql.expressions.Window
                .partitionBy((blockCols :+ idName).map(col): _*)))
        (strip(a0, "new_id", "na"), strip(b0, "old_id", "nb"))
      }
    val pairs = a.join(b, blockCols :+ "gram")
      .groupBy((blockCols ++ Seq("new_id", "old_id", "na", "nb"))
        .map(col): _*)
      .agg(count(lit(1)).as("inter"))
      .select(bc ++ Seq(col("new_id"), col("old_id"),
        jaccardFromCounts(col("inter"), col("na"), col("nb"))
          .as("jac")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("new_id").orderBy(col("jac").desc, col("old_id").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(bc ++ Seq(col("new_id"), col("old_id"), col("jac")): _*)
  }

  /** Embedding-cosine near-dup dedup: hyperplane-LSH bucket SELF-join
    * (no broadcast side — both sides are the full corpus, so this is
    * the all-pairs-capable shape, unlike lshTopK's broadcast-query
    * form), exact-cosine verification, pairs with cosine ≥ `minCos`
    * collapsed to (keep = smaller id, dup = larger). The embedding twin
    * of fingerprint dedup. */
  def embeddingNearDups(embeddings: DataFrame, minCos: Double = 0.95,
      tables: Int = 8, bits: Int = 4, dim: Int = 64): DataFrame =
    graft.sim.Similarity.selfBucketPairs(embeddings, tables, bits, dim)
      .filter(col("cos_sim") >= minCos)
      .select(col("id_a").as("keep_id"), col("id_b").as("dup_id"),
        round(col("cos_sim"), 6).as("cos_sim"))

  /** Connected components over a candidate-pair edge list — the
    * cluster-resolution step every near-dup pipeline needs after pair
    * finding: pairs (A,B),(B,C) must collapse to ONE cluster {A,B,C}
    * with one canonical survivor, not two independent pairs.
    *
    * Algorithm: min-label propagation with pointer jumping. Every node
    * starts as its own label; each round a node adopts the smallest
    * label among itself and its neighbors (propagation), then replaces
    * that label with the label's OWN current label (pointer jumping —
    * path compression, the hash-to-min idea). Propagation alone needs
    * O(diameter) rounds; jumping halves remaining path lengths each
    * round, so convergence is O(log diameter) — the difference between
    * 6 rounds and 50 on a chainy overlap graph. Per-round work is two
    * keyed joins + one min-aggregate, all shuffled on node id.
    *
    * Iteration mechanics — the two classic iterative-DataFrame traps,
    * both load-bearing:
    *  - LINEAGE TRUNCATION: each round's frame is rebuilt from its RDD
    *    (`createDataFrame(df.rdd, schema)`). Without this the round-N
    *    logical plan references round N-1 twice (next + convergence
    *    check), so plan size and analysis time grow exponentially —
    *    measured 346 s for 20 rounds at sf0.1, almost all of it in the
    *    analyzer, vs seconds with truncation.
    *  - CACHING: labels persist(MEMORY_AND_DISK) per round; the
    *    convergence count materializes the new round, then the
    *    previous round is unpersisted. The edge list persists once for
    *    the loop's lifetime.
    * The result is nodes left-joined to the loop's final state —
    * isolated nodes re-attach as their own cluster without ever
    * entering the loop — staged through `io.Scratch.stage`; every
    * cache is released before return, also when a guard fails.
    * On a multi-executor cluster, recovery of an evicted round walks
    * the truncated-RDD chain — pass `checkpointEvery = Some(n)` to cut
    * that chain with a reliable `checkpoint()` every n rounds (the
    * session's checkpoint dir must be set; on a real cluster that is
    * HDFS/S3, so an executor loss replays at most n-1 rounds instead
    * of the whole loop). At the bounded round counts local runs
    * converge in, the cache suffices (None). Throws if `maxIter`
    * rounds don't converge — a silent partial clustering would
    * under-deduplicate. */
  def connectedComponents(nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20,
      checkpointEvery: Option[Int] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = nodes.sparkSession
    checkpointEvery.foreach { n =>
      require(n > 0, s"checkpointEvery must be > 0: $n")
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "checkpointEvery requires sparkContext.setCheckpointDir " +
          "(reliable checkpoints need a cluster-visible directory)")
    }
    val sym = graft.io.Scratch.truncate(
        edges.select(col(aCol).as("src"), col(bCol).as("dst"))
          .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
          .distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    // only nodes with ≥1 candidate edge enter the loop: an isolated
    // node is trivially its own cluster and is re-attached at the end
    // with one left join. At corpus scale the candidate-touched set is
    // a small fraction of all documents, so the per-round joins are
    // sized by the duplicate surface, not the corpus.
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prev = labels
    try {
      // convergence metric: exact decimal sum of labels. Labels only
      // ever DECREASE (min-propagation with label(x) ≤ x), so the sum
      // strictly decreases iff any row changed — one cheap aggregation
      // per round instead of a next⋈prev comparison join, and it still
      // materializes `next` so the previous round can be released.
      // CONVERGENCE CHECK EVERY 2nd ROUND — TRIED AND REVERTED (r18):
      // checking sum(k) vs sum(k−2) every other round (idempotent
      // extra rounds, exact maxIter boundary re-check) MEASURED
      // SLOWER, not faster: per-gate job count went UP (d_dup_clusters
      // 55 → 61 jobs) and the isolated median-of-5 A/B regressed ~25%
      // (d_dup_clusters 2.96 → 3.71 s, d_cluster_keep_best 3.73 →
      // 4.65 s). Cause: `truncate` (.rdd) eagerly materializes each
      // round's AQE stages regardless, so the per-round labelSum on
      // the already-cached frame is nearly free — while an
      // UNMATERIALIZED intermediate round is referenced three times by
      // the next round's plan (prop, union, jump lookup) and its final
      // stage re-executes per reference. The per-round action is not
      // the barrier; it is what prevents triple re-execution.
      var prevSum = Dedup.labelSum(labels)
      var changed = true
      var it = 0
      while (changed && it < maxIter) {
        prev = labels
        // propagation: candidate(v) = min over {v} ∪ N(v) of label(·)
        val prop = sym.join(prev, col("src") === col("id"))
          .select(col("dst").as("id"), col("label"))
        val cand = prev.select(col("id"), col("label")).union(prop)
          .groupBy("id").agg(min("label").as("label"))
        // pointer jump: label(v) ← label(label(v)). Labels are node
        // ids with the invariant label(x) ≤ x, so the lookup only
        // improves; least+coalesce keeps the candidate when the label
        // node has no entry (never happens when labels ⊆ nodes, but
        // stays total).
        val jumped = graft.io.Scratch.truncate(cand.as("c")
            .join(prev.select(col("id").as("lid"),
              col("label").as("llabel")),
              col("c.label") === col("lid"), "left")
            .select(col("c.id").as("id"),
              least(col("c.label"),
                coalesce(col("llabel"), col("c.label"))).as("label")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // reliable checkpoint every n rounds: cuts the truncated-RDD
        // recovery chain so an executor loss replays ≤ n-1 rounds
        labels = checkpointEvery match {
          case Some(n) if (it + 1) % n == 0 =>
            val cp = jumped.checkpoint()
            jumped.unpersist()
            cp
          case _ => jumped
        }
        val nextSum = Dedup.labelSum(labels)
        changed = nextSum.compareTo(prevSum) != 0
        prevSum = nextSum
        prev.unpersist()
        it += 1
      }
      require(!changed,
        s"connectedComponents: not converged after $maxIter rounds " +
          "(raise maxIter; with pointer jumping this bounds component " +
          "sizes near 2^maxIter)")
      ccRuns.incrementAndGet()
      graft.io.Scratch.stage(nodes.select(col(idCol).as("id"))
          .join(labels, Seq("id"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("label")),
        "connected_components")
    } finally {
      sym.unpersist(); prev.unpersist(); labels.unpersist()
    }
  }

  /** Counts CC loop executions — the label-propagation rounds run
    * EAGERLY inside the call (each round's convergence sum is an
    * action), so one call = one CC execution. CorpusBuildSpec asserts
    * the curation DAG pays exactly one per batch. */
  private[graft] val ccRuns =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Exact decimal sum of the `label` column — the CC convergence
    * metric. Empty input sums to 0; a NULL sum on non-empty input is
    * decimal(38,0) OVERFLOW and must fail loudly: silently coalescing
    * it to 0 would let two overflowed rounds in a row compare equal
    * and report a convergence that never happened. (Overflow needs a
    * label sum > 10^38 — ~10^19 max-long ids — so this is a guard, not
    * an expected path.) */
  private[dedup] def labelSum(
      df: org.apache.spark.sql.DataFrame): java.math.BigDecimal = {
    val r = df.agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("label").cast("decimal(38,0)")).as("s"))
      .head
    if (r.getLong(0) == 0L) java.math.BigDecimal.ZERO
    else {
      require(r.getDecimal(1) != null,
        "connectedComponents: label sum overflowed decimal(38,0) — " +
          "convergence cannot be decided by sum; reduce id magnitude " +
          "or densify ids first")
      r.getDecimal(1)
    }
  }

  /** End-to-end duplicate-cluster resolution: candidate pairs →
    * connected components → per-document (cluster_id, is_canonical)
    * with the cluster minimum as the deterministic survivor. Feed it
    * pairs from any finder (minhashCandidatePairs, ngramJaccardPairs,
    * embeddingNearDups) — the output is the keep/drop verdict a
    * training-data dedup actually applies. */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20,
      checkpointEvery: Option[Int] = None): DataFrame =
    connectedComponents(docs, idCol, pairs, aCol, bCol, maxIter,
      checkpointEvery)
      .select(col("id").as(idCol), col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_canonical"))

  /** `dupClusters`, staged to the warehouse: run CC once, write the
    * cluster table to `path` (crash-safe staged overwrite), and hand
    * back the READ-BACK frame. Every downstream consumer
    * (keep-best, survivor joins, audits) then scans one small parquet
    * table instead of dragging the propagation subtree through its
    * plan — the shape a production curation DAG wants: however many
    * times the night's jobs consume the clustering, components are
    * computed exactly once, and a mid-DAG crash resumes from the
    * staged table. */
  def dupClustersStaged(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String, path: String,
      maxIter: Int = 20,
      checkpointEvery: Option[Int] = None): DataFrame = {
    val clusters = dupClusters(docs, idCol, pairs, aCol, bCol, maxIter,
      checkpointEvery)
    graft.io.Writers.overwriteStaged(clusters, path)
    docs.sparkSession.read.schema(clusters.schema).parquet(path)
  }

  // ---- gate queries ----

  /** Exact dedup: hash-groupBy on the raw text digest, keep the lowest
    * doc_id (deterministic representative). */
  private def dExact(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Near-exact dedup on the normalized fingerprint
    * (case/whitespace/punctuation-insensitive). */
  private def dFingerprint(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy(TextOps.fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures per document (the LSH input; engine-specific
    * hashing → rows-only check + ScalaTest goldens). */
  private def dMinhashSig(s: SparkSession, d: String): DataFrame =
    minhashSignaturesNative(t(s, d, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"),
        concat_ws(",", col("sig").cast("array<string>")).as("signature"))

  /** SimHash sketch per document (rows-only + ScalaTest). */
  private def dSimhash(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id"),
      simhash(TextOps.tokens(lower(col("text")))).as("simhash"))

  /** MinHash-LSH candidate-pair gate: the real banded bucket join at
    * 16 hashes × 4 bands. CONDITIONED oracle: the hash space is
    * engine-specific, so DuckDB re-derives the pair set from the
    * d_minhash_signature dump — band keys are the signature slices
    * themselves (bucket-hash equality ⇔ slice equality; an xxhash64
    * collision could only ADD engine pairs, which would row-count
    * mismatch) and est_jaccard is recomputed from the dumped
    * signatures. Banding, the bucket self-join, pair dedup, and the
    * estimate all verify independently of the dump; the MinHash
    * hashing itself is pinned by MinHashSigSpec goldens. */
  private def dMinhashLshPairs(s: SparkSession, d: String): DataFrame =
    // maxBucketSize disabled IN THE GATE ONLY: the oracle re-derives the
    // pair set from the signature dump unpruned, so a driver-regenerated
    // testdata shape with one hot band bucket must not become an opaque
    // ROWCOUNT mismatch. The gate proves band/bucket/pair logic; the
    // skew guard itself is DedupSpec's job.
    minhashCandidatePairs(t(s, d, "documents"), "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = Int.MaxValue)
      .select(col("doc_a"), col("doc_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"))

  /** SimHash pair gate at the hamming ≤ 3 pigeonhole guarantee.
    * Conditioned on the d_simhash dump but TOTAL over pairs: DuckDB
    * brute-forces ALL n² dumped sketches with bit_count(xor) ≤ 3, so
    * the compare proves completeness (every qualifying pair shares a
    * 16-bit chunk and survives the bucket join) — a missed pair
    * row-count mismatches, not just the pairs the engine emitted. */
  private def dSimhashPairs(s: SparkSession, d: String): DataFrame =
    // maxBucketSize disabled in the gate (oracle is brute n² over the
    // dump — see dMinhashLshPairs note); skew guard covered in DedupSpec.
    simhashCandidatePairs(t(s, d, "documents"), "doc_id", "text",
      maxBucketSize = Int.MaxValue)

  /** Band-cap observability gate: the over-cap bucket report for the
    * SAME sketch space d_simhash dumps, at a LOW cap (10) so the
    * fixture corpus actually trips it — the gate pins the REPORT
    * mechanics (bucket counts, suppressed-pair bound), not the
    * production cap (1000, at which this corpus drops nothing).
    * CONDITIONED oracle: DuckDB re-chunks the dumped 64-bit sketches
    * ((sh >> 16·i) & 0xFFFF — mask-identical under arithmetic or
    * logical shift) and re-aggregates, so the banding geometry the
    * candidates join prunes on is verified bucket-for-bucket. */
  private def dBandCapReport(s: SparkSession, d: String): DataFrame =
    hammingBandCapReport(
      t(s, d, "documents").select(col("doc_id"),
        simhash(TextOps.tokens(lower(col("text")))).as("simhash")),
      "doc_id", "simhash", maxBucketSize = 10)

  /** Edit-distance pair gate: Levenshtein ≤ 12 over the 64-char
    * normalized prefix (bounding the per-candidate band to k×64 —
    * blind within-block verification is the exactness gate; a
    * production near-dup pipeline feeds this verifier SKETCH
    * candidates from the minhash/simhash finders instead of whole
    * blocks), blocked by (lang, source). FULL oracle: DuckDB
    * brute-forces every within-block pair with the same prefix +
    * length-window semantics — a pair the bucketed join missed
    * row-count-mismatches. */
  private def dEditPairs(s: SparkSession, d: String): DataFrame =
    editDistancePairs(
      t(s, d, "documents").select(col("doc_id"), col("lang"),
        col("source"), substring(col("text"), 1, 64).as("text")),
      "doc_id", "text", maxDist = 12, blockCols = Seq("lang", "source"))

  /** n-gram Jaccard near-dup scoring, blocked by (lang, source) — the
    * top OVERLAPPING pair per block. DuckDB-expressible → full oracle.
    * Gate query runs `ngramJaccardPairs` uncapped (exact Jaccard); the
    * df-cap path is exercised in DedupSpec with a stopword-heavy
    * corpus. (Native n-gram construction — one JVM loop per row, no
    * shuffles; a UnaryExpression child is evaluated once per row, so
    * the token split cannot be re-evaluated per element the way HOF
    * lambdas are.) */
  private def dNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
      blockCols = Seq("lang", "source"), n = 3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "source")
      .orderBy(col("jac").desc, col("doc_a").asc, col("doc_b").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("lang", "source", "doc_a", "doc_b", "jac")
  }

  /** Prefix-filter gate: ALL pairs with jac ≥ 0.3 within (lang,
    * source) blocks via the AllPairs index — the oracle recomputes the
    * complete threshold pair set from the raw gram sets, so a pair the
    * prefix index missed row-count-mismatches (completeness), and any
    * extra pair fails the hash (verification exactness). */
  private def dNgramJaccardPrefix(s: SparkSession, d: String): DataFrame =
    ngramJaccardThresholdPairs(t(s, d, "documents"), "doc_id", "text",
      t = 0.3, blockCols = Seq("lang", "source"), n = 3)

  /** Duplicate-cluster resolution gate: overlap pairs (any shared
    * 3-gram within a (lang, source) block — deterministic in both
    * engines, no float threshold) → connected components → canonical
    * survivors. Oracled with a recursive CTE: label l reaches node n
    * iff a path exists, so min(reachable) = the component minimum —
    * exactly the propagation fixpoint. */
  private def dDupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val pairs = ngramJaccardPairs(docs, "doc_id", "text",
      blockCols = Seq("lang", "source"), n = 3)
    dupClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup pairs over the embeddings table,
    * FULL-oracle: DuckDB's all-pairs cosine join is the ground truth.
    * minCos 0.3: the synthetic gaussian embeddings have no planted
    * near-dups (max pairwise cosine ≈ 0.51), so the gate runs the
    * production shape at a threshold the data can meet. Gate params
    * 32 tables × 2 bits: a threshold pair (cos = 0.3 ⇒ per-table
    * collision ≈ 0.36) misses all 32 tables with p ≈ 8e-7, so recall
    * on the fixed gate data is exactly 1.0 and the oracle can demand
    * the complete pair set — while the engine still runs the bucketed
    * self-join, never all-pairs. Production-default recall is
    * asserted in DedupSpec.
    *
    * The gate runs a bounded corpus slice (vec_id < 1000 — the whole
    * table at the sf0.01 correctness gate): at a 0.3 threshold the
    * pair surface grows quadratically with corpus size and the
    * recall-saturating 2-bit tables grow bucket occupancy linearly,
    * so an unbounded slice would make the sf0.1 BENCH run this one
    * gate in O(corpus²/4) — ~100M scored pairs. Production near-dup
    * thresholds (≥0.9) keep 4+-bit tables selective instead. */
  private def dEmbedNearDup(s: SparkSession, d: String): DataFrame =
    embeddingNearDups(
      t(s, d, "embeddings").filter(col("vec_id") < 1000),
      minCos = 0.3, tables = 32, bits = 2)

  /** Keep-best resolution: within each duplicate cluster keep the
    * HIGHEST-quality member (ties to the lowest doc_id), not the
    * smallest id — the policy an actual corpus build applies, where
    * near-dup copies differ in boilerplate/truncation and you keep the
    * cleanest one. One quality scan + one cluster-keyed window on top
    * of `dupClusters`. */
  def keepBest(docs: DataFrame, idCol: String, clusters: DataFrame,
      scoreCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("quality").desc, col(idCol).asc)
    clusters
      .join(docs.select(col(idCol), scoreCol.as("quality")), Seq(idCol))
      .withColumn("rn", row_number().over(w))
      .select(col(idCol), col("cluster_id"), col("quality"),
        (col("rn") === 1).as("keep"))
  }

  /** Keep-best gate: the d_dup_clusters graph resolved by quality. */
  private def dClusterKeepBest(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val pairs = ngramJaccardPairs(docs, "doc_id", "text",
      blockCols = Seq("lang", "source"), n = 3)
    keepBest(docs, "doc_id",
      dupClusters(docs, "doc_id", pairs, "doc_a", "doc_b"),
      TextOps.qualityScore(col("text")))
  }

  /** Incremental near-dup gate: docs ≥ 400 are "tonight's batch",
    * docs < 400 the loaded corpus. */
  private def dIncrNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    incrementalNearDups(docs.filter(col("doc_id") >= 400),
      docs.filter(col("doc_id") < 400), "doc_id", "text",
      blockCols = Seq("lang", "source"))
  }

  /** Island derivation staged ONCE per (process, sf dir) — the
    * span-detection shuffles (window aggregate + dup-key join) are
    * the dominant cost of BOTH substring gates and are identical
    * between them, so they share one staged derivation (the
    * pqIndexStaged shape). Safe because both consumers' oracles
    * re-derive EVERYTHING from raw documents: a stale or corrupt
    * staged table hash-mismatches immediately. */
  private def islandsStaged(s: SparkSession, d: String): DataFrame =
    graft.io.Scratch.stagedOnce(s, "substr_islands", d)(
      dupIslands(spanSrc(t(s, d, "documents"), "doc_id", "text"),
        spanLen = 25, hashWindows = false))

  /** Repeated-substring span accounting over the documents corpus —
    * string-keyed so the oracle replays window equality exactly
    * (`hashWindows=true` is the scale path, DedupSpec-pinned equal). */
  private def dSubstringSpans(s: SparkSession, d: String): DataFrame =
    spansFromIslands(spanSrc(t(s, d, "documents"), "doc_id", "text"),
      islandsStaged(s, d))

  /** The applied cut over the same spans — the oracle rebuilds each
    * clean text per-CHARACTER (kept positions → string_agg), a
    * deliberately different formulation from the engine's island fold,
    * so a boundary error in either cannot cancel out. */
  private def dSubstringCut(s: SparkSession, d: String): DataFrame =
    cutFromIslands(spanSrc(t(s, d, "documents"), "doc_id", "text"),
      islandsStaged(s, d))

  /** Containment at t=0.05 over (lang, source) blocks — low enough
    * that the sf0.01 corpus yields both full containments (1.0) and
    * partial overlaps, so the oracle exercises the whole range. */
  private def dContainment(s: SparkSession, d: String): DataFrame =
    containmentPairs(t(s, d, "documents"), "doc_id", "text",
      t = 0.05, blockCols = Seq("lang", "source"))

  /** Weighted Jaccard at t=0.3 over (lang, source) blocks — planted
    * exact dups score 1.0, shared-vocabulary docs populate the
    * partial range; token tf (not n-grams) keeps the oracle's brute
    * bag intersection total. */
  private def dWjaccardPairs(s: SparkSession, d: String): DataFrame =
    weightedJaccardPairs(t(s, d, "documents"), "doc_id", "text",
      t = 0.3, blockCols = Seq("lang", "source"))

  /** The CAPPED production form of the weighted-Jaccard finder —
    * `maxTokenDf = 10` is below the gate corpus's max in-block token
    * df (15 at sf0.01), so the cap path genuinely fires (882 of the
    * 1022 uncapped pairs survive) and the oracle is CONDITIONED on
    * the same cap (the `d_ngram_jaccard_top` precedent). This is the
    * form a 100 TB run must use: without the df cap a stopword-grade
    * token in a million-doc block is a quadratic pair generator. */
  private def dWjaccardCapped(s: SparkSession, d: String): DataFrame =
    weightedJaccardPairs(t(s, d, "documents"), "doc_id", "text",
      t = 0.3, blockCols = Seq("lang", "source"), maxTokenDf = 10)

  /** SNM gate: window 5 (rank distance ≤ 4) over (lang, source)
    * blocks — planted near-dups share opening text, so the window
    * catches them; the jac column spans 0 (sort-adjacent strangers)
    * to ~1 (planted pairs), exercising the verifier's whole range. */
  private def dSnmPairs(s: SparkSession, d: String): DataFrame =
    snmPairs(t(s, d, "documents"), "doc_id", "text", w = 5,
      blockCols = Seq("lang", "source"))

  /** Blocking-quality gate: SNM candidates scored against the brute
    * 3-gram Jaccard ≥ 0.2 ground truth (the threshold sits where the
    * gate corpus holds both window-adjacent and window-missed truth
    * pairs, so recall is genuinely inside (0, 1) — a metric the data
    * exercises, not saturates). */
  private def dBlockingQuality(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    // gram staging tried and REVERTED here (r17 close-run A/B: the
    // gate regressed 2.04 → 2.62 s — with only TWO gram consumers the
    // staged write costs more than the cheap re-tokenization; the
    // 5-consumer dBlockingMethods keeps its staged table)
    val truth = ngramJaccardPairs(docs, "doc_id", "text",
      blockCols = Seq("lang", "source"), n = 3)
      .filter(col("jac") >= 0.2)
    val cand = snmPairs(docs, "doc_id", "text", w = 5,
      blockCols = Seq("lang", "source"))
    blockingQuality(truth, cand, Seq("lang", "source", "doc_a", "doc_b"))
  }

  /** Blocking-method comparison gate: ONE table grading every blocking
    * geometry the family ships — LSH band buckets, SimHash 16-bit
    * chunk buckets, prefix filter, SNM sort-adjacency — against the
    * same brute in-block ground truth (3-gram Jaccard ≥ 0.2), so
    * blocker selection is data, not lore. Expected shape on any
    * corpus: prefix_filter recall = 1.0 exactly (the completeness
    * theorem at t = truth threshold), LSH high recall / low precision
    * (16 hashes, 4 bands), SimHash recall governed by how far set
    * overlap and sign-sketch proximity agree (its guarantee is
    * hamming ≤ 3, not Jaccard), SNM recall strictly inside (0, 1) —
    * the price of the cheapest geometry. The truth table is
    * scratch-staged once; the method evaluations scan it. Oracle:
    * SNM + prefix replay fully in SQL; LSH candidates replay from the
    * d_minhash_signature dump via band-slice equality, SimHash
    * candidates from the d_simhash dump via chunk equality (the
    * d_minhash_lsh_pairs conditioning).
    *
    * Each method is graded as its OWN one-row query, the four run
    * concurrently (`concurrently`), and the gate returns the four
    * collected rows in method order. The former 4-way union was one
    * ~360-node plan that ran ~25 mostly 1-task jobs one after the
    * other (core busy share 0.15–0.23 at scale 0.01), and AQE
    * re-planned all of it at every stage completion. AQE also numbers
    * the whole-stage-codegen stages of a plan from one counter, in
    * the order its query stages are created, and every generated
    * class carries its `codegenStageId` in the source; the union's
    * stages finished in a different order each run, so the ids, the
    * codegen cache keys and the classes changed each run (14–64
    * compiles per warm pass, 1.2–1.8 s of compile time, while the
    * other curation gates compile nothing from their second warm pass
    * on). Small plans leave few stages to renumber, and the four run
    * side by side: on 4 vCPUs at scale 0.01 the curation benchmark's warm pass
    * fell 6.82 → 5.52 s (medians of 10 pairs) and its traced compiles
    * 49.5 → 18 per warm pass. */
  private def dBlockingMethods(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val blocks = Seq("lang", "source")
    // the corpus is TOKENIZED ONCE: a staged (block..., doc_id,
    // n_grams, gram) table feeds the brute-truth pair join, the
    // prefix-filter index, and the SNM verifier — the r16 form
    // re-derived the gram explode per consumer (3× the scan +
    // tokenize + explode). The sketch blockers (minhash, simhash)
    // hash raw text and cannot share it.
    val grams = graft.io.Scratch.stage(
      sizedGrams(docs, "doc_id", "text", blocks.map(col), 3,
        "doc_id", "n_grams"),
      "d_blocking_grams")
    val truth = graft.io.Scratch.stage(
      jaccardPairsFromSized(grams, blocks)
        .filter(col("jac") >= 0.2).select("doc_a", "doc_b"),
      "d_blocking_truth")
    val methods: Seq[(String, () => DataFrame)] = Seq(
      // the two sketch blockers stage their per-doc signature tables
      // (r18, stageSigs): inside this gate each blocker's bucket
      // self-join would otherwise hash the corpus once per side
      "minhash_lsh" -> (() => minhashCandidatePairs(docs, "doc_id",
          "text", numHashes = 16, bands = 4,
          maxBucketSize = Int.MaxValue, stageSigs = true)),
      "prefix_filter" -> (() => candFromRanked(
          prefixRankedFromExploded(grams, 0.2, blocks), blocks)),
      "simhash_bands" -> (() => simhashBandCandidates(docs, "doc_id",
          "text", maxBucketSize = Int.MaxValue, stageSigs = true)),
      "snm_w5" -> (() => snmPairsImpl(docs, "doc_id", "text", 5,
          blocks, 3, Some(grams))))
    // each branch builds its candidates (and their staging) and
    // collects its grade: a global aggregate, so exactly one row
    val graded = concurrently(s, methods.map { case (name, cand) =>
      () => {
        val q = blockingQuality(truth, cand().select("doc_a", "doc_b"),
          Seq("doc_a", "doc_b"))
          .select(lit(name).as("method"), col("n_truth"),
            col("n_cand"), col("n_hit"), col("recall"), col("precision"))
        (q.schema, q.collect())
      }
    })
    s.createDataFrame(java.util.Arrays.asList(graded.flatMap(_._2): _*),
      graded.head._1)
  }

  /** Runs each thunk on its own thread of a pool sized to the branch
    * count and returns the results in branch order. Each branch runs
    * through `SQLExecution.withThreadLocalCaptured`, so it sees the
    * caller's active session (and its SQL conf) and the caller's
    * SparkContext local properties: job group, scheduler pool and any
    * tag a harness files jobs under. If a branch fails, rethrows the
    * first failed branch's own exception (in branch order; not the
    * `CompletionException` wrapper). Either way the pool is shut down
    * and all of its threads have ended before this returns. */
  private[dedup] def concurrently[T](s: SparkSession,
      branches: Seq[() => T]): Seq[T] = {
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      branches.size, { (r: Runnable) =>
        val th = new Thread(r, "graft-concurrently")
        th.setDaemon(true)
        threads.add(th)
        th
      })
    try {
      val session = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val futures = branches.map(b => org.apache.spark.sql.execution
        .SQLExecution.withThreadLocalCaptured(session, pool)(b()))
      futures.map { f =>
        try f.join() catch {
          case e: java.util.concurrent.CompletionException
              if e.getCause != null => throw e.getCause
        }
      }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** Winnow matches at minShared=1 within (lang, source) blocks (any
    * shared fingerprint is a local-match candidate) — uncapped so the
    * oracle's brute replay is total. */
  private def dWinnowPairs(s: SparkSession, d: String): DataFrame =
    winnowMatchPairs(t(s, d, "documents"), "doc_id", "text",
      minShared = 1, blockCols = Seq("lang", "source"))

  /** Incremental spans gate: docs ≥ 400 are tonight's batch, < 400
    * the loaded corpus (the d_incr_neardup split). Served from the
    * STAGED island table: dupIslands is per-doc after the corpus-wide
    * mark join, so batch docs' islands are identical whether or not
    * the corpus docs are also islanded — DedupSpec pins
    * `incrementalSubstringSpans` == this restriction exactly, and the
    * oracle re-derives everything from raw documents (the staged
    * PQ-serving discipline: the op is the production path, the gate
    * verifies its output at scan cost). */
  private def dIncrSubstring(s: SparkSession, d: String): DataFrame = {
    val batchSrc = spanSrc(
      t(s, d, "documents").filter(col("doc_id") >= 400),
      "doc_id", "text")
    spansFromIslands(batchSrc,
      islandsStaged(s, d).filter(col("doc_id") >= 400))
  }

  val gates: Seq[Gate] = Seq(
    Gate("d_incr_substring", dIncrSubstring _, Some(
      """WITH d AS (
           SELECT doc_id, text, length(text) AS len FROM documents),
         w AS (
           SELECT doc_id, CAST(r.p AS INT) AS p,
             substr(text, CAST(r.p AS INT), 25) AS g
           FROM d, unnest(range(1, greatest(len - 23, 1))) AS r(p)),
         dup AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
         m AS (SELECT doc_id, p FROM w
           WHERE g IN (SELECT g FROM dup) AND doc_id >= 400),
         b AS (
           SELECT doc_id, p,
             CASE WHEN p > coalesce(max(p + 25) OVER (
                 PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk
           FROM m),
         isl AS (
           SELECT doc_id, p,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island
           FROM b),
         sp AS (
           SELECT doc_id, island, max(p) + 25 - min(p) AS chars
           FROM isl GROUP BY doc_id, island),
         per AS (
           SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
             CAST(sum(chars) AS INT) AS dup_chars
           FROM sp GROUP BY doc_id)
         SELECT d.doc_id, coalesce(per.n_spans, 0) AS n_spans,
           coalesce(per.dup_chars, 0) AS dup_chars,
           CAST(d.len AS INT) AS n_chars
         FROM (SELECT * FROM d WHERE doc_id >= 400) d
         LEFT JOIN per USING (doc_id)""")),
    Gate("d_snm_pairs", dSnmPairs _, Some(
      """WITH d AS (
           SELECT lang, source, doc_id,
             substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
               1, 16) AS k
           FROM documents WHERE text IS NOT NULL),
         r AS (
           SELECT lang, source, doc_id,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY k, doc_id) AS rn
           FROM d),
         cand AS (
           SELECT a.lang, a.source,
             least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b,
             CAST(b.rn - a.rn AS INT) AS dist
           FROM r a JOIN r b
             ON a.lang = b.lang AND a.source = b.source
            AND b.rn - a.rn BETWEEN 1 AND 4),
         grams AS (
           SELECT lang, source, doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, len(string_split_regex(trim(lower(text)),
                 '\s+')) - 1)),
               i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+2]))
               AS g
           FROM documents)
         SELECT c.lang, c.source, c.doc_a, c.doc_b, c.dist,
           CASE WHEN len(ga.g) + len(gb.g)
                  - len(list_intersect(ga.g, gb.g)) > 0
             THEN round(len(list_intersect(ga.g, gb.g)) * 1.0 /
               (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))), 6)
             ELSE 0.0 END AS jac
         FROM cand c
         JOIN grams ga ON ga.lang = c.lang AND ga.source = c.source
           AND ga.doc_id = c.doc_a
         JOIN grams gb ON gb.lang = c.lang AND gb.source = c.source
           AND gb.doc_id = c.doc_b""")),
    Gate("d_blocking_quality", dBlockingQuality _, Some(
      """WITH grams AS (
           SELECT lang, source, doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, len(string_split_regex(trim(lower(text)),
                 '\s+')) - 1)),
               i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+2]))
               AS g
           FROM documents),
         truth AS (
           SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM grams a JOIN grams b
             ON a.lang = b.lang AND a.source = b.source
            AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.g, b.g)) > 0
             AND round(len(list_intersect(a.g, b.g)) * 1.0 /
               (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
               >= 0.2),
         d AS (
           SELECT lang, source, doc_id,
             substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
               1, 16) AS k
           FROM documents WHERE text IS NOT NULL),
         r AS (
           SELECT lang, source, doc_id,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY k, doc_id) AS rn
           FROM d),
         cand AS (
           SELECT DISTINCT a.lang, a.source,
             least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b
           FROM r a JOIN r b
             ON a.lang = b.lang AND a.source = b.source
            AND b.rn - a.rn BETWEEN 1 AND 4),
         hit AS (
           SELECT t.lang, t.source, t.doc_a, t.doc_b
           FROM truth t JOIN cand c
             ON c.lang = t.lang AND c.source = t.source
            AND c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
         SELECT
           (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM cand) AS n_cand,
           (SELECT count(*) FROM hit) AS n_hit,
           CASE WHEN (SELECT count(*) FROM truth) > 0
             THEN round((SELECT count(*) FROM hit) * 1.0 /
               (SELECT count(*) FROM truth), 6) ELSE 0.0 END AS recall,
           CASE WHEN (SELECT count(*) FROM cand) > 0
             THEN round((SELECT count(*) FROM hit) * 1.0 /
               (SELECT count(*) FROM cand), 6) ELSE 0.0 END AS precision""")),
    Gate("d_blocking_methods", dBlockingMethods _, Some(
      """WITH grams AS (
           SELECT lang, source, doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, len(string_split_regex(trim(lower(text)),
                 '\s+')) - 1)),
               i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+2]))
               AS g
           FROM documents),
         truth AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM grams a JOIN grams b
             ON a.lang = b.lang AND a.source = b.source
            AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.g, b.g)) > 0
             AND round(len(list_intersect(a.g, b.g)) * 1.0 /
               (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
               >= 0.2),
         gx AS (
           SELECT lang, source, doc_id, unnest(g) AS gram FROM grams),
         dfs AS (
           SELECT lang, source, gram, count(*) AS df
           FROM gx GROUP BY 1, 2, 3),
         rnk AS (
           SELECT x.lang, x.source, x.doc_id, x.gram,
             row_number() OVER (PARTITION BY x.lang, x.source, x.doc_id
               ORDER BY d.df, x.gram) AS pos,
             count(*) OVER (PARTITION BY x.lang, x.source, x.doc_id)
               AS ng
           FROM gx x JOIN dfs d ON d.lang = x.lang
             AND d.source = x.source AND d.gram = x.gram),
         pref AS (
           SELECT * FROM rnk
           WHERE pos <= ng - CAST(ceil(ng * 0.2) AS INT) + 1),
         cand_prefix AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM pref a JOIN pref b
             ON a.lang = b.lang AND a.source = b.source
            AND a.gram = b.gram AND a.doc_id < b.doc_id),
         snmd AS (
           SELECT lang, source, doc_id,
             substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
               1, 16) AS k
           FROM documents WHERE text IS NOT NULL),
         snmr AS (
           SELECT lang, source, doc_id,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY k, doc_id) AS rn
           FROM snmd),
         cand_snm AS (
           SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b
           FROM snmr a JOIN snmr b
             ON a.lang = b.lang AND a.source = b.source
            AND b.rn - a.rn BETWEEN 1 AND 4),
         sig AS (
           SELECT doc_id,
             list_transform(string_split(signature, ','),
               x -> CAST(x AS BIGINT)) AS sg
           FROM parquet_scan('__OUTDIR__/d_minhash_signature/*.parquet')),
         banded AS (
           SELECT doc_id, r.b AS band,
             array_to_string(list_slice(sg, r.b*4+1, r.b*4+4), '_')
               AS bkey
           FROM sig, range(0, 4) r(b)),
         cand_lsh AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.bkey = b.bkey
            AND a.doc_id < b.doc_id),
         shc AS (
           SELECT doc_id, r.i AS ci,
             (simhash >> (16 * r.i)) & 65535 AS chunk
           FROM parquet_scan('__OUTDIR__/d_simhash/*.parquet'),
             range(0, 4) r(i)),
         cand_simhash AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM shc a JOIN shc b
             ON a.ci = b.ci AND a.chunk = b.chunk
            AND a.doc_id < b.doc_id),
         ev AS (
           SELECT 'minhash_lsh' AS method,
             (SELECT count(*) FROM truth) AS n_truth,
             (SELECT count(*) FROM cand_lsh) AS n_cand,
             (SELECT count(*) FROM truth t JOIN cand_lsh c
               ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_hit
           UNION ALL
           SELECT 'prefix_filter',
             (SELECT count(*) FROM truth),
             (SELECT count(*) FROM cand_prefix),
             (SELECT count(*) FROM truth t JOIN cand_prefix c
               ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
           UNION ALL
           SELECT 'simhash_bands',
             (SELECT count(*) FROM truth),
             (SELECT count(*) FROM cand_simhash),
             (SELECT count(*) FROM truth t JOIN cand_simhash c
               ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
           UNION ALL
           SELECT 'snm_w5',
             (SELECT count(*) FROM truth),
             (SELECT count(*) FROM cand_snm),
             (SELECT count(*) FROM truth t JOIN cand_snm c
               ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b))
         SELECT method, n_truth, n_cand, n_hit,
           CASE WHEN n_truth > 0
             THEN round(n_hit * 1.0 / n_truth, 6) ELSE 0.0 END AS recall,
           CASE WHEN n_cand > 0
             THEN round(n_hit * 1.0 / n_cand, 6) ELSE 0.0 END
             AS precision
         FROM ev""")),
    Gate("d_winnow_pairs", dWinnowPairs _, Some(
      """WITH d AS (
           SELECT doc_id, lang, source,
             string_split_regex(trim(lower(text)), '\s+') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, lang, source, CAST(r.p AS INT) AS p,
             md5(array_to_string(tk[r.p : r.p + 2], ' ')) AS h
           FROM d, unnest(range(1, len(tk) - 1)) AS r(p)
           WHERE len(tk) >= 3),
         sel AS (
           SELECT doc_id, lang, source, p,
             min(h || '|' ||
               lpad(CAST(10000000 - p AS VARCHAR), 8, '0')) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s
           FROM g),
         fp AS (
           SELECT DISTINCT doc_id, lang, source, substr(s, 1, 32) AS h
           FROM sel WHERE p >= 4)
         SELECT a.lang, a.source, a.doc_id AS doc_a,
           b.doc_id AS doc_b, CAST(count(*) AS INT) AS n_shared
         FROM fp a JOIN fp b
           ON a.lang = b.lang AND a.source = b.source
          AND a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4
         HAVING count(*) >= 1""")),
    Gate("d_containment", dContainment _, Some(
      """WITH grams AS (
           SELECT lang, source, doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, len(string_split_regex(trim(lower(text)),
                 '\s+')) - 1)),
               i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+2]))
               AS g
           FROM documents)
         SELECT a.lang, a.source, a.doc_id AS doc_sub,
           b.doc_id AS doc_sup,
           round(len(list_intersect(a.g, b.g)) * 1.0 / len(a.g), 6)
             AS containment
         FROM grams a JOIN grams b
           ON a.lang = b.lang AND a.source = b.source
          AND a.doc_id <> b.doc_id
          AND len(a.g) > 0 AND len(b.g) > 0
         WHERE len(list_intersect(a.g, b.g)) * 1.0 / len(a.g) >= 0.05""")),
    Gate("d_wjaccard_pairs", dWjaccardPairs _, Some(
      """WITH toks AS (
           SELECT lang, source, doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         tf AS (
           SELECT lang, source, doc_id, tok, count(*) AS tf
           FROM toks WHERE tok <> '' GROUP BY 1, 2, 3, 4),
         tot AS (
           SELECT lang, source, doc_id,
             CAST(sum(tf) AS BIGINT) AS w
           FROM tf GROUP BY 1, 2, 3),
         smin AS (
           SELECT a.lang, a.source, a.doc_id AS doc_a,
             b.doc_id AS doc_b,
             CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS smin
           FROM tf a JOIN tf b
             ON a.lang = b.lang AND a.source = b.source
            AND a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT s.lang, s.source, s.doc_a, s.doc_b,
           round(s.smin * 1.0 / (ta.w + tb.w - s.smin), 6) AS wjac
         FROM smin s
         JOIN tot ta ON ta.lang = s.lang AND ta.source = s.source
           AND ta.doc_id = s.doc_a
         JOIN tot tb ON tb.lang = s.lang AND tb.source = s.source
           AND tb.doc_id = s.doc_b
         WHERE s.smin * 1.0 / (ta.w + tb.w - s.smin) >= 0.3""")),
    // oracle CONDITIONED on maxTokenDf=10: the tf bag drops tokens in
    // > 10 docs of their (lang, source) block, per-doc totals are
    // recomputed over the survivors, then the same brute Σmin/Σmax
    Gate("d_wjaccard_capped", dWjaccardCapped _, Some(
      """WITH toks AS (
           SELECT lang, source, doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         tf0 AS (
           SELECT lang, source, doc_id, tok, count(*) AS tf
           FROM toks WHERE tok <> '' GROUP BY 1, 2, 3, 4),
         tf AS (
           SELECT lang, source, doc_id, tok, tf FROM (
             SELECT tf0.*, count(*) OVER (
               PARTITION BY lang, source, tok) AS df
             FROM tf0) x
           WHERE df <= 10),
         tot AS (
           SELECT lang, source, doc_id,
             CAST(sum(tf) AS BIGINT) AS w
           FROM tf GROUP BY 1, 2, 3),
         smin AS (
           SELECT a.lang, a.source, a.doc_id AS doc_a,
             b.doc_id AS doc_b,
             CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS smin
           FROM tf a JOIN tf b
             ON a.lang = b.lang AND a.source = b.source
            AND a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT s.lang, s.source, s.doc_a, s.doc_b,
           round(s.smin * 1.0 / (ta.w + tb.w - s.smin), 6) AS wjac
         FROM smin s
         JOIN tot ta ON ta.lang = s.lang AND ta.source = s.source
           AND ta.doc_id = s.doc_a
         JOIN tot tb ON tb.lang = s.lang AND tb.source = s.source
           AND tb.doc_id = s.doc_b
         WHERE s.smin * 1.0 / (ta.w + tb.w - s.smin) >= 0.3""")),
    Gate("d_substring_spans", dSubstringSpans _, Some(
      """WITH d AS (
           SELECT doc_id, text, length(text) AS len FROM documents),
         w AS (
           SELECT doc_id, CAST(r.p AS INT) AS p,
             substr(text, CAST(r.p AS INT), 25) AS g
           FROM d, unnest(range(1, greatest(len - 23, 1))) AS r(p)),
         dup AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
         m AS (SELECT doc_id, p FROM w
           WHERE g IN (SELECT g FROM dup)),
         b AS (
           SELECT doc_id, p,
             CASE WHEN p > coalesce(max(p + 25) OVER (
                 PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk
           FROM m),
         isl AS (
           SELECT doc_id, p,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island
           FROM b),
         sp AS (
           SELECT doc_id, island, max(p) + 25 - min(p) AS chars
           FROM isl GROUP BY doc_id, island),
         per AS (
           SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
             CAST(sum(chars) AS INT) AS dup_chars
           FROM sp GROUP BY doc_id)
         SELECT d.doc_id, coalesce(per.n_spans, 0) AS n_spans,
           coalesce(per.dup_chars, 0) AS dup_chars,
           CAST(d.len AS INT) AS n_chars
         FROM d LEFT JOIN per USING (doc_id)""")),
    Gate("d_substring_cut", dSubstringCut _, Some(
      """WITH d AS (
           SELECT doc_id, text, length(text) AS len FROM documents),
         w AS (
           SELECT doc_id, CAST(r.p AS INT) AS p,
             substr(text, CAST(r.p AS INT), 25) AS g
           FROM d, unnest(range(1, greatest(len - 23, 1))) AS r(p)),
         dup AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
         m AS (SELECT doc_id, p FROM w
           WHERE g IN (SELECT g FROM dup)),
         b AS (
           SELECT doc_id, p,
             CASE WHEN p > coalesce(max(p + 25) OVER (
                 PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk
           FROM m),
         isl AS (
           SELECT doc_id, p,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island
           FROM b),
         sp AS (
           SELECT doc_id, island, min(p) AS s, max(p) + 25 AS e
           FROM isl GROUP BY doc_id, island),
         cover AS (
           SELECT doc_id, CAST(r.p AS INT) AS p
           FROM sp, unnest(range(s, e)) AS r(p)),
         allpos AS (
           SELECT doc_id, CAST(r.p AS INT) AS p,
             substr(text, CAST(r.p AS INT), 1) AS ch
           FROM d, unnest(range(1, len + 1)) AS r(p)),
         kept AS (
           SELECT a.doc_id,
             string_agg(a.ch, '' ORDER BY a.p) AS clean_text
           FROM allpos a LEFT JOIN cover c
             ON a.doc_id = c.doc_id AND a.p = c.p
           WHERE c.p IS NULL
           GROUP BY a.doc_id)
         SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text,
           CAST(d.len - length(coalesce(k.clean_text, '')) AS INT)
             AS n_cut,
           CAST(d.len AS INT) AS n_chars
         FROM d LEFT JOIN kept k USING (doc_id)""")),
    Gate("d_edit_pairs", dEditPairs _, Some(
      """WITH p AS (
           SELECT doc_id, lang, source,
             substr(text, 1, 64) AS text
           FROM documents)
         SELECT a.lang, a.source, a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS dist
         FROM p a JOIN p b
           ON a.lang = b.lang AND a.source = b.source
          AND a.doc_id < b.doc_id
         WHERE abs(len(a.text) - len(b.text)) <= 12
           AND levenshtein(a.text, b.text) <= 12""")),
    Gate("d_incr_neardup", dIncrNearDup _, Some(
      """WITH grams AS (
           SELECT lang, source, doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, len(string_split_regex(trim(lower(text)),
                 '\s+')) - 1)),
               i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+2]))
               AS g
           FROM documents),
         a AS (SELECT lang, source, doc_id AS new_id, g
           FROM grams WHERE doc_id >= 400),
         b AS (SELECT lang, source, doc_id AS old_id, g
           FROM grams WHERE doc_id < 400),
         pairs AS (
           SELECT a.lang, a.source, a.new_id, b.old_id,
             round(len(list_intersect(a.g, b.g)) * 1.0 /
               len(list_distinct(list_concat(a.g, b.g))), 6) AS jac
           FROM a JOIN b
             ON a.lang = b.lang AND a.source = b.source
           WHERE len(list_intersect(a.g, b.g)) > 0)
         SELECT lang, source, new_id, old_id, jac
         FROM (SELECT *, row_number() OVER (PARTITION BY new_id
           ORDER BY jac DESC, old_id ASC) AS rn FROM pairs) x
         WHERE rn = 1""")),
    Gate("d_cluster_keep_best", dClusterKeepBest _, Some(
      """WITH RECURSIVE grams AS (
           SELECT lang, source, doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, len(string_split_regex(trim(lower(text)),
                 '\s+')) - 1)),
               i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+2]))
               AS g
           FROM documents),
         edges AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM grams a JOIN grams b
             ON a.lang = b.lang AND a.source = b.source
            AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.g, b.g)) > 0),
         sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
         reach(node, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT s.b, reach.lbl FROM reach JOIN sym s
             ON s.a = reach.node),
         cl AS (
           SELECT node AS doc_id, min(lbl) AS cluster_id
           FROM reach GROUP BY node),
         q AS (
           SELECT doc_id,
             round(least(1.0, len(tok) / 100.0) *
               (1.0 - len(list_filter(tok, x -> x IN
                 ('the','a','of','and','in','to','is'))) * 1.0 /
                 len(tok)), 4) AS quality
           FROM (SELECT doc_id,
               string_split_regex(trim(text), '\s+') AS tok
             FROM documents))
         SELECT cl.doc_id, cl.cluster_id, q.quality,
           row_number() OVER (PARTITION BY cl.cluster_id
             ORDER BY q.quality DESC, cl.doc_id ASC) = 1 AS keep
         FROM cl JOIN q USING (doc_id)""")),
    Gate("d_exact_dedup", dExact _, Some(
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
         count(*) AS n_copies
         FROM documents GROUP BY md5(text)""")),
    Gate("d_fingerprint_dedup", dFingerprint _, Some(
      """SELECT md5(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
           '\s+', ' ', 'g'))) AS fp,
         min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1""")),
    Gate("d_minhash_signature", dMinhashSig _),
    Gate("d_minhash_lsh_pairs", dMinhashLshPairs _, Some(
      """WITH sig AS (
           SELECT doc_id,
             list_transform(string_split(signature, ','),
               x -> CAST(x AS BIGINT)) AS sg
           FROM parquet_scan('__OUTDIR__/d_minhash_signature/*.parquet')),
         banded AS (
           SELECT doc_id, r.b AS band,
             array_to_string(list_slice(sg, r.b*4+1, r.b*4+4), '_')
               AS bkey
           FROM sig, range(0, 4) r(b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.bkey = b.bkey
            AND a.doc_id < b.doc_id)
         SELECT p.doc_a, p.doc_b,
           round(len(list_filter(range(1, 17),
             i -> sa.sg[i] = sb.sg[i])) / 16.0, 6) AS est_jaccard
         FROM pairs p
           JOIN sig sa ON sa.doc_id = p.doc_a
           JOIN sig sb ON sb.doc_id = p.doc_b""")),
    Gate("d_simhash", dSimhash _),
    Gate("d_simhash_pairs", dSimhashPairs _, Some(
      """WITH sh AS (
           SELECT doc_id, simhash
           FROM parquet_scan('__OUTDIR__/d_simhash/*.parquet'))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""")),
    Gate("d_band_cap_report", dBandCapReport _, Some(
      """WITH sh AS (
           SELECT doc_id, simhash
           FROM parquet_scan('__OUTDIR__/d_simhash/*.parquet')),
         ch AS (
           SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             (simhash >> (16 * CAST(i AS INT))) & 65535 AS chunk
           FROM sh, unnest([0, 1, 2, 3]) AS u(i)),
         b AS (
           SELECT chunk_idx, chunk, count(*) AS bucket_n
           FROM ch GROUP BY chunk_idx, chunk)
         SELECT chunk_idx, CAST(chunk AS BIGINT) AS chunk,
           CAST(bucket_n AS BIGINT) AS bucket_n,
           CAST(bucket_n * (bucket_n - 1) // 2 AS BIGINT)
             AS pairs_suppressed
         FROM b WHERE bucket_n > 10""")),
    Gate("d_ngram_jaccard_top", dNgramJaccard _, Some(
      """WITH grams AS (
           SELECT lang, source, doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, len(string_split_regex(trim(lower(text)),
                 '\s+')) - 1)),
               i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+2]))
               AS g
           FROM documents),
         pairs AS (
           SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(len(list_intersect(a.g, b.g)) * 1.0 /
               len(list_distinct(list_concat(a.g, b.g))), 6) AS jac
           FROM grams a JOIN grams b
             ON a.lang = b.lang AND a.source = b.source
            AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.g, b.g)) > 0)
         SELECT lang, source, doc_a, doc_b, jac
         FROM (SELECT *, row_number() OVER (PARTITION BY lang, source
           ORDER BY jac DESC, doc_a ASC, doc_b ASC) AS rn FROM pairs) x
         WHERE rn = 1""")),
    Gate("d_ngram_jaccard_prefix", dNgramJaccardPrefix _, Some(
      """WITH grams AS (
           SELECT lang, source, doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, len(string_split_regex(trim(lower(text)),
                 '\s+')) - 1)),
               i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+2]))
               AS g
           FROM documents),
         pairs AS (
           SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.g, b.g)) AS inter,
             len(a.g) AS na, len(b.g) AS nb
           FROM grams a JOIN grams b
             ON a.lang = b.lang AND a.source = b.source
            AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.g, b.g)) > 0)
         SELECT lang, source, doc_a, doc_b,
           round(inter * 1.0 / (na + nb - inter), 6) AS jac
         FROM pairs
         WHERE inter * 1.0 / (na + nb - inter) >= 0.3""")),
    Gate("d_dup_clusters", dDupClusters _, Some(
      """WITH RECURSIVE grams AS (
           SELECT lang, source, doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, len(string_split_regex(trim(lower(text)),
                 '\s+')) - 1)),
               i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), '\s+')[i+2]))
               AS g
           FROM documents),
         edges AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM grams a JOIN grams b
             ON a.lang = b.lang AND a.source = b.source
            AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.g, b.g)) > 0),
         sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
         reach(node, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT s.b, reach.lbl FROM reach JOIN sym s
             ON s.a = reach.node)
         SELECT node AS doc_id, min(lbl) AS cluster_id,
           (node = min(lbl)) AS is_canonical
         FROM reach GROUP BY node""")),
    Gate("d_embed_neardup", dEmbedNearDup _, Some(
      """WITH e AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         FROM embeddings WHERE vec_id < 1000)
         SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
           round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3""")))
}
