package graft.cli

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N× corpus synthesizer for scale soaks: unions
  * `factor` key-salted replicas of every test table so the gate suite
  * can run an order of magnitude past the largest driver fixture
  * (sf0.1 × 10 ≈ sf1: 6M lineitem, 1M events, 50k documents, 20k
  * embeddings).
  *
  * Salting is designed so the DUPLICATE/CLUSTER SURFACES stay
  * realistic — a verbatim union would hand every doc `factor−1` exact
  * clones and every embedding `factor−1` cosine-1 twins, inflating
  * every pair-finding gate quadratically (a corpus-construction
  * artifact, not a plan property). Instead:
  *  - dims (region, nation) are copied once, NOT salted — a 10×
  *    corpus has 10× facts, not 10× countries;
  *  - entity/fact keys shift by replica·10^7: keyspaces are disjoint
  *    across replicas, foreign keys stay consistent within one;
  *  - document text goes through a per-replica alphabet PERMUTATION
  *    (seeded Fisher-Yates — a Caesar rotation would cycle at factor
  *    26 and hand replicas r and r+26 identical text): byte length,
  *    token structure, and within-replica duplicate relations are
  *    preserved EXACTLY (the same substitution applies to a dup
  *    pair; n-grams map bijectively), while cross-replica n-gram /
  *    edit / winnow / containment similarity is destroyed; `source`
  *    additionally carries a replica suffix so (lang, source)-
  *    bucketed pair finders are provably within-replica;
  *  - embeddings get a per-replica cyclic DIMENSION rotation composed
  *    with a per-replica sign-flip mask (distinct transform for every
  *    replica up to factor 100 even past the rotation's period d):
  *    the coordinate multiset is unchanged up to sign, so norms and
  *    within-replica distances/cosines keep their real values (sign
  *    flips are IEEE-exact; double folds visit terms in rotated
  *    order — last-ulp only, far below the engine's round-6 grid),
  *    while cross-replica cosine decorrelates.
  * Replica 0 is the identity, so absolute-id gate slices (the
  * vec_id<10 query set, doc_id<40 word slices) keep their original
  * content and stay constant-cost by construction.
  *
  * Usage: graft.cli.ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {
  val keyStride = 10000000L // > any source key; replica keyspaces disjoint

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase

  /** Deterministic per-replica alphabet permutation (seeded
    * Fisher-Yates; replica 0 = identity). A Caesar rotation would
    * cycle at factor 26 — replicas r and r+26 would carry IDENTICAL
    * text, handing the pair finders an artificial cross-replica
    * duplicate surface. A full permutation is distinct for every
    * replica (collision odds ~factor²/26!), while keeping every
    * within-replica property a monoalphabetic substitution gives:
    * byte length, case structure, token boundaries, and a BIJECTION
    * on n-grams (within-replica Jaccard/edit/winnow relations are
    * preserved exactly). */
  def letterPerm(r: Int): String = {
    if (r == 0) return lower
    val a = lower.toCharArray
    val rng = new scala.util.Random(0x5ca1eL * 31 + r)
    var i = a.length - 1
    while (i > 0) { // Fisher-Yates, fixed seed per replica
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    new String(a)
  }

  /** Substitute letters by the replica-r permutation
    * (case-preserving, all else fixed). */
  def permuteLetters(c: Column, r: Int): Column = {
    if (r == 0) c
    else {
      val p = letterPerm(r)
      translate(c, lower + upper, p + p.toUpperCase)
    }
  }

  /** Per-replica isometry on the embedding space: cyclic dimension
    * rotation (exact up to double fold order) composed with a
    * deterministic per-replica sign-flip mask (EXACT — squares and
    * same-mask products are unchanged in IEEE). The rotation alone
    * cycles at factor d; the mask breaks that cycle, and ScaleUpSpec
    * ENUMERATES (r mod d, mask restricted to d dims) distinctness for
    * r = 0..99 against the actual corpus dimension — the guarantee is
    * dimension-DEPENDENT (e.g. at d=16 replica 48 would get rotation 0
    * with an empty flip mask, a cosine-1 twin of replica 0), so a
    * corpus dimension change must fail that spec loudly, not silently
    * reintroduce duplicate embeddings. */
  def rotateDims(e: Column, r: Int): Column = {
    if (r == 0) e
    else {
      val d = size(e)
      val k = lit(r) % d
      val rotated = concat(slice(e, k + 1, d - k), slice(e, lit(1), k))
      // flip dim i iff ((i+1)·(r+1)·1000003 mod 101) < 40 — the same
      // mask for every vector of replica r (dot products within the
      // replica pick up (−1)² per flipped term: exact isometry)
      val m = lit(((r.toLong + 1L) * 1000003L) % 101L)
      transform(rotated, (x, i) =>
        when(pmod((i + 1) * m, lit(101L)) < 40, -x).otherwise(x))
    }
  }

  private def shift(c: Column, r: Int): Column = c + lit(r * keyStride)

  /** One salted replica of one table (replica 0 = identity). */
  def replica(name: String, df: DataFrame, r: Int): DataFrame =
    name match {
      case "region" | "nation" => df // global dims do not scale
      case "customer" => df.withColumn("c_custkey", shift(col("c_custkey"), r))
      case "supplier" => df.withColumn("s_suppkey", shift(col("s_suppkey"), r))
      case "part" => df.withColumn("p_partkey", shift(col("p_partkey"), r))
      case "orders" => df
        .withColumn("o_orderkey", shift(col("o_orderkey"), r))
        .withColumn("o_custkey", shift(col("o_custkey"), r))
      case "lineitem" => df
        .withColumn("l_orderkey", shift(col("l_orderkey"), r))
        .withColumn("l_partkey", shift(col("l_partkey"), r))
        .withColumn("l_suppkey", shift(col("l_suppkey"), r))
      case "events" => df
        .withColumn("event_id", shift(col("event_id"), r))
        .withColumn("user_id", shift(col("user_id"), r))
      case "documents" => df
        .withColumn("doc_id", shift(col("doc_id"), r))
        .withColumn("text", permuteLetters(col("text"), r))
        .withColumn("source",
          if (r == 0) col("source")
          else concat(col("source"), lit(s"_r$r")))
      case "embeddings" => df
        .withColumn("vec_id", shift(col("vec_id"), r))
        .withColumn("embedding", rotateDims(col("embedding"), r))
      case other =>
        throw new IllegalArgumentException(s"no salting rule for $other")
    }

  def scaleTable(name: String, df: DataFrame, factor: Int): DataFrame =
    name match {
      case "region" | "nation" => df
      case _ => (0 until factor).map(replica(name, df, _))
        .reduce(_ unionByName _)
    }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1 && factor <= 100 && factor * keyStride > 0,
      s"bad factor $factor (embedding transform distinctness is " +
        "spec-verified only for <= 100 replicas at the corpus " +
        "dimension — see ScaleUpSpec)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.names.foreach { name =>
      val src = graft.io.Inputs.t(spark, srcDir, name)
      // emit ONE file per table, exactly the driver-testdata layout —
      // consumers treat `$dir/$name.parquet` as a plain file (the
      // streaming gates Files.copy it; the fs-catalog gates stat it),
      // so a directory here would silently empty those paths
      val stage = s"$dstDir/_stage_$name"
      scaleTable(name, src, factor)
        .coalesce(1).write.mode("overwrite")
        // 16 MB row groups: a single-file table is still SPLITTABLE at
        // read time (parquet splits on row-group boundaries — one
        // default 128 MB group would serialize the whole scan on one
        // core at sf1); pair with a ≤16 MB maxPartitionBytes reader
        // setting to actually spread the groups (Bench:
        // SPARK_GRAFT_MAX_PARTITION_BYTES)
        .option("parquet.block.size", (16 * 1024 * 1024).toString)
        .parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$dstDir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // remove the staging residue (marker files + dir)
      java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.delete(java.nio.file.Paths.get(stage))
      System.err.println(s"[scaleup] $name done")
    }
    spark.stop()
  }
}
