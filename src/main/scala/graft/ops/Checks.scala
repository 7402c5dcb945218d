package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Gate

/** Invariant ports (SURVEY §5.3) and the amplicon pairing error-code
  * taxonomy E1–E17 (reference `pypelib/amplicon/guess_target.py`).
  * Each check returns VIOLATIONS as a DataFrame — empty means the
  * invariant holds; callers decide whether to abort (the reference
  * aborts) or quarantine.
  */
object Checks {

  /** Read counts must equal the SRA-declared spot count (reference
    * `pypelib/raw_reads.py:17-49`, wired at `Snakefile:347-379`).
    * counts: (run, n_reads); runinfo: (run, library_layout, spots).
    * PAIRED runs have 2 reads per spot, SINGLE 1. */
  def spotCountMismatches(counts: DataFrame,
      runinfo: DataFrame): DataFrame = {
    val expected = runinfo.select(col("run"),
      when(col("library_layout") === "PAIRED", col("spots") * 2)
        .otherwise(col("spots")).as("expected_reads"))
    counts.join(expected, Seq("run"), "left")
      .filter(col("expected_reads").isNull ||
        col("n_reads") =!= col("expected_reads"))
      .select("run", "n_reads", "expected_reads")
  }

  /** Forward/reverse reads of a pair must agree on the winning model
    * (the core of the reference's E-code pairing checks,
    * `guess_target.py:310-426`: paired samples whose fwd and rev
    * detections disagree are flagged).
    * winners: (sample, direction 'fwd'|'rev', model). Returns samples
    * whose directions disagree or are missing a side. */
  def pairedModelDisagreements(winners: DataFrame): DataFrame =
    winners.groupBy("sample")
      .agg(
        // a side with no winning model is itself a pairing failure —
        // countDistinct skips NULLs, so coalesce to a sentinel first
        countDistinct(coalesce(col("model"), lit("__NONE__")))
          .as("n_models"),
        countDistinct("direction").as("n_dirs"),
        concat_ws(",", sort_array(collect_set(col("model"))))
          .as("models"))
      .filter(col("n_models") =!= 1 || col("n_dirs") =!= 2)
      .select("sample", "n_dirs", "models")

  // ---- E1–E17 pairing error codes ----
  //
  // Full port of the reference's amplicon target-guessing error
  // taxonomy (`guess_target.py:80-426` + `__init__.py` Err enum):
  //  E1  too few good alignments       (basic_checks, ratio < 0.5)
  //  E2  no model in summary           (basic_checks, blocks pair check)
  //  E3  inconsistent directionality   (check_single / check_paired)
  //  E4  fwd-rev model mismatch        (check_paired, non-blocking)
  //  E5  too few good fwd-primer reads (count < 100)
  //  E6  no fwd primer detected
  //  E7  too few good rev-primer reads (count < 100)
  //  E8  no rev primer detected
  //  E9  no alignments at all (basic) OR too far from fwd primer (>30)
  //  E10 too far from rev primer (>30)
  //  E15 stats file unreadable         (get_lengths, aborts everything)
  //  E16 file names don't match fwd/rev (get_lengths, aborts)
  //  E17 inconsistent file count / endedness (get_lengths, aborts)
  // E11–E14 and E18–E20 are reserved and unused in the reference.

  private val MinCount = 100L // guess_target.py:259 MIN_COUNT
  private val MaxDistance = 30.0 // guess_target.py:260 MAX_DISTANCE
  private val GoodFrac = 0.5 // guess_target.py:230 GOOD

  /** Per-(sample, side) hmm_summarize fields. `side` is the summary
    * FILE POSITION: 'fwd'/'rev' for paired-end, 'single' otherwise
    * (the reference's data[0]/data[1]; detected direction is the
    * separate `direction` column). */
  val pairingSummarySchema: StructType = StructType(Seq(
    StructField("sample", StringType),
    StructField("side", StringType),
    StructField("model", StringType),
    StructField("good_alignments_count", LongType),
    StructField("alignment_winners_count", LongType),
    StructField("direction", StringType),
    StructField("fwd_primer", StringType),
    StructField("rev_primer", StringType),
    StructField("fwd_count", LongType),
    StructField("rev_count", LongType),
    StructField("fwd_avg_score", DoubleType),
    StructField("rev_avg_score", DoubleType)))

  /** Per-sample file-level facts that `get_lengths` sees:
    * n_stats_rows NULL ⇒ the stats file was unreadable (E15). */
  val pairingFilesSchema: StructType = StructType(Seq(
    StructField("sample", StringType),
    StructField("n_summary_files", IntegerType),
    StructField("n_stats_rows", IntegerType),
    StructField("fwd_rev_names_ok", BooleanType)))

  /** E1–E17 classifier: one output row per (sample, code, msg); clean
    * samples are absent. Control flow mirrors guess_target.main:
    * file-level errors (E15/E16/E17) abort before any summary check
    * (UsageError); a blocking basic error (E2/E9-insufficient) on
    * either side suppresses the pair/single checks for that sample but
    * the other side's basic errors still collect; E3 (raise) suppresses
    * the primer checks; E4 does not. */
  def pairingCodes(summaries: DataFrame, files: DataFrame): DataFrame = {
    val sideCols = Seq("model", "good_alignments_count",
      "alignment_winners_count", "direction", "fwd_primer", "rev_primer",
      "fwd_count", "rev_count", "fwd_avg_score", "rev_avg_score")
    val aggs =
      Seq("fwd", "rev", "single").flatMap(p => sideCols.map(c =>
        max(when(col("side") === p, col(c))).as(s"${p}_$c"))) :+
        sum(when(col("side") === "single", 1).otherwise(0)).as("n_single")
    val wide = summaries.groupBy("sample").agg(aggs.head, aggs.tail: _*)
    // sample universe = files (a sample whose summaries are missing
    // entirely still gets its file-level verdict)
    val j = files.join(wide, Seq("sample"), "left")

    // never-null booleans (mirrored as explicit COALESCE in the oracle
    // SQL — three-valued logic must agree on both sides)
    def tv(c: Column): Column = coalesce(c, lit(false))

    // file-level, get_lengths order: E15 ≻ (E16 | E17), mutually
    // exclusive, each aborts everything else
    val e15 = col("n_stats_rows").isNull
    val consistent = tv(
      (col("n_summary_files") === 1 && col("n_stats_rows") === 1) ||
        (col("n_summary_files") === 2 && col("n_stats_rows") === 2))
    val e17 = !e15 && !consistent
    val e16 = !e15 && consistent && tv(col("n_summary_files") === 2) &&
      !tv(col("fwd_rev_names_ok"))
    val fileErr = e15 || e16 || e17

    val isSingle = tv(col("n_single") > 0)

    def blockE9(p: String) = col(s"${p}_good_alignments_count").isNull
    def blockE2(p: String) =
      !blockE9(p) && col(s"${p}_model").isNull
    def block(p: String) = blockE9(p) || blockE2(p)
    def e1(p: String) = !block(p) && tv(
      col(s"${p}_good_alignments_count").cast("double") /
        col(s"${p}_alignment_winners_count") < GoodFrac)

    // paired pair-level (check_paired)
    val pairOk = !isSingle && !block("fwd") && !block("rev")
    val modelsAgree = tv(col("fwd_model") === col("rev_model"))
    val e4 = pairOk && !modelsAgree
    val dirNormal = col("fwd_direction") <=> lit("fwd") &&
      col("rev_direction") <=> lit("rev")
    val dirSwapped = col("fwd_direction") <=> lit("rev") &&
      col("rev_direction") <=> lit("fwd")
    val e3p = pairOk && modelsAgree && !dirNormal && !dirSwapped
    val swapped = pairOk && modelsAgree && dirSwapped
    val runP = pairOk && !e3p
    // effective fwd/rev after the reference's in-place unswap
    def effF(c: String) =
      when(swapped, col(s"rev_$c")).otherwise(col(s"fwd_$c"))
    def effR(c: String) =
      when(swapped, col(s"fwd_$c")).otherwise(col(s"rev_$c"))
    val e5p = runP && effF("fwd_primer").isNotNull &&
      tv(effF("fwd_count") < MinCount)
    val e6p = runP && effF("fwd_primer").isNull
    val e7p = runP && effR("rev_primer").isNotNull &&
      tv(effR("rev_count") < MinCount)
    val e8p = runP && effR("rev_primer").isNull
    val e9p = runP && tv(abs(effF("fwd_avg_score")) > MaxDistance)
    val e10p = runP && tv(abs(effR("rev_avg_score")) > MaxDistance)

    // single (check_single): E3 only checked when direction present
    val e3sCore = col("single_direction").isNotNull &&
      !tv(col("single_direction").isin("fwd", "rev"))
    val e3s = isSingle && !block("single") && tv(e3sCore)
    val runS = isSingle && !block("single") && !tv(e3sCore)
    val e5s = runS && col("single_fwd_primer").isNotNull &&
      tv(col("single_fwd_count") < MinCount)
    val e6s = runS && col("single_fwd_primer").isNull
    val e7s = runS && col("single_rev_primer").isNotNull &&
      tv(col("single_rev_count") < MinCount)
    val e8s = runS && col("single_rev_primer").isNull
    val e9s = runS && tv(abs(col("single_fwd_avg_score")) > MaxDistance)
    val e10s = runS && tv(abs(col("single_rev_avg_score")) > MaxDistance)

    def err(cond: Column, code: String, msg: String): Column =
      when(tv(cond), struct(lit(code).as("code"), lit(msg).as("msg")))

    val fileErrs = array(
      err(e15, "E15", "failed reading stats file"),
      err(e16, "E16",
        "unexpected file names, can not match fwd vs. rev files"),
      err(e17, "E17", "inconsistent number of files / endedness?"))

    val summErrs = array(
      // basic checks collect from BOTH sides (guess_target.py:107-117)
      err(!isSingle && blockE9("fwd"), "E9", "fwd: no alignments at all"),
      err(!isSingle && blockE2("fwd"), "E2", "fwd: no model"),
      err(!isSingle && e1("fwd"), "E1", "fwd: too few good alignments"),
      err(!isSingle && blockE9("rev"), "E9", "rev: no alignments at all"),
      err(!isSingle && blockE2("rev"), "E2", "rev: no model"),
      err(!isSingle && e1("rev"), "E1", "rev: too few good alignments"),
      err(e4, "E4", "fwd-rev-model-mismatch"),
      err(e3p, "E3", "Inconsistent directionality!"),
      err(e5p, "E5", "too few good reads with fwd primer"),
      err(e6p, "E6", "no fwd primer detected"),
      err(e7p, "E7", "too few good reads with rev primer"),
      err(e8p, "E8", "no rev primer detected"),
      err(e9p, "E9", "too far away from fwd primer"),
      err(e10p, "E10", "too far away from rev primer"),
      err(isSingle && blockE9("single"), "E9",
        "single: no alignments at all"),
      err(isSingle && blockE2("single"), "E2", "single: no model"),
      err(isSingle && e1("single"), "E1",
        "single: too few good alignments"),
      err(e3s, "E3", "Inconsistent directionality!"),
      err(e5s, "E5", "too few good reads with fwd primer"),
      err(e6s, "E6", "no fwd primer detected"),
      err(e7s, "E7", "too few good reads with rev primer"),
      err(e8s, "E8", "no rev primer detected"),
      err(e9s, "E9", "too far away from fwd primer"),
      err(e10s, "E10", "too far away from rev primer"))

    j.withColumn("errs",
        when(fileErr, fileErrs).otherwise(summErrs))
      .select(col("sample"),
        explode(array_compact(col("errs"))).as("e"))
      .select(col("sample"), col("e.code").as("code"),
        col("e.msg").as("msg"))
  }

  // ---- gate fixture: one sample per code path + clean/swap/multi ----

  // (sample, side, model, good, winners, direction,
  //  fwd_primer, rev_primer, fwd_count, rev_count, fwd_avg, rev_avg)
  private[ops] val pairingSummaryRows: Seq[Row] = {
    def fwdRow(s: String, model: String = "16S",
        good: java.lang.Long = 900L, winners: java.lang.Long = 1000L,
        dir: String = "fwd", fp: String = "f27",
        fc: java.lang.Long = 500L, fa: java.lang.Double = 5.0) =
      Row(s, "fwd", model, good, winners, dir, fp, null, fc, null, fa,
        null)
    def revRow(s: String, model: String = "16S",
        good: java.lang.Long = 950L, winners: java.lang.Long = 1000L,
        dir: String = "rev", rp: String = "r338",
        rc: java.lang.Long = 400L, ra: java.lang.Double = -3.0) =
      Row(s, "rev", model, good, winners, dir, null, rp, null, rc, null,
        ra)
    def singleRow(s: String, model: String = "16S",
        good: java.lang.Long = 900L, winners: java.lang.Long = 1000L,
        dir: String = "fwd", fp: String = "f27", rp: String = "r338",
        fc: java.lang.Long = 500L, rc: java.lang.Long = 400L,
        fa: java.lang.Double = 5.0, ra: java.lang.Double = -3.0) =
      Row(s, "single", model, good, winners, dir, fp, rp, fc, rc, fa, ra)
    Seq(
      fwdRow("samp01_ok"), revRow("samp01_ok"),
      fwdRow("samp02_e1", good = 300L), revRow("samp02_e1"),
      fwdRow("samp03_e2"), revRow("samp03_e2", model = null),
      fwdRow("samp04_e3"), revRow("samp04_e3", dir = "fwd"),
      fwdRow("samp05_e4"), revRow("samp05_e4", model = "18S"),
      fwdRow("samp06_e5", fc = 50L), revRow("samp06_e5"),
      fwdRow("samp07_e6", fp = null), revRow("samp07_e6"),
      fwdRow("samp08_e7"), revRow("samp08_e7", rc = 20L),
      fwdRow("samp09_e8"), revRow("samp09_e8", rp = null),
      fwdRow("samp10_e9", fa = 45.0), revRow("samp10_e9"),
      fwdRow("samp11_e10"), revRow("samp11_e10", ra = -35.0),
      // reads swapped: fwd-position file detected 'rev' and carries the
      // rev-primer stats; clean AFTER the unswap
      Row("samp12_swap", "fwd", "16S", 900L, 1000L, "rev", null, "r338",
        null, 400L, null, -3.0),
      Row("samp12_swap", "rev", "16S", 950L, 1000L, "fwd", "f27", null,
        500L, null, 5.0, null),
      singleRow("samp13_sok"),
      singleRow("samp14_se3", dir = "mixed"),
      singleRow("samp15_se9", fa = -40.0),
      singleRow("samp16_noaln", good = null),
      fwdRow("samp17_e15", good = 100L), revRow("samp17_e15"),
      fwdRow("samp18_e16"), revRow("samp18_e16"),
      fwdRow("samp19_e17"), revRow("samp19_e17"),
      fwdRow("samp20_multi", good = 100L, fc = 10L),
      revRow("samp20_multi", rc = 5L))
  }

  // (sample, n_summary_files, n_stats_rows, fwd_rev_names_ok)
  private[ops] val pairingFileRows: Seq[Row] = {
    val paired = Seq("samp01_ok", "samp02_e1", "samp03_e2", "samp04_e3",
      "samp05_e4", "samp06_e5", "samp07_e6", "samp08_e7", "samp09_e8",
      "samp10_e9", "samp11_e10", "samp12_swap", "samp20_multi")
      .map(s => Row(s, 2, Integer.valueOf(2), java.lang.Boolean.TRUE))
    val single = Seq("samp13_sok", "samp14_se3", "samp15_se9",
      "samp16_noaln")
      .map(s => Row(s, 1, Integer.valueOf(1), null))
    paired ++ single ++ Seq(
      Row("samp17_e15", 2, null, java.lang.Boolean.TRUE),
      Row("samp18_e16", 2, Integer.valueOf(2), java.lang.Boolean.FALSE),
      Row("samp19_e17", 2, Integer.valueOf(1), java.lang.Boolean.TRUE))
  }

  def fixtureSummaries(s: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(pairingSummaryRows.asJava, pairingSummarySchema)
  }

  def fixtureFiles(s: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(pairingFileRows.asJava, pairingFilesSchema)
  }

  /** Order- and partitioning-independent table CHECKSUM for
    * migration / CDC / replication validation: each row canonicalizes
    * to NUL-coalesced strings joined by \\u0001, hashes through md5,
    * and the top 60 bits SUM exactly in DECIMAL(38,0). Addition is
    * commutative, so any row order or partitioning yields the same
    * digest — two 100 TB tables compare by shipping (n_rows, checksum)
    * once each, no sort, no co-located join, nothing collected (one
    * scan + a 1-row aggregate per side). Pair with `Cdc.snapshotDiff`:
    * the checksum says WHETHER replicas diverged, the diff says WHERE.
    * Callers pick columns with engine-stable string forms (ints /
    * strings; float formatting is engine-specific — the same rule the
    * oracle discipline already imposes). NULL's sentinel is NUL (U+0000), so
    * a literal NUL string collides with NULL by design (documented
    * over carrying a second flag column through the hash). */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableChecksum needs at least one column")
    val canon = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val rowHash = conv(substring(md5(canon), 1, 15), 16, 10)
      .cast(DecimalType(38, 0))
    df.agg(count(lit(1)).as("n_rows"),
      coalesce(sum(rowHash), lit(0).cast(DecimalType(38, 0)))
        .cast("string").as("checksum"))
  }

  private def fTableChecksum(s: SparkSession, d: String): DataFrame =
    tableChecksum(graft.io.Inputs.t(s, d, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))

  /** Merkle-style refinement of `tableChecksum`: the same row digests
    * summed PER KEY BUCKET (pmod(key, nBuckets) — engine-portable, no
    * engine hash function), so two diverged replicas localize the
    * damage by comparing nBuckets rows instead of re-scanning: only
    * buckets whose (n_rows, checksum) differ feed `Cdc.snapshotDiff`.
    * The anti-entropy repair ladder: table checksum (whether) →
    * bucket checksums (which slice) → snapshot diff (which rows). */
  def bucketChecksums(df: DataFrame, cols: Seq[String],
      keyCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be > 0: $nBuckets")
    val canon = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val rowHash = conv(substring(md5(canon), 1, 15), 16, 10)
      .cast(DecimalType(38, 0))
    df.groupBy(pmod(col(keyCol), lit(nBuckets)).cast("int")
        .as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(rowHash).cast("string").as("checksum"))
  }

  private def fBucketChecksum(s: SparkSession, d: String): DataFrame =
    bucketChecksums(graft.io.Inputs.t(s, d, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
      "o_orderkey", 64)

  /** Categorical distribution drift between two slices — the
    * ingest-batch monitoring question ("did the language / source /
    * quality mix move?") answered as per-category total-variation
    * contributions. Float-free by the UniFrac cross-multiplication:
    * for category i with counts a_i, b_i and totals N_A, N_B the
    * exact drift numerator is |a_i·N_B − b_i·N_A| on DECIMAL(38,0)
    * (HUGEINT in the oracle) and the 6-dp share divides by 2·N_A·N_B
    * (TV = ½ Σ |p_i − q_i|; categories absent from one side
    * contribute their full mass). ONE map-side-combined scan builds
    * both sides' counts (conditional sums — no second pass, no outer
    * join for one-sided categories), totals ride a broadcast
    * single-row cross. Pairs with `tableChecksum` on the comparison
    * ladder: checksum says WHETHER a replica moved, drift says HOW
    * the distribution moved. */
  def distributionDrift(df: DataFrame, catCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // in-plan side guard: a side value outside {0, 1} (or NULL) would
    // silently vanish from both counts; assert_true rides the same
    // aggregate projection, so misuse fails loudly with no extra pass
    val counts = df.groupBy(col(catCol).as("category"))
      .agg(sum(when(col(sideCol) === 0, lit(1L)).otherwise(lit(0L)))
        .as("n_a"),
        sum(when(col(sideCol) === 1, lit(1L)).otherwise(lit(0L)))
          .as("n_b"),
        count(lit(1)).as("n_rows"))
      .select(col("category"), col("n_b"),
        (col("n_a") + coalesce(
          expr("CAST(assert_true(n_a + n_b = n_rows, " +
            "'distributionDrift: side column has values outside " +
            "{0, 1} or NULLs') AS BIGINT)"), lit(0L))).as("n_a"))
    val tot = counts.agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"))
    val num = abs(col("n_a").cast(dec) * col("t_b").cast(dec)
      - col("n_b").cast(dec) * col("t_a").cast(dec)).cast(dec)
    val denom = (lit(2) * col("t_a").cast(dec) * col("t_b").cast(dec))
      .cast(dec)
    counts.crossJoin(broadcast(tot))
      .select(col("category"), col("n_a"), col("n_b"),
        num.cast("string").as("drift_num"),
        when(col("t_a") > 0 && col("t_b") > 0,
          round(num.cast("double") / denom.cast("double"), 6))
          .as("tv_contrib"))
  }

  /** Gate: language-mix drift between the even/odd doc_id halves of
    * the documents corpus (a stand-in for two ingest snapshots). */
  private def fDistDrift(s: SparkSession, d: String): DataFrame =
    distributionDrift(
      graft.io.Inputs.t(s, d, "documents")
        .select(col("lang"), (col("doc_id") % 2).cast("int").as("side")),
      "lang", "side")
      .withColumnRenamed("category", "lang")

  // ---- DuckDB oracle: same fixture rows as VALUES CTEs (generated
  // from the Scala constants above), logic re-derived in SQL with
  // explicit COALESCE everywhere Spark uses never-null booleans ----

  private def sqlVal(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case l: java.lang.Long => s"CAST($l AS BIGINT)"
    case i: Integer => s"CAST($i AS INT)"
    case d: java.lang.Double => s"CAST($d AS DOUBLE)"
    case b: java.lang.Boolean => b.toString
    case other => other.toString
  }

  private def pairingOracle: String = {
    val summVals = pairingSummaryRows
      .map(r => r.toSeq.map(sqlVal).mkString("(", ", ", ")"))
      .mkString(",\n       ")
    val fileVals = pairingFileRows
      .map(r => r.toSeq.map(sqlVal).mkString("(", ", ", ")"))
      .mkString(",\n       ")
    // typed NULL columns: a VALUES list that starts with NULLs needs
    // explicit casts, which sqlVal provides on every non-null value;
    // every column has at least one typed value in the fixture
    def sideSel(p: String) = Seq(
      s"max(CASE WHEN side='$p' THEN model END) AS ${p}_model",
      s"max(CASE WHEN side='$p' THEN good END) AS ${p}_good",
      s"max(CASE WHEN side='$p' THEN winners END) AS ${p}_winners",
      s"max(CASE WHEN side='$p' THEN direction END) AS ${p}_dir",
      s"max(CASE WHEN side='$p' THEN fwd_primer END) AS ${p}_fp",
      s"max(CASE WHEN side='$p' THEN rev_primer END) AS ${p}_rp",
      s"max(CASE WHEN side='$p' THEN fwd_count END) AS ${p}_fc",
      s"max(CASE WHEN side='$p' THEN rev_count END) AS ${p}_rc",
      s"max(CASE WHEN side='$p' THEN fwd_avg END) AS ${p}_fa",
      s"max(CASE WHEN side='$p' THEN rev_avg END) AS ${p}_ra"
    ).mkString(", ")
    def basic(p: String) = s"""
       ${p}_good IS NULL AS block9_$p,
       ${p}_good IS NOT NULL AND ${p}_model IS NULL AS block2_$p,
       (${p}_good IS NULL OR ${p}_model IS NULL) AS block_$p,
       NOT (${p}_good IS NULL OR ${p}_model IS NULL) AND
         coalesce(CAST(${p}_good AS DOUBLE) / ${p}_winners < $GoodFrac,
           false) AS e1_$p"""
    def emit(flag: String, code: String, msg: String) =
      s"SELECT sample, '$code' AS code, '$msg' AS msg FROM flags " +
        s"WHERE $flag"
    val emits = Seq(
      ("file_err AND e15", "E15", "failed reading stats file"),
      ("file_err AND e16", "E16",
        "unexpected file names, can not match fwd vs. rev files"),
      ("file_err AND e17", "E17",
        "inconsistent number of files / endedness?"),
      ("ok AND NOT issingle AND block9_fwd", "E9",
        "fwd: no alignments at all"),
      ("ok AND NOT issingle AND block2_fwd", "E2", "fwd: no model"),
      ("ok AND NOT issingle AND e1_fwd", "E1",
        "fwd: too few good alignments"),
      ("ok AND NOT issingle AND block9_rev", "E9",
        "rev: no alignments at all"),
      ("ok AND NOT issingle AND block2_rev", "E2", "rev: no model"),
      ("ok AND NOT issingle AND e1_rev", "E1",
        "rev: too few good alignments"),
      ("ok AND e4", "E4", "fwd-rev-model-mismatch"),
      ("ok AND e3_p", "E3", "Inconsistent directionality!"),
      ("ok AND e5_p", "E5", "too few good reads with fwd primer"),
      ("ok AND e6_p", "E6", "no fwd primer detected"),
      ("ok AND e7_p", "E7", "too few good reads with rev primer"),
      ("ok AND e8_p", "E8", "no rev primer detected"),
      ("ok AND e9_p", "E9", "too far away from fwd primer"),
      ("ok AND e10_p", "E10", "too far away from rev primer"),
      ("ok AND issingle AND block9_single", "E9",
        "single: no alignments at all"),
      ("ok AND issingle AND block2_single", "E2", "single: no model"),
      ("ok AND issingle AND e1_single", "E1",
        "single: too few good alignments"),
      ("ok AND e3_s", "E3", "Inconsistent directionality!"),
      ("ok AND e5_s", "E5", "too few good reads with fwd primer"),
      ("ok AND e6_s", "E6", "no fwd primer detected"),
      ("ok AND e7_s", "E7", "too few good reads with rev primer"),
      ("ok AND e8_s", "E8", "no rev primer detected"),
      ("ok AND e9_s", "E9", "too far away from fwd primer"),
      ("ok AND e10_s", "E10", "too far away from rev primer")
    ).map { case (f, c, m) => emit(f, c, m) }.mkString("\n     UNION ALL ")
    s"""WITH summ(sample, side, model, good, winners, direction,
       fwd_primer, rev_primer, fwd_count, rev_count, fwd_avg, rev_avg)
       AS (VALUES $summVals),
     files(sample, n_summary_files, n_stats_rows, names_ok)
       AS (VALUES $fileVals),
     wide AS (
       SELECT sample, ${sideSel("fwd")}, ${sideSel("rev")},
         ${sideSel("single")},
         sum(CASE WHEN side='single' THEN 1 ELSE 0 END) AS n_single
       FROM summ GROUP BY sample),
     j AS (SELECT files.*, wide.* EXCLUDE (sample)
           FROM files LEFT JOIN wide USING (sample)),
     base AS (
       SELECT *,
         n_stats_rows IS NULL AS e15,
         coalesce((n_summary_files = 1 AND n_stats_rows = 1) OR
           (n_summary_files = 2 AND n_stats_rows = 2), false)
           AS consistent,
         coalesce(n_single, 0) > 0 AS issingle,
         ${basic("fwd")}, ${basic("rev")}, ${basic("single")}
       FROM j),
     base2 AS (
       SELECT *,
         NOT e15 AND NOT consistent AS e17,
         NOT e15 AND consistent AND
           coalesce(n_summary_files = 2, false) AND
           NOT coalesce(names_ok, false) AS e16,
         NOT issingle AND NOT block_fwd AND NOT block_rev AS pair_ok,
         coalesce(fwd_model = rev_model, false) AS models_agree,
         coalesce(fwd_dir = 'fwd', false) AND
           coalesce(rev_dir = 'rev', false) AS dir_normal,
         coalesce(fwd_dir = 'rev', false) AND
           coalesce(rev_dir = 'fwd', false) AS dir_swap
       FROM base),
     base3 AS (
       SELECT *,
         e15 OR e16 OR e17 AS file_err,
         pair_ok AND NOT models_agree AS e4,
         pair_ok AND models_agree AND NOT dir_normal AND NOT dir_swap
           AS e3_p,
         pair_ok AND models_agree AND dir_swap AS swapped
       FROM base2),
     base4 AS (
       SELECT *,
         pair_ok AND NOT e3_p AS run_p,
         CASE WHEN swapped THEN rev_fp ELSE fwd_fp END AS eff_fp,
         CASE WHEN swapped THEN rev_fc ELSE fwd_fc END AS eff_fc,
         CASE WHEN swapped THEN rev_fa ELSE fwd_fa END AS eff_fa,
         CASE WHEN swapped THEN fwd_rp ELSE rev_rp END AS eff_rp,
         CASE WHEN swapped THEN fwd_rc ELSE rev_rc END AS eff_rc,
         CASE WHEN swapped THEN fwd_ra ELSE rev_ra END AS eff_ra,
         issingle AND NOT block_single AND coalesce(
           single_dir IS NOT NULL AND single_dir NOT IN ('fwd', 'rev'),
           false) AS e3_s,
         issingle AND NOT block_single AND NOT coalesce(
           single_dir IS NOT NULL AND single_dir NOT IN ('fwd', 'rev'),
           false) AS run_s
       FROM base3),
     flags AS (
       SELECT *,
         NOT file_err AS ok,
         run_p AND eff_fp IS NOT NULL AND
           coalesce(eff_fc < $MinCount, false) AS e5_p,
         run_p AND eff_fp IS NULL AS e6_p,
         run_p AND eff_rp IS NOT NULL AND
           coalesce(eff_rc < $MinCount, false) AS e7_p,
         run_p AND eff_rp IS NULL AS e8_p,
         run_p AND coalesce(abs(eff_fa) > $MaxDistance, false) AS e9_p,
         run_p AND coalesce(abs(eff_ra) > $MaxDistance, false) AS e10_p,
         run_s AND single_fp IS NOT NULL AND
           coalesce(single_fc < $MinCount, false) AS e5_s,
         run_s AND single_fp IS NULL AS e6_s,
         run_s AND single_rp IS NOT NULL AND
           coalesce(single_rc < $MinCount, false) AS e7_s,
         run_s AND single_rp IS NULL AS e8_s,
         run_s AND coalesce(abs(single_fa) > $MaxDistance, false)
           AS e9_s,
         run_s AND coalesce(abs(single_ra) > $MaxDistance, false)
           AS e10_s
       FROM base4)
     $emits"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("g_pairing_codes", (s, _) =>
      pairingCodes(fixtureSummaries(s), fixtureFiles(s)), Some(pairingOracle)),
    // hex→int via DuckDB's 0x-prefixed cast ≡ Spark's conv(_,16,10)
    Gate("f_table_checksum", fTableChecksum _, Some(
      """WITH h AS (
           SELECT CAST(concat('0x', substr(md5(concat_ws(chr(1),
             coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
             coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
             coalesce(o_orderstatus, chr(0)),
             coalesce(o_orderpriority, chr(0)))), 1, 15)) AS BIGINT)
             AS rh
           FROM orders)
         SELECT count(*) AS n_rows,
           CAST(coalesce(sum(CAST(rh AS HUGEINT)), 0) AS VARCHAR)
             AS checksum
         FROM h""")),
    Gate("f_bucket_checksum", fBucketChecksum _, Some(
      """WITH h AS (
           SELECT CAST(o_orderkey % 64 AS INT) AS bucket,
             CAST(concat('0x', substr(md5(concat_ws(chr(1),
               coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
               coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
               coalesce(o_orderstatus, chr(0)),
               coalesce(o_orderpriority, chr(0)))), 1, 15)) AS BIGINT)
               AS rh
           FROM orders)
         SELECT bucket, count(*) AS n_rows,
           CAST(sum(CAST(rh AS HUGEINT)) AS VARCHAR) AS checksum
         FROM h GROUP BY 1""")),
    // same one-scan conditional counts, HUGEINT cross-products
    Gate("f_dist_drift", fDistDrift _, Some(
      """WITH counts AS (
           SELECT lang,
             sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b
           FROM documents GROUP BY 1),
         tot AS (
           SELECT CAST(sum(n_a) AS HUGEINT) AS t_a,
             CAST(sum(n_b) AS HUGEINT) AS t_b
           FROM counts)
         SELECT c.lang, CAST(c.n_a AS BIGINT) AS n_a,
           CAST(c.n_b AS BIGINT) AS n_b,
           CAST(abs(CAST(c.n_a AS HUGEINT) * t.t_b
             - CAST(c.n_b AS HUGEINT) * t.t_a) AS VARCHAR)
             AS drift_num,
           CASE WHEN t.t_a > 0 AND t.t_b > 0 THEN
             round(CAST(abs(CAST(c.n_a AS HUGEINT) * t.t_b
                 - CAST(c.n_b AS HUGEINT) * t.t_a) AS DOUBLE)
               / CAST(2 * t.t_a * t.t_b AS DOUBLE), 6)
           END AS tv_contrib
         FROM counts c, tot t""")))
}
