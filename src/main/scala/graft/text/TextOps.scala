package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, document
  * fingerprinting. All are pure per-row column expressions — narrow,
  * codegen'd, no shuffle until the final (optional) aggregate, so at
  * 100 TB they run at scan speed.
  */
object TextOps {

  /** Whitespace tokenization (the BPE-ish regex split family). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Canonical normalization for fingerprinting: lowercase, strip
    * non-alphanumerics, collapse whitespace. */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** Deterministic document fingerprint (rolling-hash stand-in: md5 of
    * the normalized text — stable across engines and partitionings). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Stopword sets per language — tiny profiles for the heuristic
    * language ID. Public common-word lists. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is", "it", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))

  private[graft] val qualityStopwords =
    Seq("the", "a", "of", "and", "in", "to", "is")

  /** Closed-form quality score in [0,1] (rounded to 4 — the rounding
    * is part of the contract so thresholds compare identically across
    * engines): length saturation × (1 − stopword ratio). */
  def qualityScore(text: Column): Column = {
    val tok = tokens(text)
    val nTok = size(tok).cast("double")
    val stopHits = size(filter(tok,
      tk => tk.isin(qualityStopwords.map(x => x: Any): _*)))
    round(least(lit(1.0), nTok / 100.0) *
      (lit(1.0) - stopHits / nTok), 4)
  }

  /** tx token stats: token count, distinct-token count, char count. */
  private def txTokenStats(s: SparkSession, d: String): DataFrame = {
    val tok = tokens(col("text"))
    t(s, d, "documents").select(
      col("doc_id"),
      size(tok).as("n_tokens"),
      size(array_distinct(tok)).as("n_distinct_tokens"),
      length(col("text")).cast("int").as("n_chars"))
  }

  /** The Gopher document-quality RULE SET (Rae et al. 2021, App. A —
    * the published web-corpus filter battery), as per-rule flags plus
    * the conjunction. Complements `qualityScore` (a scalar) and
    * `repetitionSignals` (two ratios): production filters act on
    * named rules so rejected docs are attributable.
    *
    * Every flag is an INTEGER-ONLY comparison — ratio rules compare
    * cross-multiplied counts (5·alpha ≥ 4·n), never divided doubles,
    * so there is no FP tie to pin cross-engine. Per-row and
    * shuffle-free: filters at scan speed at any corpus size. */
  def gopherRules(textCol: Column): Seq[Column] = {
    val tok = tokens(textCol)
    val n = size(tok)
    // total non-whitespace chars = Σ token lengths, without an explode
    val chars = length(regexp_replace(trim(textCol), "\\s+", ""))
    val alphaW = size(filter(tok, t => t.rlike("[A-Za-z]")))
    val stopHits = size(filter(tok,
      t => t.isin(qualityStopwords.map(x => x: Any): _*)))
    val nDup = n - size(array_distinct(tok))
    val rN = (n >= 50) && (n <= 100000)        // doc length band
    val rLen = (chars >= n * 3) && (chars <= n * 10) // mean word len 3-10
    val rAlpha = alphaW * 5 >= n * 4           // ≥80% words alphabetic
    val rStop = stopHits >= 2                  // ≥2 stopword hits
    val rDup = nDup * 2 <= n                   // dup-word frac ≤ 0.5
    Seq(n.as("n_words"),
      rN.cast("int").as("r_nwords"),
      rLen.cast("int").as("r_wordlen"),
      rAlpha.cast("int").as("r_alpha"),
      rStop.cast("int").as("r_stop"),
      rDup.cast("int").as("r_dup"),
      (rN && rLen && rAlpha && rStop && rDup).cast("int").as("keep"))
  }

  /** tx gopher rules: the full rule battery over the documents table. */
  private def txGopherRules(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id") +: gopherRules(col("text")): _*)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the
    * MOSS local fingerprinting scheme): hash every positional token
    * k-gram, slide a width-`window` frame over the hash sequence, and
    * keep each frame's RIGHTMOST-minimal hash (robust winnowing's
    * tie rule). Guarantee: any shared token run of ≥ window+k−1
    * tokens yields a shared fingerprint, while only ≈ 2/(window+1)
    * of positions are kept — the compact substring-match index
    * whole-doc fingerprints (`fingerprint`) cannot provide.
    *
    * Engine-portable selection trick: (hash, rightmost-position)
    * ordering is encoded as ONE string `md5hex|(10^7 − p)` so the
    * frame selector is a plain string `min` — no struct-ordering or
    * argmin semantics to align cross-engine. Positions must stay
    * below 10^7 grams/doc (≈40 MB of text); larger docs should chunk
    * first (`chunkSplit`). Per-doc window over scan-speed hashing:
    * one shuffle on doc_id, no corpus-wide state. */
  def winnowFingerprints(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 3, window: Int = 4): DataFrame = {
    require(k >= 1 && window >= 1, s"k=$k window=$window must be >= 1")
    // winnowing is PER-DOCUMENT: the native one-pass expression
    // (graft.functions.WinnowFps) computes the identical selection at
    // scan speed — the relational form below it exploded every k-gram
    // position, shuffled the corpus on doc_id for the sliding-window
    // min, and paid a distinct shuffle (r17; equivalence pinned in
    // TextOpsSpec against `winnowFingerprintsRelational`).
    import org.apache.spark.sql.GraftColumnBridge
    val fps = GraftColumnBridge.column(graft.functions.WinnowFps(
      GraftColumnBridge.expression(tokens(lower(col(textCol)))),
      k, window))
    docs.select(col(idCol).as("doc_id"), explode(fps).as("fp"))
      .select(col("doc_id"), col("fp.fp_pos").as("fp_pos"),
        col("fp.fp_hash").as("fp_hash"))
  }

  /** The r16 relational formulation — retained for the TextOpsSpec
    * equivalence pin against the native `WinnowFps` expression. */
  private[text] def winnowFingerprintsRelational(docs: DataFrame,
      idCol: String, textCol: String, k: Int = 3,
      window: Int = 4): DataFrame = {
    require(k >= 1 && window >= 1, s"k=$k window=$window must be >= 1")
    val tk = tokens(lower(col(textCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(window - 1), 0)
    docs
      .select(col(idCol).as("doc_id"), tk.as("tk"))
      .withColumn("n", size(col("tk")))
      // fail loudly past the 10^7-gram key-encoding range (the subRows
      // raise_error discipline): beyond it 10^7 − p goes negative and
      // the string key silently mis-sorts/mis-parses — oversized docs
      // must chunkSplit first
      .withColumn("n",
        when(col("n") - (k - 1) <= 10000000, col("n"))
          .otherwise(raise_error(format_string(
            "winnow: doc %s has %d token k-grams (> 1e7); chunkSplit first",
            col("doc_id").cast("string"),
            (col("n") - (k - 1)).cast("long")))))
      // filter, don't clamp: sequence(1, 0) is DESCENDING, not empty
      .filter(col("n") >= k)
      .select(col("doc_id"), explode(sequence(lit(1),
        col("n") - (k - 1))).as("p"), col("tk"))
      .withColumn("h",
        md5(concat_ws(" ", slice(col("tk"), col("p"), lit(k)))))
      .withColumn("key", concat(col("h"), lit("|"),
        lpad((lit(10000000) - col("p")).cast("string"), 8, "0")))
      .withColumn("sel", min("key").over(w))
      .filter(col("p") >= window) // full frames only (the guarantee)
      .select(col("doc_id"), col("sel")).distinct()
      .select(col("doc_id"),
        (lit(10000000) - substring(col("sel"), 34, 8).cast("int"))
          .as("fp_pos"),
        substring(col("sel"), 1, 32).as("fp_hash"))
  }

  /** tx winnow: the fingerprint index over the documents table. */
  private def txWinnow(s: SparkSession, d: String): DataFrame =
    winnowFingerprints(t(s, d, "documents"), "doc_id", "text")

  /** Language-ID CONFUSION MATRIX — the evaluation rollup of `langId`
    * against the labeled column: one (label, predicted, n) cell per
    * observed pair, plus the per-label hit count so accuracy derives
    * exactly downstream (a divided rate would FP-tie; counts never
    * do). The eval surface every classifier-ish curation op needs —
    * per-row predict + one bounded rollup (|langs|² cells). */
  def langConfusion(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame =
    docs.select(col(idCol), col(labelCol).as("lang_label"))
      .join(langId(docs, idCol, textCol), Seq(idCol))
      .groupBy("lang_label", "lang_pred")
      .agg(count(lit(1)).as("n"),
        sum(when(col("lang_label") === col("lang_pred"), 1L)
          .otherwise(0L)).as("n_correct"))

  /** tx langid confusion: prediction quality over the labeled corpus. */
  private def txLangConfusion(s: SparkSession, d: String): DataFrame =
    langConfusion(t(s, d, "documents"), "doc_id", "text", "lang")

  /** Corpus DATA CARD: the per-(lang, source) rollup a dataset release
    * ships — doc/token/char volumes, Gopher-battery pass count, exact
    * duplicate count (corpus-wide fingerprint), and the quality-score
    * mass (4-dp scores decimal-summed so the mean derives exactly
    * downstream; a divided mean would FP-tie). One fingerprint window
    * + one rollup — two shuffles at any corpus size. */
  def corpusReport(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val keep = gopherRules(col(textCol)).last // the `keep` conjunction
    docs
      .withColumn("fp", fingerprint(col(textCol)))
      .withColumn("is_dup",
        when(count(lit(1)).over(w) > 1, 1L).otherwise(0L))
      .select(blockCols.map(col) ++ Seq(
        size(tokens(col(textCol))).cast("long").as("n_tok"),
        length(col(textCol)).cast("long").as("n_chr"),
        keep.cast("long").as("keep"),
        col("is_dup"),
        qualityScore(col(textCol)).cast("decimal(18,4)").as("q")): _*)
      .groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("n_chr").as("n_chars"),
        sum("keep").as("n_keep"),
        sum("is_dup").as("n_exact_dup"),
        sum("q").cast("double").as("sum_quality"))
  }

  /** tx corpus report: the data card over (lang, source). */
  private def txCorpusReport(s: SparkSession, d: String): DataFrame =
    corpusReport(t(s, d, "documents"), "doc_id", "text",
      Seq("lang", "source"))

  /** tx quality score: length/stopword/word-shape heuristics (the
    * C4/Gopher-style quality-signal family). Deterministic closed-form
    * so it is oracle-checkable. */
  private def txQuality(s: SparkSession, d: String): DataFrame = {
    val tok = tokens(col("text"))
    val nTok = size(tok).cast("double")
    val stopHits = size(filter(tok,
      tk => tk.isin(qualityStopwords.map(x => x: Any): _*)))
    val charsNoWs = length(regexp_replace(col("text"), "\\s+", ""))
    t(s, d, "documents").select(
      col("doc_id"),
      size(tok).as("n_tokens"),
      round(stopHits / nTok, 4).as("stop_ratio"),
      round(charsNoWs / nTok, 4).as("avg_word_len"),
      round(least(lit(1.0), nTok / 100.0) * (lit(1.0) - stopHits / nTok), 4)
        .as("quality"))
  }

  /** Corpus-trained bigram-LM fluency score — the n-gram language-model
    * quality signal (CCNet/KenLM-style filtering) in its
    * engine-portable probability form: per document, the MEAN add-one-
    * smoothed bigram probability
    *   P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)
    * under the corpus's own counts (V = corpus distinct-unigram
    * count). Real KenLM scores sum LOG probs; `ln` is libm-dependent
    * and would break the bit-exact oracle contract, while the mean
    * probability is pure integer-derived rational arithmetic and
    * ranks documents the same way for filtering thresholds at ordinary
    * lengths. Per-bigram probabilities quantize to 6 dp and sum as
    * DECIMAL (the ADC discipline) so summation order cannot move the
    * hash; docs with < 2 tokens score null (no bigrams).
    *
    * Scale shape: two corpus-wide count aggregates (map-side
    * combined — the shuffle carries the VOCAB, not the token stream),
    * one broadcast of the 1-row V count, and a bigram-keyed join of
    * the exploded doc stream against the count tables (equi-join on
    * the bigram; the count side is vocabulary-sized). No window, no
    * quadratic pairs. */
  def bigramLmScore(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), tokens(lower(col(textCol)))
      .as("tok"))
    val bigrams = toks.select(col(idCol),
        posexplode(expr(
          "transform(slice(tok, 1, greatest(0, size(tok) - 1)), " +
            "(x, i) -> struct(x as w1, tok[i + 1] as w2))"))
          .as(Seq("pos", "bg")))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // unigram counts STAGED once (Scratch, within this execution):
    // the table feeds both the V singleton and the per-bigram join,
    // and its derivation is a data-sized explode+aggregate the r16
    // form paid twice. The bigram-frequency attach is a window count
    // over the bigram stream's own (w1, w2) partitioning — identical
    // c2 per row (one row per bigram occurrence either way) without
    // re-deriving the stream into a separate aggregate + join back.
    val uni = graft.io.Scratch.stage(
      toks.select(explode(col("tok")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("c1")),
      "lm_uni")
    val vocab = broadcast(uni.agg(count(lit(1)).as("v")))
    val scored = bigrams
      .withColumn("c2", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("w1", "w2")))
      .join(uni, Seq("w1"))
      .crossJoin(vocab)
      .withColumn("p", round((col("c2") + 1) /
        (col("c1") + col("v")).cast("double"), 6)
        .cast("decimal(18,6)"))
      .groupBy(idCol)
      .agg(sum("p").as("p_sum"), count(lit(1)).as("n_bigrams"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L))
        .as("n_bigrams"),
        round(col("p_sum").cast("double") / col("n_bigrams"), 6)
          .as("lm_score"))
  }

  /** tx bigram-LM gate over the documents corpus. */
  private def txLmScore(s: SparkSession, d: String): DataFrame =
    bigramLmScore(t(s, d, "documents"), "doc_id", "text")

  /** CCNet-style fluency bucketing: per-language terciles of the
    * bigram-LM score (head = most fluent third, then middle, tail) —
    * the standard corpus-quality partition used to mix or drop slices
    * by LM fit (Wenzek et al., CCNet; reference analytics tier the
    * same way with quality quantiles). Ordering is (lm_score DESC
    * NULLS LAST, id ASC): lm_score is the 6-dp engine-portable score
    * (hash-green in `tx_lm_score`), so the tercile split replays
    * bit-for-bit in any engine; scoreless docs (< 2 tokens) sink to
    * the tail deterministically.
    *
    * Scale shape: the LM scoring is the `bigramLmScore` plan (scan +
    * vocab-sized joins); the bucketing adds ONE per-language window —
    * `ntile` needs no per-group materialization beyond the sort, and
    * language is a low-cardinality, high-volume partition key (each
    * language's slice still distributes across its sort). */
  def pplBuckets(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, nBuckets: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(langCol)
      .orderBy(col("lm_score").desc_nulls_last, col(idCol).asc)
    docs.select(col(idCol), col(langCol))
      .join(bigramLmScore(docs, idCol, textCol), Seq(idCol))
      .withColumn("bucket_id", ntile(nBuckets).over(w).cast("int"))
      .withColumn("ppl_bucket",
        when(col("bucket_id") === 1, "head")
          .when(col("bucket_id") === nBuckets, "tail")
          .otherwise("middle"))
      .select(col(idCol), col(langCol), col("lm_score"),
        col("bucket_id"), col("ppl_bucket"))
  }

  /** tx perplexity-bucket gate: per-language LM-score terciles. */
  private def txPplBuckets(s: SparkSession, d: String): DataFrame =
    pplBuckets(t(s, d, "documents"), "doc_id", "text", "lang")

  /** tx language ID: score each language's stopword profile against the
    * document's tokens, argmax with alphabetical tie-break (zero-hit
    * docs fall to the alphabetically-first profile). Oracled: the
    * profile table is embedded in the SQL as a VALUES CTE and the
    * explode-join-argmax re-derived over the same `documents` table.
    *
    * Relational form: explode tokens, broadcast-join the (lang, word)
    * profile table, count hits per (doc, lang), window argmax — scales
    * as one scan + one broadcast join, where the per-row
    * filter-per-language HOF form paid 5 interpreted array passes per
    * document. */
  private def txLangid(s: SparkSession, d: String): DataFrame =
    langId(t(s, d, "documents"), "doc_id", "text")

  /** Language ID as a reusable pipeline: (idCol, lang_pred,
    * profile_hits) for every input row. */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import docs.sparkSession.implicits._
    val profile = broadcast(stopwords.toSeq
      .flatMap { case (lang, ws) => ws.map(w => (lang, w)) }
      .toDF("lang", "word"))
    val toks = docs.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("word"))
    val hits = toks.join(profile, Seq("word"))
      .groupBy(idCol, "lang").agg(count(lit(1)).as("hits"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("hits").desc, col("lang").asc)
    val winners = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val fallbackLang = stopwords.keys.min
    docs.select(col(idCol))
      .join(winners, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("lang"), lit(fallbackLang)).as("lang_pred"),
        coalesce(col("hits"), lit(0L)).cast("int").as("profile_hits"))
  }

  /** tx fingerprint: normalized-text digest per document. */
  private def txFingerprint(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Greedy sequence packing: assign documents to fixed-capacity token
    * bins in a stable order — the shard-assembly step of a training
    * pipeline (pack ~capacity tokens per sequence/shard). A document
    * goes to the bin its cumulative start offset falls in, so bin
    * boundaries are a pure running sum: one window per partition key,
    * no driver loop, no second pass. Offsets are per-`partCol`
    * (language here), the same key the window shuffles on — at 100 TB
    * each language packs independently and in parallel. */
  def packBins(docs: DataFrame, idCol: String, textCol: String,
      partCol: String, capacity: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCol).orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    docs.select(col(partCol), col(idCol),
        size(tokens(col(textCol))).as("n_tokens"))
      .withColumn("start_off",
        coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("bin",
        floor(col("start_off") / lit(capacity.toDouble)))
  }

  /** Deterministic train/val/test assignment: split by a salted md5 of
    * the document id, so membership is a pure function of the id —
    * reproducible across runs, engines, partitionings, and appends
    * (new rows never reshuffle old ones, unlike randomSplit). Hex
    * prefix thresholds: '0d'/256 ≈ 5% test, then ≈ 5% val, rest train. */
  val splitTestMax = "0d"
  val splitValMax = "1a"

  /** Pure kernel of `splitAssign` over the 2-hex-char md5 prefix —
    * shared with the property tests so they exercise the PRODUCTION
    * thresholds, not a copy. */
  def splitOfHexPrefix(h: String): String =
    if (h < splitTestMax) "test"
    else if (h < splitValMax) "val"
    else "train"

  def splitAssign(idCol: Column,
      salt: String = "graft-split:"): Column = {
    val h = substring(
      md5(concat(lit(salt), idCol.cast("string"))), 1, 2)
    when(h < splitTestMax, "test")
      .when(h < splitValMax, "val").otherwise("train")
  }

  /** tx pack bins: per-(lang, bin) packing summary at capacity 2048 —
    * doc counts and token fill per bin. */
  private def txPackBins(s: SparkSession, d: String): DataFrame =
    packBins(t(s, d, "documents"), "doc_id", "text", "lang", 2048)
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))

  /** tx split assign: per-document deterministic split membership. */
  private def txSplitAssign(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"), col("lang"),
      splitAssign(col("doc_id")).as("split"))

  /** tx corpus curate — the C4-style curation pipeline END TO END as
    * one declarative plan: exact-dedup to a canonical survivor
    * (min-id per text digest), quality-score filter, language ID, and
    * deterministic split assignment, composed exactly as a training
    * corpus build runs them. Four shuffles total, each load-bearing
    * (dedup window on the digest, langid hit-agg, langid argmax
    * window, re-key for the final join). langid deliberately reads the
    * RAW scan, not the curated subset: langId consumes its input
    * twice, so feeding it the dedup-window subtree would plan that
    * window 3× (Catalyst does not CSE across DataFrame reuse — the
    * g_primer_mode lesson). A staged pipeline that materializes the
    * curated subset first would langid only survivors; in one
    * declarative plan the raw scan is the cheaper second input. */
  private def txCorpusCurate(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val canon = docs
      .withColumn("fp", md5(col("text")))
      .withColumn("keep_id", min("doc_id").over(wFp))
      .filter(col("doc_id") === col("keep_id"))
      .withColumn("quality", qualityScore(col("text")))
      .filter(col("quality") >= 0.5)
    canon.join(langId(docs, "doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), col("lang_pred"), col("quality"),
        splitAssign(col("doc_id")).as("split"))
  }

  /** tx stratified sample: exactly N documents per stratum, picked by
    * salted-hash order — the reproducible "20 docs per language"
    * curation op (same sample regardless of partitioning, appends
    * change the sample only where the hash order actually changes).
    * Exact per-stratum top-N costs a per-stratum sort; for approximate
    * RATES at 100 TB use the splitAssign-style hash threshold instead,
    * which is sort-free. */
  private def txStratifiedSample(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(md5(concat(lit("strat:"), col("doc_id").cast("string")))
        .asc, col("doc_id").asc)
    t(s, d, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("doc_id"), col("rn"))
  }

  /** Repetition signals (the Gopher repetition filters): fraction of
    * duplicated words and the share of all bigrams taken by the single
    * most frequent one — a document stuck repeating a phrase scores
    * near 1 on both. Per-row, shuffle-free: the bigram histogram is
    * ONE native-expression pass (`functions.NgramStats`), where the
    * relational form pays three document-keyed shuffles. */
  def repetitionSignals(textCol: Column): Seq[Column] = {
    import org.apache.spark.sql.GraftColumnBridge
    val tok = tokens(textCol)
    val stats = GraftColumnBridge.column(graft.functions.NgramStats(
      GraftColumnBridge.expression(tok), 2))
    Seq(
      round(lit(1.0) - size(array_distinct(tok)).cast("double") /
        size(tok), 4).as("dup_word_frac"),
      when(stats.getField("n_grams") > 0,
        round(stats.getField("top_count").cast("double") /
          stats.getField("n_grams"), 4)).as("top_bigram_frac"))
  }

  /** tx repetition: per-document repetition quality signals. */
  private def txRepetition(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id") +: repetitionSignals(col("text")): _*)

  /** Per-source token budgets for mixture sampling: `weight(source) ×
    * base` tokens, weight derived from the numeric source suffix so
    * both engines compute it closed-form. */
  private def sourceBudget(source: Column): Column =
    (regexp_extract(source, "(\\d+)$", 1).cast("int") % 3 + 1) * 400

  /** Token-budget mixture sampling: admit documents per source in
    * salted-hash order until the source's token budget is exhausted —
    * the data-mixture step of a corpus build ("this many tokens of
    * web, this many of code"). The admission test is an EXCLUSIVE
    * prefix sum (a doc may overshoot its budget but the NEXT one
    * stops), so membership is a pure window function: one shuffle on
    * source, no driver loop, stable under appends exactly like
    * `splitAssign`. */
  def tokenBudgetMix(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, budget: Column => Column,
      tokenCount: Column => Column =
        c => size(tokens(c)).cast("long")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sourceCol)
      .orderBy(md5(concat(lit("mix:"), col(idCol).cast("string"))).asc,
        col(idCol).asc)
    docs.select(col(sourceCol), col(idCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") < budget(col(sourceCol)))
  }

  /** tx token budget mix: budgeted per-source admission over the
    * documents table. */
  private def txTokenBudgetMix(s: SparkSession, d: String): DataFrame =
    tokenBudgetMix(t(s, d, "documents"), "doc_id", "text", "source",
      sourceBudget)

  /** Systematic PPS (probability-proportional-to-size) sampling: k
    * draws per stratum, inclusion probability ∝ token count — the
    * survey-sampling workhorse for "sample documents so expected
    * TOKEN coverage is uniform" (big docs proportionally likelier; a
    * doc heavier than the step can be drawn more than once —
    * `n_hits` is that PPS multiplicity, Σ n_hits = k exactly).
    *
    * Items order by salted hash (the stratifiedSample randomization:
    * deterministic, partition-independent, append-stable where the
    * hash order is), cumulative token weights accumulate as exact
    * integers, and the selection count per item is
    * ⌊W_i·k/T⌋ − ⌊W_{i−1}·k/T⌋ — pure BIGINT multiply + integer
    * `div` (the resampleFill/intervalOverlapJoin exact-floor
    * discipline; never float division near a boundary), so there is
    * no real-valued step or offset to pin cross-engine. W·k must fit
    * a long: fine to ~2^63/k stratum tokens — at a larger stratum,
    * pre-scale the weights (PPS is invariant under weight scaling).
    * One shuffle on the stratum key; window state is one running
    * sum. */
  def ppsSystematicSample(docs: DataFrame, idCol: String,
      textCol: String, strataCol: String, k: Int,
      tokenCount: Column => Column =
        c => size(tokens(c)).cast("long")): DataFrame = {
    require(k > 0, s"k=$k must be > 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(md5(concat(lit("pps:"), col(idCol).cast("string"))).asc,
        col(idCol).asc)
    docs.select(col(strataCol), col(idCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("total", sum("n_tokens").over(
        org.apache.spark.sql.expressions.Window.partitionBy(strataCol)))
      .withColumn("n_hits", expr(
        s"((cum * ${k}L) div total) - " +
          s"(((cum - n_tokens) * ${k}L) div total)").cast("int"))
      .filter(col("n_hits") >= 1)
      .select(col(strataCol), col(idCol), col("n_tokens"),
        col("n_hits"))
  }

  /** tx PPS sample: k=25 token-weighted systematic draws per language. */
  private def txPpsSample(s: SparkSession, d: String): DataFrame =
    ppsSystematicSample(t(s, d, "documents"), "doc_id", "text",
      "lang", k = 25)

  /** Temperature-weighted multilingual mixture (the p_l ∝ n_l^α
    * sampling rule of multilingual pretraining, α = 0.5): each
    * language's token budget is total × √n_l / Σ√n_l — upweighting
    * tail languages relative to raw proportional sampling — and
    * admission rides the same salted-hash exclusive-prefix-sum window
    * as `tokenBudgetMix`. α is FIXED at 0.5 because √ is exact IEEE
    * and therefore engine-portable bit-for-bit; a general pow(α)
    * rides libm and could not oracle bit-exactly (the tx_lm_score
    * no-ln discipline). The √ weights are 6-dp-quantized and summed
    * as DECIMAL so Σ√n_l is independent of summation order.
    *
    * Scale: one token-count aggregate (→ languages rows, broadcast
    * back), one window shuffle on language — append-stable admission
    * like `splitAssign`. */
  def temperatureMix(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, totalTokens: Long,
      tokenCount: Column => Column =
        c => size(tokens(c)).cast("long")): DataFrame = {
    require(totalTokens > 0, s"totalTokens must be > 0: $totalTokens")
    val tk = docs.select(col(langCol), col(idCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val mass = tk.groupBy(langCol).agg(sum("n_tokens").as("n_l"))
      .withColumn("w6", round(sqrt(col("n_l").cast("double")), 6)
        .cast("decimal(28,6)"))
    val tot = mass.agg(sum("w6").as("w_tot"))
    val budgets = broadcast(mass.crossJoin(broadcast(tot))
      .withColumn("budget",
        floor(lit(totalTokens.toDouble) * col("w6").cast("double")
          / col("w_tot").cast("double")).cast("long"))
      .select(col(langCol), col("budget")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(langCol)
      .orderBy(md5(concat(lit("mix:"), col(idCol).cast("string"))).asc,
        col(idCol).asc)
    tk.withColumn("cum_before", coalesce(sum("n_tokens").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)), lit(0L)))
      .join(budgets, Seq(langCol))
      .filter(col("cum_before") < col("budget"))
      .select(col(langCol), col(idCol), col("n_tokens"),
        col("cum_before"), col("budget"))
  }

  /** tx temperature mix: α=0.5 language-mixture admission at a 20k
    * token budget over the documents table. */
  private def txTemperatureMix(s: SparkSession, d: String): DataFrame =
    temperatureMix(t(s, d, "documents"), "doc_id", "text", "lang",
      totalTokens = 20000)

  /** tx BPE-ish token counting: word-vs-punctuation segmentation via
    * `\w+|[^\w\s]` (the builder brief's "BPE-ish regex" family) next to
    * the whitespace count — regexp_count keeps it a single scan. */
  private def txBpeTokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id"),
      regexp_count(col("text"), lit("\\w+|[^\\w\\s]")).cast("int")
        .as("n_bpe_tokens"),
      size(tokens(col("text"))).as("n_ws_tokens"),
      regexp_count(col("text"), lit("[^\\w\\s]")).cast("int")
        .as("n_punct"))

  // ---- trained-BPE merge application ----

  /** Fixture merges table (rank = list position, the merges.txt
    * convention) — 16 hand-picked English pairs with genuine nesting
    * ((t,h)→(th,e); (t,i)+(o,n)→(ti,on)) so the merge loop's priority
    * order has real work. The oracle SQL inlines the SAME rows via
    * `bpeMergesValues`. A production vocabulary swaps in its 50k-row
    * merges.txt here unchanged. */
  val bpeMergesFixture: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "a" -> "n",
    "an" -> "d", "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n",
    "o" -> "r", "t" -> "i", "ti" -> "on", "e" -> "s", "o" -> "u",
    "in" -> "g")

  /** The fixture as SQL VALUES rows, so the DuckDB oracle replays the
    * literally-identical table. */
  private def bpeMergesValues: String =
    bpeMergesFixture.zipWithIndex
      .map { case ((a, b), r) => s"('$a','$b',$r)" }.mkString(", ")

  /** Apply the ranked merges to one word — array of BPE pieces (see
    * `functions.BpeEncode` for the algorithm and its scale shape). */
  def bpeMerge(word: Column,
      merges: Seq[(String, String)] = bpeMergesFixture): Column =
    graft.functions.BpeEncode.of(word, merges)

  /** Real-tokenizer token count of a text: Σ pieces over its words.
    * The budget-mix / bin-packing stages plug this in as their
    * `tokenCount` so capacities count what the training run will
    * actually see, not whitespace splits. Per-row, shuffle-free. */
  def bpeMergeCount(text: Column,
      merges: Seq[(String, String)] = bpeMergesFixture): Column =
    coalesce(
      aggregate(
        transform(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0)),
          w => size(bpeMerge(w, merges))),
        lit(0L), (acc, x) => acc + x),
      lit(0L))

  /** Learn `nMerges` BPE merges from a word frame — the TRAIN side of
    * `bpeMerge`: greedily take the most frequent adjacent token pair,
    * add it to the merges list, re-segment, repeat (ties → smaller
    * left token, then smaller right — fixed so both engines agree).
    * Segmentation during learning uses `BpeEncode` itself, so the
    * learned table replays EXACTLY under the apply path — learn and
    * encode can never drift.
    *
    * Scale shape: the corpus is touched ONCE to build the distinct-word
    * histogram (the Sennrich trick — pair counts weight by word
    * frequency, so every iteration works on the vocabulary, not the
    * corpus). The tokenized vocabulary CARRIES FORWARD between
    * iterations: each round re-runs the rank recursion from the
    * previous round's fixpoint via `BpeEncodeTokens` (provably equal
    * to re-encoding from raw characters — see that expression's doc),
    * so iteration i applies only the newest merge's deltas instead of
    * re-applying merges 1..i-1, making learn O(M) in merge count
    * instead of O(M²). Each carried state is persisted with a
    * truncated plan (the connectedComponents discipline: without
    * truncation the logical plan nests one projection per merge and
    * analysis time explodes) and the previous round is released after
    * the argmax materializes it. The only driver traffic is the ONE
    * argmax row per iteration (the same sanctioned shape as the T4
    * set-cover loop). Below `carryForwardThreshold` merges the carry
    * is skipped and each round re-derives tokens from the persisted
    * char split in one expression — the fixed per-round
    * materialization overhead exceeds the O(M²) recompute it avoids
    * at small M. */
  def bpeLearn(words: DataFrame, wordCol: String, nMerges: Int,
      minPairCount: Long = 2L,
      carryForwardThreshold: Int = 16): Seq[(String, String, Long)] = {
    import org.apache.spark.storage.StorageLevel
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    // char-seeded fixpoint under zero merges = the code-point split
    val base = graft.io.Scratch.truncate(
        words.groupBy(col(wordCol).as("w")).agg(count(lit(1)).as("n"))
          .select(bpeMerge(col("w"), Nil).as("t"), col("n")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Carry the tokenized vocab forward only when the merge count
    // amortizes the fixed per-round persist+truncate+materialize cost:
    // at small M the O(M²) re-derivation from the persisted char split
    // (one projection, ofTokens applies all merges in one expression)
    // is cheaper than M materializations (the r9 carry-forward nearly
    // doubled the 8-merge gate), while large M needs the O(M) carry.
    val carry = nMerges > carryForwardThreshold
    var toks: DataFrame = base
    try {
      var done = false
      while (!done && out.size < nMerges) {
        val best = toks
          .select(explode(zip_with(
            slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"), col("n"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("n").as("cnt"))
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (best.isEmpty || best(0).getLong(2) < minPairCount)
          done = true
        else {
          out += ((best(0).getString(0), best(0).getString(1),
            best(0).getLong(2)))
          if (carry) {
            val prev = toks
            // materialized before the old state is released, so the
            // carried chain never recomputes
            toks = graft.io.Scratch.cut(prev.select(
              graft.functions.BpeEncode.ofTokens(col("t"),
                out.toSeq.map(m => (m._1, m._2))).as("t"), col("n")))
            if (!(prev eq base)) prev.unpersist()
          } else
            toks = base.select(
              graft.functions.BpeEncode.ofTokens(col("t"),
                out.toSeq.map(m => (m._1, m._2))).as("t"), col("n"))
        }
      }
      out.toSeq
    } finally {
      if (carry && !(toks eq base)) toks.unpersist()
      base.unpersist(); ()
    }
  }

  /** The gate's word slice, shared by tx_bpe_merge and tx_bpe_learn
    * (and mirrored in both oracles' `words` CTE). */
  private def bpeGateWords(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").filter(col("doc_id") < 40)
      .select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
        col("col").as("word"))
      .filter(col("pos") <= 30)

  /** tx bpe learn: the greedy trainer over the gate slice. The oracle
    * is CONDITIONED on this dump the way x_ann_ivf's is: for every
    * step k it re-segments the vocabulary under merges 0..k-1 (the
    * same recursion as tx_bpe_merge), recounts all pairs, and
    * re-derives the argmax — so each learned merge is verified to be
    * exactly the best pair available at its step, given the previous
    * ones. A trainer that miscounted, broke ties differently, or
    * drifted from the apply path would hash-mismatch at the first
    * wrong step. */
  private def txBpeLearn(s: SparkSession, d: String): DataFrame = {
    val learned = bpeLearn(bpeGateWords(s, d), "word", 8)
    import s.implicits._
    learned.zipWithIndex
      .map { case ((a, b, c), i) => (i, a, b, c) }
      .toDF("r", "a", "b", "cnt")
  }

  /** tx bpe merge: the merge loop over a fixed document slice —
    * absolute doc_id bound so the gate costs the same at every sf
    * (recursion depth is the oracle's cost, not the engine's; the
    * engine side is a scan). One row per word occurrence. */
  private def txBpeMerge(s: SparkSession, d: String): DataFrame =
    bpeGateWords(s, d)
      .withColumn("pieces", bpeMerge(col("word")))
      .select(col("doc_id"), col("pos"), col("word"),
        concat_ws(" ", col("pieces")).as("bpe"),
        size(col("pieces")).as("n_pieces"))

  /** Distinct token n-grams via the native expression (one JVM loop
    * per row) — shared entry point in `TokenNgrams.of`. */
  private def tokenNgrams(tok: Column, n: Int): Column =
    graft.functions.TokenNgrams.of(tok, n)

  // ---- PII scrub (the C4/Dolma redaction pass) ----

  /** PII patterns shared by the Spark scrub and the DuckDB oracle —
    * plain character classes only (no lookaround/backrefs) so Java
    * regex and RE2 agree match-for-match. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails, then phones, then IPv4 addresses with sentinel
    * tokens. The order is part of the contract (a fixed cascade means
    * the scrub composes deterministically across engines); each pass is
    * a codegen'd regexp_replace, so the whole scrub runs at scan
    * speed with zero shuffles. */
  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipv4Re, "<IP>")

  /** Match counts per PII class (pre-scrub), for audit columns. */
  def piiCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit(emailRe)).cast("int").as("n_emails"),
    regexp_count(text, lit(phoneRe)).cast("int").as("n_phones"),
    regexp_count(text, lit(ipv4Re)).cast("int").as("n_ips"))

  /** Gate fixture: plant deterministic PII on a doc_id-keyed subset so
    * the scrub has real work (the synthetic corpus itself is clean).
    * Both engines build the identical augmented string. */
  private def piiAugmented: Column = concat(
    col("text"),
    when(pmod(col("doc_id"), lit(2)) === 0,
      concat(lit(" reach doc"), col("doc_id").cast("string"),
        lit("@mail.example.com"))).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(3)) === 0,
      concat(lit(" call 555-867-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(5)) === 0,
      concat(lit(" from 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit(".1")))
      .otherwise(lit("")))

  /** tx pii scrub: per-class counts + redacted text over the
    * PII-augmented documents table. */
  private def txPiiScrub(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), piiAugmented.as("aug"))
      .select(col("doc_id") +: piiCounts(col("aug")) :+
        piiScrub(col("aug")).as("scrubbed"): _*)

  // ---- corpus-duplicated n-gram fraction (cross-doc repetition) ----

  /** Fraction of a document's distinct token n-grams that appear in at
    * least one OTHER document — the corpus-level repetition signal
    * (boilerplate, templates, near-dup residue) that per-row
    * `repetitionSignals` cannot see. Per-doc grams are distinct (native
    * `TokenNgrams`), so a gram's corpus count IS its document
    * frequency. Plan shape: the df aggregate combines map-side, so the
    * build side carries only distinct grams; at gate scale it
    * broadcasts (the corpus side never shuffles for the join — gated in
    * PlanSpec) and past broadcast size AQE plans a sort-merge join with
    * skew splitting. Deliberately NOT a count-over-window on the gram
    * key: a per-gram sort stragglers on boilerplate grams (one hot
    * gram's rows all sort in one task), the exact hot-key class the
    * asof split exists for — the aggregate+join form lets AQE split
    * skewed grams instead. */
  def corpusDupNgramFrac(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    val grams = docs.select(col(idCol),
      explode(tokenNgrams(tokens(col(textCol)), n)).as("gram"))
    val df = grams.groupBy("gram").agg(count(lit(1)).as("gram_docs"))
    val per = grams.join(df, Seq("gram"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("int").as("n_grams"),
        sum(when(col("gram_docs") > 1, 1).otherwise(0)).cast("int")
          .as("n_dup"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0)).as("n_grams"),
        coalesce(col("n_dup"), lit(0)).as("n_dup"),
        when(coalesce(col("n_grams"), lit(0)) > 0,
          round(col("n_dup").cast("double") / col("n_grams"), 4))
          .as("dup_gram_frac"))
  }

  /** tx dup-ngram fraction: corpus-duplicated 5-gram share per doc. */
  private def txDupNgramFrac(s: SparkSession, d: String): DataFrame =
    corpusDupNgramFrac(t(s, d, "documents"), "doc_id", "text")

  // ---- benchmark decontamination (eval-set n-gram overlap) ----

  /** Eval-set snippets for the decontamination gate — fixed literals,
    * embedded identically in the DuckDB oracle. The first two are
    * concatenations of 4-grams present in EVERY fixture scale
    * (sf0.001/0.01/0.1 — the scales' corpora are independent draws and
    * share no 5-grams, so the gate runs at n=4 to stay non-degenerate
    * at the spec, correctness, and bench scales: 12/15/23 contaminated
    * docs respectively); the third shares nothing anywhere. */
  val evalSnippets: Seq[String] = Seq(
    "agg merge query agg agg order data column agg row batch the " +
      "agg small small batch agg table row scan batch agg query part",
    "batch agg small join batch part column fast batch part join the " +
      "batch row row query batch small part line batch stream sort query",
    "guanitoxin photic zone phosphonate cyanobacteria bloom depth")

  /** Flag documents sharing any token n-gram with an eval set — the
    * train/test decontamination pass of a corpus build. The eval gram
    * set is tiny by construction (benchmarks, not corpora), so the
    * probe is a broadcast join: the 100 TB side never shuffles, hit
    * counts combine map-side, and only the (rare) hit rows reach the
    * doc-keyed aggregate. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      evalTexts: Seq[String], n: Int = 5): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    val evalGrams = broadcast(evalTexts.toDF("etext")
      .select(explode(tokenNgrams(tokens(col("etext")), n)).as("gram"))
      .distinct())
    val hits = docs.select(col(idCol),
        explode(tokenNgrams(tokens(col(textCol)), n)).as("gram"))
      .join(evalGrams, Seq("gram"))
      .groupBy(idCol).agg(count(lit(1)).cast("int").as("n_hit_grams"))
    docs.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hit_grams"), lit(0)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0)) > 0).as("contaminated"))
  }

  /** tx decontam: eval-overlap flags over the documents table (n=4,
    * see evalSnippets). */
  private def txDecontam(s: SparkSession, d: String): DataFrame =
    decontaminate(t(s, d, "documents"), "doc_id", "text", evalSnippets,
      n = 4)

  // ---- deterministic training-order shuffle ----

  /** Global corpus shuffle into training shards: shard membership and
    * the RELATIVE order within a shard are pure functions of the ids
    * (salted-md5 order), so the "randomized" training order is
    * reproducible across runs, engines, and partitionings — the
    * property `orderBy(rand())` loses. Appends never move a doc
    * between shards or reorder existing docs relative to each other,
    * but absolute `pos` values after an inserted hash DO shift by the
    * insertion (it is a dense rank, not a stable offset) — pin a
    * snapshot if byte-stable positions across appends are required.
    * ONE shuffle (the shard-keyed window); shards sort independently
    * and in parallel, so there is no global sort and no
    * single-partition bottleneck at 100 TB. */
  def shardShuffle(docs: DataFrame, idCol: String, nShards: Int,
      salt: String = "shuffle:"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("h").asc, col(idCol).asc)
    docs.select(col(idCol),
        md5(concat(lit(salt), col(idCol).cast("string"))).as("h"))
      .withColumn("shard",
        pmod(conv(substring(col("h"), 1, 4), 16, 10).cast("int"),
          lit(nShards)))
      .withColumn("pos", row_number().over(w))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** tx shard shuffle: 8-shard deterministic training order. */
  private def txShardShuffle(s: SparkSession, d: String): DataFrame =
    shardShuffle(t(s, d, "documents"), "doc_id", 8)

  /** Fixed-width token chunking with overlap (stride < width) — the
    * long-document segmentation step of a training/RAG pipeline.
    * Chunk k covers tokens [k·stride, k·stride + width); chunk count
    * is ceil((n − width)/stride) + 1, min 1, so the final chunk always
    * reaches the document end and short docs yield exactly one chunk.
    * Pure per-row (sequence → posexplode over a materialized token
    * attribute — never the tokenizing expression itself, which a HOF
    * lambda would re-evaluate per chunk): chunking runs at scan speed
    * and the output partitioning inherits the input's. */
  def chunkSplit(docs: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame = {
    require(stride > 0 && stride <= width,
      s"stride $stride must be in (0, width=$width]")
    docs.select(col(idCol), tokens(col(textCol)).as("tok"))
      .withColumn("n_tokens", size(col("tok")))
      .withColumn("n_chunks", greatest(lit(1),
        ceil((col("n_tokens") - width).cast("double") / stride)
          .cast("int") + 1))
      .select(col(idCol), col("tok"), col("n_tokens"),
        posexplode(sequence(lit(0), col("n_chunks") - 1))
          .as(Seq("chunk_id", "k")))
      .select(col(idCol), col("chunk_id"),
        least(lit(width), col("n_tokens") - col("k") * stride)
          .cast("int").as("chunk_tokens"),
        array_join(slice(col("tok"), col("k") * stride + 1, lit(width)),
          " ").as("chunk_text"))
  }

  /** tx chunk split: 64-token chunks at stride 48 over documents. */
  private def txChunkSplit(s: SparkSession, d: String): DataFrame =
    chunkSplit(t(s, d, "documents"), "doc_id", "text", 64, 48)

  /** BM25 top-k retrieval for a literal query-term list — the lexical
    * search/ranking primitive of a data pipeline (e.g. pulling
    * topic-relevant documents out of a crawl). Classic Robertson BM25:
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)).
    *
    * Scale shape: corpus statistics (N, Σ|d|, per-term document
    * frequency) come from ONE full aggregate — partial map-side, the
    * shuffle carries one row per partition — broadcast back as a
    * 1-row cross join. Scoring is then a pure per-row expression
    * (no explode, no shuffle: tf per term via an array filter on the
    * token attribute), and the top-k is orderBy+limit, which Spark
    * plans as TakeOrderedAndProject — per-partition heaps of k rows,
    * never a global sort. Two corpus scans total, k ≪ corpus rows
    * moved.
    *
    * `logIdf = true` is the standard ln(1 + (N−df+0.5)/(df+0.5)).
    * `false` uses the raw odds ratio (N−df+0.5)/(df+0.5) — same
    * ordering for single-term queries and near-identical top-k
    * behavior, but exactly reproducible across engines (libm `ln` is
    * not correctly-rounded, so cross-engine gates use this form). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75, logIdf: Boolean = true): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate query terms: $queryTerms")
    val tok = docs.select(col(idCol), tokens(col(textCol)).as("tok"))
      .withColumn("dl", size(col("tok")).cast("double"))
    val statAggs =
      count(lit(1)).cast("double").as("n_docs") +:
      sum(col("dl").cast("long")).cast("double").as("tot_len") +:
      queryTerms.zipWithIndex.map { case (term, i) =>
        sum(when(array_contains(col("tok"), term), 1L).otherwise(0L))
          .cast("double").as(s"df_$i") }
    val stats = tok.agg(statAggs.head, statAggs.tail: _*)
    // every arithmetic step below is mirrored op-for-op in the oracle
    // SQL: IEEE +,-,*,/ are correctly rounded, so identical operand
    // order ⇒ bit-identical doubles on both engines
    val avgdl = col("tot_len") / col("n_docs")
    val perTerm = queryTerms.zipWithIndex.map { case (term, i) =>
      val tf = size(filter(col("tok"), x => x === term)).cast("double")
      val odds = (col("n_docs") - col(s"df_$i") + lit(0.5)) /
        (col(s"df_$i") + lit(0.5))
      val idf = if (logIdf) log(odds + lit(1.0)) else odds
      idf * ((tf * (lit(k1) + lit(1.0))) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl") / avgdl))))
    }
    tok.crossJoin(broadcast(stats))
      .withColumn("score", perTerm.reduceLeft(_ + _))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }

  private[graft] val bm25Terms = Seq("vector", "stream", "merge")

  /** tx bm25: top 15 documents for a 3-term query (odds-ratio idf —
    * see `bm25TopK` on why the gate form avoids `ln`). */
  private def txBm25(s: SparkSession, d: String): DataFrame =
    bm25TopK(t(s, d, "documents"), "doc_id", "text",
      bm25Terms, 15, logIdf = false)

  /** tx vocab top-k: per-language token frequencies, top 20 — the
    * vocabulary-counting pass of tokenizer training. The token count
    * partial-aggregates map-side (the shuffle carries the per-partition
    * VOCAB, not the corpus), and the per-language top-k window sorts
    * the aggregated vocabulary — which grows sublinearly with corpus
    * size — never the token stream. */
  private def txVocabTopk(s: SparkSession, d: String): DataFrame = {
    val counts = t(s, d, "documents")
      .select(col("lang"), explode(tokens(lower(col("text")))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("token").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("lang"), col("rank"), col("token"), col("n"))
  }

  /** Count-Min SKETCH of a token stream (Cormode & Muthukrishnan
    * 2005) — the point-frequency companion to Misra-Gries top-k: a
    * depth×width counter grid (~80 kB) built in one pass that answers
    * "how often does token t occur" for ANY t without a shuffle,
    * merges across shards/days (counter adds commute, so estimates
    * are partitioning-invariant EXACTLY), and NEVER undercounts
    * (est ≥ true is deterministic; overcount is the bounded ε·N
    * collision mass). Spark's built-in distributed builder
    * (`df.stat.countMinSketch`), seeded → deterministic. */
  def cmsTokenSketch(docs: DataFrame, textCol: String,
      depth: Int = 5, width: Int = 2048, seed: Int = 42)
      : org.apache.spark.util.sketch.CountMinSketch =
    docs.select(explode(tokens(lower(col(textCol)))).as("tok"))
      .stat.countMinSketch("tok", depth, width, seed)

  /** tx cms freq: CMS estimates for the exact top-30 tokens (a
    * bounded probe set — production probes arrive from the query
    * side; the exact pick here is gate scaffolding, the sketch build
    * is the library op). Oracle: CONDITIONED predicate — DuckDB
    * recomputes exact counts, re-derives the same probe set, and
    * echoes a dumped row only when est ∈ [exact, exact +
    * max(50, 8N/width)], so an undercount (impossible for a correct
    * CMS), probe-set drift, or sketch nondeterminism
    * row-count-mismatches. Bounds live in the predicate. */
  private def txCmsFreq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = t(s, d, "documents")
    val cms = cmsTokenSketch(docs, "text")
    val probes = docs
      .select(explode(tokens(lower(col("text")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(30)
      .select("tok").as[String].collect() // bounded: 30 probe tokens
    probes.toSeq.map(p => (p, cms.estimateCount(p)))
      .toDF("token", "est_freq")
  }

  /** EXACT per-language heavy hitters (top-k tokens) with BOUNDED
    * shuffle — the scale path `txVocabTopk`'s full-vocabulary
    * aggregate cannot take when the vocabulary itself is shuffle-sized
    * (web-scale corpora: billions of distinct typo/URL/number tokens).
    *
    * Two scans, never a full-vocab shuffle:
    *  1. a per-partition Misra-Gries summary (`m` counters per
    *     language) over the exploded token stream — pure mapPartitions,
    *     no shuffle; each partition emits ≤ m rows per language. The
    *     classic guarantee composes across partitions: a token with
    *     global count > N_lang/m must exceed its partition-local bound
    *     n_p/m somewhere, so it SURVIVES into the candidate union.
    *  2. an exact recount of candidates only: broadcast semi-join on
    *     the candidate set (≤ partitions×m rows, in practice ≪), then
    *     a map-side-combined count whose shuffle carries ≤ partitions ×
    *     |candidates| rows.
    *
    * The result is the EXACT top-k by true count provided the k-th
    * heaviest token's count exceeds N_lang/m (the caller sizes m; the
    * gate's margin is pinned in HeavyHittersSpec). Ties break token-asc,
    * so output is deterministic. The final per-language rank windows
    * the candidate counts — bounded rows — never the corpus. */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int,
      m: Int): DataFrame = {
    require(k > 0 && m > k,
      s"need m > k > 0 (m=$m counters must at least hold the top k=$k)")
    import docs.sparkSession.implicits._
    val toks = docs
      .select(col("lang"), explode(tokens(lower(col(textCol)))).as("token"))
    val partials = toks.as[(String, String)].mapPartitions { it =>
      val perLang = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.Map[String, Long]]
      it.foreach { case (lang, tok) =>
        val mg = perLang.getOrElseUpdate(lang,
          scala.collection.mutable.Map.empty[String, Long])
        if (mg.contains(tok) || mg.size < m) {
          mg.update(tok, mg.getOrElse(tok, 0L) + 1L)
        } else {
          // Misra-Gries decrement: all m counters down one; zeros free
          // their slot. Each decrement retires m+1 stream items (the m
          // counted + the arriving one), hence the n_p/m error bound.
          val dead = mg.iterator
            .flatMap { case (t, c) => if (c == 1L) Some(t) else None }
            .toList
          mg.mapValuesInPlace((_, c) => c - 1L)
          dead.foreach(mg.remove)
        }
      }
      perLang.iterator.flatMap { case (lang, mg) =>
        mg.iterator.map { case (tok, c) => (lang, tok, c) }
      }
    }.toDF("lang", "token", "c_lb")
    val candidates = partials.select("lang", "token").distinct()
    val exact = toks
      .join(broadcast(candidates), Seq("lang", "token"), "left_semi")
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("token").asc)
    exact.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("token"), col("n"))
  }

  /** tx heavy hitters: exact per-language top-15 at m=64 counters.
    * Guarantee margin on the gate data: the 15th count exceeds
    * N_lang/64 in every language (pinned by HeavyHittersSpec), so the
    * bounded-shuffle path provably equals the exact oracle. */
  private def txHeavyHitters(s: SparkSession, d: String): DataFrame =
    heavyHitters(t(s, d, "documents"), "text", k = 15, m = 64)

  /** Corpus-level duplicated-passage removal — the C4/CCNet dedup rule
    * applied to a token stream: documents tile into NON-overlapping
    * `width`-token passages (the last tile may be shorter); every
    * passage whose exact token sequence occurs more than once ACROSS
    * the corpus keeps only its first occurrence (smallest
    * (doc id, tile index)) and every other occurrence is cut; each
    * document reassembles from its surviving tiles in order. The
    * TRANSFORM counterpart of `dupNgramFraction` (which only scores
    * boilerplate) and the passage-level counterpart of document dedup
    * (which keeps or drops whole docs). Returns one row per input doc:
    * (id, text = cleaned, n_tiles, n_cut) — a doc whose every tile was
    * cut keeps its row with empty text, so downstream length/quality
    * filters see it.
    *
    * Scale shape: the corpus tiles once (per-row explode, no shuffle);
    * the keeper per distinct passage is ONE map-side-combined
    * min-aggregate — never a passage-keyed window, which would put a
    * hot boilerplate passage's every occurrence on one task; the
    * keep/cut decision is an equi-join back on the passage (AQE
    * skew-split applies, the aggregated side has one row per DISTINCT
    * passage); reassembly and the per-doc totals are id-keyed
    * aggregates that co-partition with their join. Nothing is ever
    * quadratic in occurrence count. */
  def dedupPassages(docs: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    require(width > 0, s"width must be positive: $width")
    // null text coalesces to empty up front: tokens(NULL) would tile to
    // a NULL passage, which the keeper equi-join drops (NULL never
    // equals NULL) — the doc would read as cut when nothing was
    // duplicated. Coalesced, a null doc behaves exactly like an empty
    // one on both engines.
    val clean = docs.select(col(idCol),
      coalesce(col(textCol), lit("")).as(textCol))
    // non-overlapping tiles = chunkSplit at stride == width (same
    // ceil(n/width)-min-1 count, same 1-based slices) — one tested
    // segmentation rule, not two
    val tiled = chunkSplit(clean, idCol, textCol, width, width)
      .select(col(idCol), col("chunk_id").as("tile_id"),
        col("chunk_text").as("passage"))
    // first occurrence per distinct passage: lexicographic struct min
    val keeper = tiled.groupBy("passage")
      .agg(min(struct(col(idCol).as("kid"), col("tile_id").as("kt")))
        .as("first_occ"))
    val kept = tiled.join(keeper, Seq("passage"))
      .filter(col("first_occ.kid") === col(idCol) &&
        col("first_occ.kt") === col("tile_id"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        sort_array(collect_list(struct(col("tile_id").as("t"),
          col("passage").as("p")))).as("ps"))
      .select(col(idCol), col("n_kept"),
        array_join(transform(col("ps"), x => x.getField("p")), " ")
          .as("clean_text"))
    // per-doc totals come from the UN-exploded frame — a per-row
    // expression, no third aggregation over the tiled corpus
    val totals = clean.select(col(idCol),
      greatest(lit(1), ceil(size(tokens(col(textCol))).cast("double")
        / width).cast("int")).as("n_tiles"))
    totals.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as(textCol),
        col("n_tiles"),
        (col("n_tiles") - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_cut"))
  }

  /** tx passage dedup: 8-token tiles over documents (the sf0.01
    * fixture's planted duplicate docs yield 328 cut occurrences across
    * 153 distinct duplicated passages). */
  private def txDedupPassages(s: SparkSession, d: String): DataFrame =
    dedupPassages(t(s, d, "documents"), "doc_id", "text", 8)

  // ---- URL hygiene (web-corpus curation: canonicalize source URLs,
  // then cap documents per registered domain) ----

  /** Deterministic MESSY-URL fixture shared with the DuckDB oracle:
    * scheme/host case noise, www. prefixes, default :443 ports,
    * utm_* tracking params mixed into real ones, fragments, trailing
    * slashes — every normalizer-relevant shape, varied by doc_id.
    * (The test tables carry no URL column; the op under test is the
    * normalization, so both engines derive the same mess.) */
  def synthUrl(docId: Column, lang: Column, source: Column): Column = {
    val m2 = pmod(docId, lit(2)); val m3 = pmod(docId, lit(3))
    val m4 = pmod(docId, lit(4)); val m5 = pmod(docId, lit(5))
    concat(
      when(m2 === 0, "https").otherwise(lit("HTTPS")), lit("://"),
      when(m3 === 0, "WWW.").otherwise(lit("")), source,
      when(m3 === 0, ".COM").when(m3 === 1, ".com").otherwise(lit(".Org")),
      when(m5 === 0, ":443").otherwise(lit("")),
      lit("/"), lang, lit("/item/"), pmod(docId, lit(50)),
      when(m4 === 0, "/").otherwise(lit("")),
      when(m2 === 0, concat(lit("?utm_source=feed&id="), pmod(docId, lit(7))))
        .when(m5 === 1, concat(lit("?id="), pmod(docId, lit(7)),
          lit("&utm_medium=m")))
        .otherwise(lit("")),
      when(m3 > 0, concat(lit("#sec"), m3)).otherwise(lit("")))
  }

  /** URL canonicalization — the web-pipeline dedup key derivation:
    * lowercase scheme+host, strip `www.`, drop the port when it is the
    * scheme default (keep a non-default one), drop the fragment, drop
    * `utm_*` tracking params (preserving the remaining params' order),
    * strip the trailing slash off non-root paths, and extract the
    * registered domain (last two host labels). Pure per-row regex +
    * higher-order array work — shuffle-free, codegen-friendly, scans at
    * parquet speed at any corpus size. */
  def normalizeUrl(df: DataFrame, urlCol: String): DataFrame = {
    val url = col(urlCol)
    val scheme = lower(regexp_extract(url,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = lower(regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val rest = regexp_replace(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val path = regexp_extract(rest, "^([^?#]*)", 1)
    val query = regexp_extract(rest, "\\?([^#]*)", 1)
    val port = regexp_extract(auth, ":(\\d+)$", 1)
    val host = regexp_replace(regexp_replace(auth, ":\\d+$", ""),
      "^www\\.", "")
    val defPort = when(scheme === "https", "443")
      .when(scheme === "http", "80").otherwise(lit(""))
    val keptParams = filter(split(query, "&"),
      p => p =!= "" && substring(p, 1, 4) =!= "utm_")
    val pathNorm = when(path === "", "/")
      .when(length(path) > 1, regexp_replace(path, "/$", ""))
      .otherwise(path)
    df.withColumn("host", host)
      .withColumn("domain",
        regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
      .withColumn("url_norm", concat(
        scheme, lit("://"), host,
        when(port =!= "" && port =!= defPort, concat(lit(":"), port))
          .otherwise(lit("")),
        pathNorm,
        when(size(keptParams) > 0,
          concat(lit("?"), array_join(keptParams, "&")))
          .otherwise(lit(""))))
  }

  /** tx url normalize: canonicalize the synthetic messy URLs. The
    * oracle rebuilds the same mess in SQL and normalizes it with its
    * own string ops — a regex drift on any of the five noise shapes
    * (case, www, port, utm, trailing slash) mismatches. */
  private def txUrlNormalize(s: SparkSession, d: String): DataFrame =
    normalizeUrl(
      t(s, d, "documents")
        .select(col("doc_id"),
          synthUrl(col("doc_id"), col("lang"), col("source")).as("url")),
      "url")
      .select("doc_id", "url", "url_norm", "host", "domain")

  /** Per-domain document cap — the web-corpus anti-spam curation op
    * ("no domain contributes more than k documents"), ranked by size
    * then id so the kept set is deterministic. One shuffle on the
    * domain key; at 100 TB the rank-k window beats a global sort by
    * never materializing beyond each domain's partition. */
  def capPerDomain(docs: DataFrame, domainCol: String, k: Int,
      orderBy: Seq[Column]): DataFrame = {
    require(k > 0, s"cap k=$k must be > 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(domainCol).orderBy(orderBy: _*)
    docs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** tx domain cap: ≤25 docs per registered domain (largest first,
    * doc_id tiebreak) over the normalized synthetic URLs. */
  private def txDomainCap(s: SparkSession, d: String): DataFrame =
    capPerDomain(
      normalizeUrl(
        t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            synthUrl(col("doc_id"), col("lang"), col("source"))
              .as("url")),
        "url").select("doc_id", "n_chars", "domain"),
      "domain", 25,
      Seq(col("n_chars").desc, col("doc_id").asc))
      .withColumn("rnk", col("rnk").cast("int"))

  /** Nucleus (top-p) vocabulary cut: per language, the smallest
    * count-descending prefix of the vocabulary whose cumulative mass
    * reaches p — the tokenizer-vocab / decoding-nucleus analysis op.
    * Admission is an EXCLUSIVE integer prefix test (keep while
    * cum_before·10 < total·9 for p=0.9): exact integer arithmetic on
    * both engines, no float cumprob near a boundary. One token-count
    * aggregate (map-side partial), two windows on the language key. */
  def vocabTopP(docs: DataFrame, langCol: String, textCol: String,
      pNumer: Int, pDenom: Int): DataFrame = {
    require(pNumer > 0 && pNumer < pDenom,
      s"p = $pNumer/$pDenom must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val cnt = docs
      .select(col(langCol), explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(langCol, "token").agg(count(lit(1)).as("cnt"))
    val ord = Window.partitionBy(langCol)
      .orderBy(col("cnt").desc, col("token").asc)
    cnt
      .withColumn("rnk", row_number().over(ord).cast("int"))
      .withColumn("cum_before", coalesce(sum("cnt").over(
        ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total",
        sum("cnt").over(Window.partitionBy(langCol)))
      .filter(col("cum_before") * pDenom < col("total") * pNumer)
      .select(col(langCol), col("token"), col("cnt"), col("rnk"))
  }

  /** tx vocab top-p: the p=0.9 nucleus of each language's unigram
    * distribution (count desc, token asc tiebreak). */
  private def txVocabTopp(s: SparkSession, d: String): DataFrame =
    vocabTopP(t(s, d, "documents"), "lang", "text", 9, 10)

  /** DuckDB fragment rebuilding the synthUrl mess + the parse stages
    * of normalizeUrl (shared by the two URL oracles). Yields columns:
    * doc_id, n_chars, url, scheme, port, defport, host, params,
    * path_norm. */
  private def urlOracleCte: String =
    """u AS (
         SELECT doc_id, n_chars,
           (CASE WHEN doc_id%2=0 THEN 'https' ELSE 'HTTPS' END)
           || '://' ||
           (CASE WHEN doc_id%3=0 THEN 'WWW.' ELSE '' END) || source ||
           (CASE WHEN doc_id%3=0 THEN '.COM'
                 WHEN doc_id%3=1 THEN '.com' ELSE '.Org' END) ||
           (CASE WHEN doc_id%5=0 THEN ':443' ELSE '' END) ||
           '/' || lang || '/item/' || CAST(doc_id%50 AS VARCHAR) ||
           (CASE WHEN doc_id%4=0 THEN '/' ELSE '' END) ||
           (CASE WHEN doc_id%2=0 THEN '?utm_source=feed&id='
                   || CAST(doc_id%7 AS VARCHAR)
                 WHEN doc_id%5=1 THEN '?id='
                   || CAST(doc_id%7 AS VARCHAR) || '&utm_medium=m'
                 ELSE '' END) ||
           (CASE WHEN doc_id%3>0 THEN '#sec'
              || CAST(doc_id%3 AS VARCHAR) ELSE '' END) AS url
         FROM documents),
       pp AS (
         SELECT *,
           lower(regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           lower(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
           regexp_replace(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
         FROM u),
       qq AS (
         SELECT *,
           regexp_extract(rest, '^([^?#]*)', 1) AS pth,
           regexp_extract(rest, '\?([^#]*)', 1) AS qry,
           regexp_extract(auth, ':([0-9]+)$', 1) AS port,
           regexp_replace(regexp_replace(auth, ':[0-9]+$', ''),
             '^www\.', '') AS host
         FROM pp),
       rr AS (
         SELECT *,
           CASE WHEN scheme='https' THEN '443'
                WHEN scheme='http' THEN '80' ELSE '' END AS defport,
           list_filter(string_split(qry, '&'),
             x -> x <> '' AND x[1:4] <> 'utm_') AS params,
           CASE WHEN pth='' THEN '/'
                WHEN length(pth)>1 THEN regexp_replace(pth, '/$', '')
                ELSE pth END AS path_norm
         FROM qq)"""

  private def langidOracle: String = {
    val vals = stopwords.toSeq.sortBy(_._1)
      .flatMap { case (lang, ws) => ws.map(w => s"('$lang', '$w')") }
      .mkString(", ")
    val fallback = stopwords.keys.min
    s"""WITH profile(lang, word) AS (VALUES $vals),
     toks AS (
       SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
       FROM documents),
     hits AS (
       SELECT doc_id, lang, count(*) AS hits
       FROM toks JOIN profile USING (word)
       GROUP BY doc_id, lang),
     w AS (
       SELECT doc_id, lang, hits, row_number() OVER (PARTITION BY doc_id
         ORDER BY hits DESC, lang ASC) AS rn
       FROM hits)
     SELECT d.doc_id,
       coalesce(w.lang, '$fallback') AS lang_pred,
       CAST(coalesce(w.hits, 0) AS INT) AS profile_hits
     FROM documents d
     LEFT JOIN (SELECT * FROM w WHERE rn = 1) w USING (doc_id)"""
  }

  /** DuckDB fragment mirroring `TokenNgrams` (distinct token n-grams
    * of a token-list expression). */
  private def duckGrams(tokExpr: String, n: Int): String =
    s"list_distinct(list_transform(" +
      s"range(1, greatest(1, len($tokExpr) - ${n - 2})), " +
      s"i -> array_to_string($tokExpr[i:i+${n - 1}], ' ')))"

  private def piiOracle: String =
    s"""WITH aug AS (
       SELECT doc_id, text ||
         CASE WHEN doc_id % 2 = 0 THEN ' reach doc' ||
           CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
         CASE WHEN doc_id % 3 = 0 THEN ' call 555-867-' ||
           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
         CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' ||
           CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END AS aug
       FROM documents)
     SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '$emailRe')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(aug, '$phoneRe')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(aug, '$ipv4Re')) AS INT) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(aug,
         '$emailRe', '<EMAIL>', 'g'),
         '$phoneRe', '<PHONE>', 'g'),
         '$ipv4Re', '<IP>', 'g') AS scrubbed
     FROM aug"""

  private def dupNgramOracle: String = {
    val g = duckGrams("tok", 5)
    s"""WITH tk AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
         FROM documents),
       g AS (SELECT doc_id, unnest($g) AS gram FROM tk),
       df AS (SELECT gram, count(*) AS gram_docs FROM g GROUP BY gram),
       per AS (
         SELECT g.doc_id, CAST(count(*) AS INT) AS n_grams,
           CAST(sum(CASE WHEN df.gram_docs > 1 THEN 1 ELSE 0 END) AS INT)
             AS n_dup
         FROM g JOIN df USING (gram) GROUP BY g.doc_id)
     SELECT d.doc_id,
       coalesce(per.n_grams, 0) AS n_grams,
       coalesce(per.n_dup, 0) AS n_dup,
       CASE WHEN coalesce(per.n_grams, 0) > 0
         THEN round(per.n_dup * 1.0 / per.n_grams, 4) END
         AS dup_gram_frac
     FROM documents d LEFT JOIN per USING (doc_id)"""
  }

  private def decontamOracle: String = {
    val vals = evalSnippets
      .map(x => s"('${x.replace("'", "''")}')").mkString(", ")
    val g = duckGrams("tok", 4)
    s"""WITH ev(etext) AS (VALUES $vals),
       etk AS (SELECT string_split_regex(trim(etext), '\\s+') AS tok
         FROM ev),
       eg AS (SELECT DISTINCT unnest($g) AS gram FROM etk),
       tk AS (SELECT doc_id,
           string_split_regex(trim(text), '\\s+') AS tok
         FROM documents),
       dg AS (SELECT doc_id, unnest($g) AS gram FROM tk),
       hits AS (
         SELECT doc_id, CAST(count(*) AS INT) AS n_hit_grams
         FROM dg JOIN eg USING (gram) GROUP BY doc_id)
     SELECT d.doc_id,
       coalesce(h.n_hit_grams, 0) AS n_hit_grams,
       coalesce(h.n_hit_grams, 0) > 0 AS contaminated
     FROM documents d LEFT JOIN hits h USING (doc_id)"""
  }

  /** Mirrors `bm25TopK`'s arithmetic op-for-op (same literals, same
    * parenthesization, same left-assoc term sum) so the double scores
    * are bit-identical — see the operator's scaladoc. */
  private def bm25Oracle: String = {
    val dfAggs = bm25Terms.zipWithIndex.map { case (term, i) =>
      s"""CAST(sum(CASE WHEN list_contains(tok, '$term')
            THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i""" }.mkString(",\n    ")
    val termScores = bm25Terms.zipWithIndex.map { case (term, i) =>
      s"""((n_docs - df_$i + 0.5) / (df_$i + 0.5)) *
          ((CAST(len(list_filter(tok, x -> x = '$term')) AS DOUBLE) *
             (1.2 + 1.0)) /
           (CAST(len(list_filter(tok, x -> x = '$term')) AS DOUBLE) +
             1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot_len / n_docs)))))"""
    }.mkString("\n    + ")
    s"""WITH tk AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
         FROM documents),
       sized AS (
         SELECT doc_id, tok, CAST(len(tok) AS DOUBLE) AS dl FROM tk),
       stats AS (
         SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) AS tot_len,
           $dfAggs
         FROM sized),
       scored AS (
         SELECT doc_id,
           $termScores AS score
         FROM sized CROSS JOIN stats)
       SELECT doc_id, score FROM scored WHERE score > 0
       ORDER BY score DESC, doc_id LIMIT 15"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("tx_dedup_passages", txDedupPassages _, Some(
      """WITH tk AS (
           SELECT doc_id,
             string_split_regex(trim(coalesce(text, '')), '\s+') AS tok
           FROM documents),
         sized AS (
           SELECT doc_id, tok,
             greatest(1, CAST(ceil(len(tok) * 1.0 / 8) AS INT))
               AS n_tiles
           FROM tk),
         tiled AS (
           SELECT doc_id, tok,
             CAST(unnest(range(0, n_tiles)) AS INT) AS tile_id
           FROM sized),
         p AS (
           SELECT doc_id, tile_id,
             array_to_string(tok[tile_id * 8 + 1 : tile_id * 8 + 8],
               ' ') AS passage
           FROM tiled),
         flt AS (
           SELECT doc_id, tile_id, passage,
             row_number() OVER (PARTITION BY passage
               ORDER BY doc_id, tile_id) AS rn
           FROM p),
         reb AS (
           SELECT doc_id, count(*) AS n_kept,
             string_agg(passage, ' ' ORDER BY tile_id) AS clean_text
           FROM flt WHERE rn = 1 GROUP BY doc_id),
         tot AS (
           SELECT doc_id, count(*) AS n_tiles FROM p GROUP BY doc_id)
         SELECT t.doc_id,
           coalesce(r.clean_text, '') AS text,
           CAST(t.n_tiles AS INT) AS n_tiles,
           CAST(t.n_tiles - coalesce(r.n_kept, 0) AS INT) AS n_cut
         FROM tot t LEFT JOIN reb r USING (doc_id)""")),
    Gate("tx_bpe_tokens", txBpeTokens _, Some(
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT)
           AS n_bpe_tokens,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
           AS n_ws_tokens,
         CAST(len(regexp_extract_all(text, '[^\w\s]')) AS INT)
           AS n_punct
         FROM documents""")),
    // replays BpeEncode's exact recursion: per step, the candidate
    // pairs are ranked via the merges MAP, the (rank, leftmost) min
    // merges ONE occurrence, and a word is final when no adjacent pair
    // has a rank. Bounded: ≤ len(word)-1 steps per word.
    Gate("tx_bpe_merge", txBpeMerge _, Some(
      s"""WITH RECURSIVE
         m(a, b, r) AS (FROM (VALUES $bpeMergesValues) t(a, b, r)),
         mm AS (SELECT map(list(a || ' ' || b), list(r)) AS mp FROM m),
         words AS (
           SELECT doc_id, CAST(pos AS INT) AS pos, w FROM (
             SELECT doc_id, generate_subscripts(ws, 1) AS pos,
               unnest(ws) AS w
             FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z]+') AS ws
                   FROM documents WHERE doc_id < 40) d)
           WHERE pos <= 30),
         rec AS (
           SELECT doc_id, pos, w, string_split(w, '') AS toks FROM words
           UNION ALL
           SELECT doc_id, pos, w,
             toks[1:best.i-1] || [toks[best.i] || toks[best.i+1]] ||
               toks[best.i+2:]
           FROM (
             SELECT doc_id, pos, w, toks,
               list_sort(list_filter(
                 list_transform(range(1, len(toks)), i ->
                   {'r': mp[toks[i] || ' ' || toks[i+1]][1], 'i': i}),
                 x -> x.r IS NOT NULL))[1] AS best
             FROM rec, mm) s
           WHERE best IS NOT NULL)
         SELECT doc_id, pos, w AS word,
           array_to_string(toks, ' ') AS bpe,
           CAST(len(toks) AS INT) AS n_pieces
         FROM rec, mm
         WHERE len(list_filter(
             list_transform(range(1, len(toks)), i ->
               mp[toks[i] || ' ' || toks[i+1]][1]),
             x -> x IS NOT NULL)) = 0""")),
    // CONDITIONED on the engine's own merges dump (the x_ann_ivf
    // pattern): for every learned step k, re-segment the distinct-word
    // vocabulary under merges ranked < k (the SAME BpeEncode recursion
    // the tx_bpe_merge oracle replays), recount all adjacent pairs
    // weighted by word frequency, and re-derive the argmax under the
    // engine's tie order (cnt DESC, a ASC, b ASC). Row k of the dump
    // must BE that argmax — a trainer that miscounted, broke ties
    // differently, or whose learn path drifted from the apply path
    // hash-mismatches at the first wrong step.
    Gate("tx_bpe_learn", txBpeLearn _, Some(
      """WITH RECURSIVE
         m AS (SELECT a, b, r
               FROM parquet_scan('__OUTDIR__/tx_bpe_learn/*.parquet')),
         steps AS (
           SELECT unnest(range(0, (SELECT count(*) FROM m))) AS k),
         mm AS (
           SELECT s.k,
             map(coalesce(list(m.a || ' ' || m.b)
                   FILTER (WHERE m.a IS NOT NULL), []),
                 coalesce(list(m.r)
                   FILTER (WHERE m.a IS NOT NULL), [])) AS mp
           FROM steps s LEFT JOIN m ON m.r < s.k
           GROUP BY s.k),
         words AS (
           SELECT doc_id, CAST(pos AS INT) AS pos, w FROM (
             SELECT doc_id, generate_subscripts(ws, 1) AS pos,
               unnest(ws) AS w
             FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z]+') AS ws
                   FROM documents WHERE doc_id < 40) d)
           WHERE pos <= 30),
         vocab AS (SELECT w, count(*) AS n FROM words GROUP BY w),
         rec AS (
           SELECT s.k, v.w, v.n, string_split(v.w, '') AS toks
           FROM vocab v, steps s
           UNION ALL
           SELECT k, w, n,
             toks[1:best.i-1] || [toks[best.i] || toks[best.i+1]] ||
               toks[best.i+2:]
           FROM (
             SELECT r2.k, w, n, toks,
               list_sort(list_filter(
                 list_transform(range(1, len(toks)), i ->
                   {'r': mp[toks[i] || ' ' || toks[i+1]][1], 'i': i}),
                 x -> x.r IS NOT NULL))[1] AS best
             FROM rec r2 JOIN mm ON mm.k = r2.k) s
           WHERE best IS NOT NULL),
         fin AS (
           SELECT r2.k, w, n, toks
           FROM rec r2 JOIN mm ON mm.k = r2.k
           WHERE len(list_filter(
               list_transform(range(1, len(toks)), i ->
                 mp[toks[i] || ' ' || toks[i+1]][1]),
               x -> x IS NOT NULL)) = 0),
         pairs AS (
           SELECT k, p.a AS a, p.b AS b, sum(n) AS cnt FROM (
             SELECT k, n,
               unnest(list_transform(range(1, len(toks)), i ->
                 {'a': toks[i], 'b': toks[i+1]})) AS p
             FROM fin) GROUP BY 1, 2, 3)
         SELECT CAST(k AS INT) AS r, a, b, CAST(cnt AS BIGINT) AS cnt
         FROM (SELECT k, a, b, cnt,
                 row_number() OVER (PARTITION BY k
                   ORDER BY cnt DESC, a ASC, b ASC) AS rk
               FROM pairs) x
         WHERE rk = 1""")),
    Gate("tx_token_stats", txTokenStats _, Some(
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
           AS n_tokens,
         CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
           AS INT) AS n_distinct_tokens,
         CAST(length(text) AS INT) AS n_chars
         FROM documents""")),
    Gate("tx_gopher_rules", txGopherRules _, Some(
      """WITH d AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS tok,
             length(regexp_replace(trim(text), '\s+', '', 'g')) AS chars
           FROM documents),
         m AS (
           SELECT doc_id, len(tok) AS n, chars,
             len(list_filter(tok,
               t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_w,
             len(list_filter(tok, t -> t IN
               ('the','a','of','and','in','to','is'))) AS stop_hits,
             len(tok) - len(list_distinct(tok)) AS n_dup
           FROM d)
         SELECT doc_id, CAST(n AS INT) AS n_words,
           CAST(n BETWEEN 50 AND 100000 AS INT) AS r_nwords,
           CAST(chars BETWEEN 3 * n AND 10 * n AS INT) AS r_wordlen,
           CAST(alpha_w * 5 >= n * 4 AS INT) AS r_alpha,
           CAST(stop_hits >= 2 AS INT) AS r_stop,
           CAST(n_dup * 2 <= n AS INT) AS r_dup,
           CAST(n BETWEEN 50 AND 100000
             AND chars BETWEEN 3 * n AND 10 * n
             AND alpha_w * 5 >= n * 4
             AND stop_hits >= 2
             AND n_dup * 2 <= n AS INT) AS keep
         FROM m""")),
    Gate("tx_winnow", txWinnow _, Some(
      """WITH d AS (
           SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, CAST(r.p AS INT) AS p,
             md5(array_to_string(tk[r.p : r.p + 2], ' ')) AS h
           FROM d, unnest(range(1, len(tk) - 1)) AS r(p)
           WHERE len(tk) >= 3),
         sel AS (
           SELECT doc_id, p,
             min(h || '|' ||
               lpad(CAST(10000000 - p AS VARCHAR), 8, '0')) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s
           FROM g),
         fp AS (
           SELECT DISTINCT doc_id, s FROM sel WHERE p >= 4)
         SELECT doc_id,
           CAST(10000000 - CAST(substr(s, 34, 8) AS INT) AS INT)
             AS fp_pos,
           substr(s, 1, 32) AS fp_hash
         FROM fp""")),
    Gate("tx_corpus_report", txCorpusReport _, Some(
      """WITH d AS (
           SELECT lang, source, text,
             string_split_regex(trim(text), '\s+') AS tok,
             length(text) AS chars_total,
             length(regexp_replace(trim(text), '\s+', '', 'g'))
               AS chars,
             md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
               '\s+', ' ', 'g'))) AS fp
           FROM documents),
         m AS (
           SELECT lang, source, tok, chars, chars_total,
             len(tok) AS n,
             len(list_filter(tok,
               t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_w,
             len(list_filter(tok, t -> t IN
               ('the','a','of','and','in','to','is'))) AS stop_hits,
             len(tok) - len(list_distinct(tok)) AS n_dup,
             CASE WHEN count(*) OVER (PARTITION BY fp) > 1
               THEN 1 ELSE 0 END AS is_dup
           FROM d),
         r AS (
           SELECT lang, source,
             CAST(n AS BIGINT) AS n_tok,
             CAST(chars_total AS BIGINT) AS n_chr,
             CAST(n BETWEEN 50 AND 100000
               AND chars BETWEEN 3 * n AND 10 * n
               AND alpha_w * 5 >= n * 4
               AND stop_hits >= 2
               AND n_dup * 2 <= n AS BIGINT) AS keep,
             CAST(is_dup AS BIGINT) AS is_dup,
             CAST(round(least(1.0, n / 100.0) *
               (1.0 - stop_hits * 1.0 / n), 4) AS DECIMAL(18,4)) AS q
           FROM m)
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_chr) AS BIGINT) AS n_chars,
           CAST(sum(keep) AS BIGINT) AS n_keep,
           CAST(sum(is_dup) AS BIGINT) AS n_exact_dup,
           CAST(sum(q) AS DOUBLE) AS sum_quality
         FROM r GROUP BY lang, source""")),
    Gate("tx_lang_confusion", txLangConfusion _, Some(
      s"""
         WITH pred AS ($langidOracle)
         SELECT d.lang AS lang_label, p.lang_pred,
           count(*) AS n,
           CAST(sum(CASE WHEN d.lang = p.lang_pred THEN 1 ELSE 0 END)
             AS BIGINT) AS n_correct
         FROM documents d JOIN pred p USING (doc_id)
         GROUP BY d.lang, p.lang_pred""")),
    Gate("tx_quality", txQuality _, Some(
      """WITH toks AS (
           SELECT doc_id, text,
             string_split_regex(trim(text), '\s+') AS tok
           FROM documents)
         SELECT doc_id,
           CAST(len(tok) AS INT) AS n_tokens,
           round(len(list_filter(tok, x -> x IN
             ('the','a','of','and','in','to','is'))) * 1.0 / len(tok), 4)
             AS stop_ratio,
           round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0 /
             len(tok), 4) AS avg_word_len,
           round(least(1.0, len(tok) / 100.0) *
             (1.0 - len(list_filter(tok, x -> x IN
               ('the','a','of','and','in','to','is'))) * 1.0 / len(tok)),
             4) AS quality
         FROM toks""")),
    Gate("tx_langid", txLangid _, Some(langidOracle)),
    Gate("tx_fingerprint", txFingerprint _, Some(
      """SELECT doc_id,
         md5(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
           '\s+', ' ', 'g'))) AS fp
         FROM documents""")),
    Gate("tx_pack_bins", txPackBins _, Some(
      """WITH tk AS (
           SELECT lang, doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
               AS n_tokens
           FROM documents),
         off AS (
           SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY lang
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
             1 PRECEDING), 0) AS start_off
           FROM tk)
         SELECT lang, CAST(floor(start_off / 2048.0) AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM off GROUP BY lang, bin""")),
    Gate("tx_split_assign", txSplitAssign _, Some(
      """SELECT doc_id, lang,
         CASE WHEN substr(md5('graft-split:' ||
             CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'test'
           WHEN substr(md5('graft-split:' ||
             CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
           ELSE 'train' END AS split
         FROM documents""")),
    Gate("tx_corpus_curate", txCorpusCurate _, Some(
      s"""WITH lid AS ($langidOracle),
       canon AS (
         SELECT doc_id, text,
           min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         FROM documents),
       q AS (
         SELECT doc_id,
           string_split_regex(trim(text), '\\s+') AS tok
         FROM canon WHERE doc_id = keep_id),
       scored AS (
         SELECT doc_id,
           round(least(1.0, len(tok) / 100.0) *
             (1.0 - len(list_filter(tok, x -> x IN
               ('the','a','of','and','in','to','is'))) * 1.0 /
               len(tok)), 4) AS quality
         FROM q)
       SELECT s.doc_id, lid.lang_pred, s.quality,
         CASE WHEN substr(md5('graft-split:' ||
             CAST(s.doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'test'
           WHEN substr(md5('graft-split:' ||
             CAST(s.doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
           ELSE 'train' END AS split
       FROM scored s JOIN lid ON s.doc_id = lid.doc_id
       WHERE s.quality >= 0.5""")),
    Gate("tx_stratified_sample", txStratifiedSample _, Some(
      """SELECT lang, doc_id, CAST(rn AS INT) AS rn
         FROM (SELECT lang, doc_id, row_number() OVER (
             PARTITION BY lang
             ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)) ASC,
               doc_id ASC) AS rn
           FROM documents) x
         WHERE rn <= 20""")),
    Gate("tx_repetition", txRepetition _, Some(
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS tok
           FROM documents),
         bi AS (
           SELECT doc_id, tok[i] || ' ' || tok[i + 1] AS gram
           FROM tk, unnest(range(1, len(tok))) AS t(i)),
         counts AS (
           SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY 1, 2),
         top AS (
           SELECT doc_id, max(c) AS top_c, sum(c) AS n_bi
           FROM counts GROUP BY doc_id)
         SELECT tk.doc_id,
           round(1.0 - len(list_distinct(tok)) * 1.0 / len(tok), 4)
             AS dup_word_frac,
           round(top.top_c * 1.0 / top.n_bi, 4) AS top_bigram_frac
         FROM tk LEFT JOIN top ON tk.doc_id = top.doc_id""")),
    Gate("tx_token_budget_mix", txTokenBudgetMix _, Some(
      """WITH tk AS (
           SELECT source, doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents),
         off AS (
           SELECT *, CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY source
             ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)) ASC,
               doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before
           FROM tk)
         SELECT source, doc_id, n_tokens, cum_before
         FROM off
         WHERE cum_before <
           (CAST(regexp_extract(source, '(\d+)$', 1) AS INT) % 3 + 1)
             * 400""")),
    Gate("tx_pps_sample", txPpsSample _, Some(
      """WITH tk AS (
           SELECT lang, doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents),
         c AS (
           SELECT *,
             CAST(sum(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY md5('pps:' || CAST(doc_id AS VARCHAR)) ASC,
                 doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(n_tokens) OVER (PARTITION BY lang) AS BIGINT)
               AS total
           FROM tk)
         SELECT lang, doc_id, n_tokens,
           CAST((cum * 25) // total
             - ((cum - n_tokens) * 25) // total AS INT) AS n_hits
         FROM c
         WHERE (cum * 25) // total
             - ((cum - n_tokens) * 25) // total >= 1""")),
    Gate("tx_temperature_mix", txTemperatureMix _, Some(
      """WITH tk AS (
           SELECT lang, doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents),
         mass AS (
           SELECT lang,
             CAST(round(sqrt(CAST(sum(n_tokens) AS DOUBLE)), 6)
               AS DECIMAL(28,6)) AS w6
           FROM tk GROUP BY lang),
         tot AS (SELECT sum(w6) AS w_tot FROM mass),
         bud AS (
           SELECT lang, CAST(floor(20000.0 * CAST(w6 AS DOUBLE)
             / CAST(w_tot AS DOUBLE)) AS BIGINT) AS budget
           FROM mass CROSS JOIN tot),
         off AS (
           SELECT *, CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY lang
             ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)) ASC,
               doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before
           FROM tk)
         SELECT o.lang, o.doc_id, o.n_tokens, o.cum_before, b.budget
         FROM off o JOIN bud b USING (lang)
         WHERE o.cum_before < b.budget""")),
    Gate("tx_pii_scrub", txPiiScrub _, Some(piiOracle)),
    Gate("tx_dup_ngram_frac", txDupNgramFrac _, Some(dupNgramOracle)),
    Gate("tx_decontam", txDecontam _, Some(decontamOracle)),
    Gate("tx_shard_shuffle", txShardShuffle _, Some(
      """WITH h AS (
           SELECT doc_id,
             md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         s AS (
           SELECT doc_id, h,
             CAST(CAST(('0x' || substr(h, 1, 4)) AS INT) % 8 AS INT)
               AS shard
           FROM h)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
             ORDER BY h ASC, doc_id ASC) AS INT) AS pos
         FROM s""")),
    Gate("tx_vocab_topk", txVocabTopk _, Some(
      """WITH tk AS (
           SELECT lang,
             unnest(string_split_regex(trim(lower(text)), '\s+'))
               AS token
           FROM documents),
         c AS (SELECT lang, token, count(*) AS n
           FROM tk GROUP BY lang, token)
         SELECT lang, CAST(rank AS INT) AS rank, token, n
         FROM (SELECT *, row_number() OVER (PARTITION BY lang
           ORDER BY n DESC, token ASC) AS rank FROM c) x
         WHERE rank <= 20""")),
    Gate("tx_cms_freq", txCmsFreq _, Some(
      """WITH tk AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
             AS tok
           FROM documents),
         exact AS (
           SELECT tok, count(*) AS ex FROM tk GROUP BY 1),
         probes AS (
           SELECT tok, ex FROM exact
           ORDER BY ex DESC, tok ASC LIMIT 30),
         n AS (SELECT count(*) AS total FROM tk),
         dump AS (
           SELECT token, est_freq
           FROM parquet_scan('__OUTDIR__/tx_cms_freq/*.parquet'))
         SELECT d.token, d.est_freq
         FROM dump d JOIN probes p ON p.tok = d.token, n
         WHERE d.est_freq >= p.ex
           AND d.est_freq <= p.ex + greatest(50, 8.0 * n.total / 2048)""")),
    Gate("tx_heavy_hitters", txHeavyHitters _, Some(
      """WITH tk AS (
           SELECT lang,
             unnest(string_split_regex(trim(lower(text)), '\s+'))
               AS token
           FROM documents),
         c AS (SELECT lang, token, count(*) AS n
           FROM tk GROUP BY lang, token)
         SELECT lang, CAST(rank AS INT) AS rank, token, n
         FROM (SELECT *, row_number() OVER (PARTITION BY lang
           ORDER BY n DESC, token ASC) AS rank FROM c) x
         WHERE rank <= 15""")),
    Gate("tx_lm_score", txLmScore _, Some(
      """WITH tk AS (
           SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS tok
           FROM documents),
         bg AS (
           SELECT doc_id, tok[r.i] AS w1, tok[r.i + 1] AS w2
           FROM tk, unnest(range(1, len(tok))) AS r(i)),
         uni AS (
           SELECT w1, count(*) AS c1
           FROM (SELECT unnest(tok) AS w1 FROM tk) GROUP BY 1),
         v AS (SELECT count(*) AS v FROM uni),
         bcnt AS (
           SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         scored AS (
           SELECT bg.doc_id,
             CAST(round((bcnt.c2 + 1) * 1.0 / (uni.c1 + v.v), 6)
               AS DECIMAL(18,6)) AS p
           FROM bg JOIN bcnt USING (w1, w2) JOIN uni USING (w1)
             CROSS JOIN v),
         agg AS (
           SELECT doc_id, sum(p) AS p_sum, count(*) AS n_bigrams
           FROM scored GROUP BY 1)
         SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
           round(CAST(a.p_sum AS DOUBLE) / a.n_bigrams, 6) AS lm_score
         FROM documents d LEFT JOIN agg a USING (doc_id)""")),
    Gate("tx_ppl_buckets", txPplBuckets _, Some(
      """WITH tk AS (
           SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS tok
           FROM documents),
         bg AS (
           SELECT doc_id, tok[r.i] AS w1, tok[r.i + 1] AS w2
           FROM tk, unnest(range(1, len(tok))) AS r(i)),
         uni AS (
           SELECT w1, count(*) AS c1
           FROM (SELECT unnest(tok) AS w1 FROM tk) GROUP BY 1),
         v AS (SELECT count(*) AS v FROM uni),
         bcnt AS (
           SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         scored AS (
           SELECT bg.doc_id,
             CAST(round((bcnt.c2 + 1) * 1.0 / (uni.c1 + v.v), 6)
               AS DECIMAL(18,6)) AS p
           FROM bg JOIN bcnt USING (w1, w2) JOIN uni USING (w1)
             CROSS JOIN v),
         agg AS (
           SELECT doc_id, sum(p) AS p_sum, count(*) AS n_bigrams
           FROM scored GROUP BY 1),
         sc AS (
           SELECT d.doc_id, d.lang,
             round(CAST(a.p_sum AS DOUBLE) / a.n_bigrams, 6) AS lm_score
           FROM documents d LEFT JOIN agg a USING (doc_id)),
         bk AS (
           SELECT doc_id, lang, lm_score,
             CAST(ntile(3) OVER (PARTITION BY lang
               ORDER BY lm_score DESC NULLS LAST, doc_id ASC) AS INT)
               AS bucket_id
           FROM sc)
         SELECT doc_id, lang, lm_score, bucket_id,
           CASE WHEN bucket_id = 1 THEN 'head'
                WHEN bucket_id = 3 THEN 'tail'
                ELSE 'middle' END AS ppl_bucket
         FROM bk""")),
    Gate("tx_chunk_split", txChunkSplit _, Some(
      """WITH tk AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS tok
           FROM documents),
         sized AS (
           SELECT doc_id, tok, len(tok) AS n_tokens,
             greatest(1, CAST(ceil((len(tok) - 64) * 1.0 / 48) AS INT)
               + 1) AS n_chunks
           FROM tk),
         ex AS (
           SELECT doc_id, tok, n_tokens,
             CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_id
           FROM sized)
         SELECT doc_id, chunk_id,
           CAST(least(64, n_tokens - chunk_id * 48) AS INT)
             AS chunk_tokens,
           array_to_string(tok[chunk_id * 48 + 1 : chunk_id * 48 + 64],
             ' ') AS chunk_text
         FROM ex""")),
    Gate("tx_bm25", txBm25 _, Some(bm25Oracle)),
    Gate("tx_url_normalize", txUrlNormalize _, Some(
      s"""WITH $urlOracleCte
         SELECT doc_id, url,
           scheme || '://' || host ||
           CASE WHEN port <> '' AND port <> defport
                THEN ':' || port ELSE '' END ||
           path_norm ||
           CASE WHEN len(params) > 0
                THEN '?' || array_to_string(params, '&')
                ELSE '' END AS url_norm,
           host,
           regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
         FROM rr""")),
    Gate("tx_domain_cap", txDomainCap _, Some(
      s"""WITH $urlOracleCte,
         dom AS (
           SELECT doc_id, n_chars,
             regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
           FROM rr),
         rk AS (
           SELECT doc_id, n_chars, domain,
             CAST(row_number() OVER (PARTITION BY domain
               ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rnk
           FROM dom)
         SELECT * FROM rk WHERE rnk <= 25""")),
    Gate("tx_vocab_topp", txVocabTopp _, Some(
      """WITH toks AS (
           SELECT lang,
             unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents),
         c AS (
           SELECT lang, token, count(*) AS cnt
           FROM toks WHERE token <> '' GROUP BY 1, 2),
         w AS (
           SELECT lang, token, cnt,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY cnt DESC, token ASC) AS INT) AS rnk,
             coalesce(sum(cnt) OVER (PARTITION BY lang
               ORDER BY cnt DESC, token ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before,
             sum(cnt) OVER (PARTITION BY lang) AS total
           FROM c)
         SELECT lang, token, cnt, rnk FROM w
         WHERE cum_before * 10 < total * 9""")))
}
