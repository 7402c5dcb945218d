package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** End-to-end training-corpus build driver — the curation analog of
  * `Pipeline` (which drives the GLAMR warehouse cycle): plain Scala
  * control flow composing the engine's curation operators into the
  * standard corpus-build DAG.
  *
  * Stages, per nightly batch:
  *  1. incremental gate — only ids never PROCESSED before enter the
  *     cycle (a separate `seen` key table, so docs dropped by curation
  *     are not re-curated every night),
  *  2. exact-dup drop vs the store (fingerprint anti-join — broadcast
  *     of the loaded fp set),
  *  3. near-dup drop vs the store (batch × corpus gram join — the
  *     incremental shape whose cost tracks the delta),
  *  4. in-batch dedup — exact (min-id canonical per fingerprint),
  *     then near-dup clusters (gram pairs → connected components)
  *     resolved keep-best-by-quality,
  *  5. quality filter → PII scrub → language ID → split assignment,
  *  6. id-pure shard assignment and append to the shard-partitioned
  *     store (membership is append-stable; training order within a
  *     shard is re-derived at read time by salted-hash sort, per the
  *     shardShuffle contract),
  *  7. invariant gates: fingerprint-unique store, quality floor,
  *     every row split-assigned.
  *
  * Usage: graft.cli.CorpusBuild <sfDir> <warehouseDir>
  */
object CorpusBuild {
  val nShards = 8
  val minQuality = 0.5
  val nearDupJac = 0.8
  /** Corpus-side gram-df cap for the incremental near-dup probe: one
    * boilerplate gram above this df would otherwise pair the whole
    * batch with every store doc carrying it (see
    * `Dedup.incrementalNearDups`). Far above any real 3-gram df in a
    * deduplicated store shard, far below batch × corpus blowup. */
  val maxStoreGramDf = 10000

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.cli.CorpusBuild <sfDir> <warehouseDir> [--warc]")
      sys.exit(2)
    }
    val Array(sfDir, whDir) = args.take(2)
    val warcMode = args.contains("--warc")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (warcMode) {
      val (batch, processed) = fromWarcFull(spark, sfDir)
      runBatch(spark, batch, whDir, Some(processed))
    } else run(spark, sfDir, whDir)
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, whDir: String): Unit =
    runBatch(spark, graft.io.Inputs.t(spark, sfDir, "documents"), whDir)

  /** The raw-crawl source boundary: a directory of WARC/WET members →
    * the documents-shaped batch frame `runBatch` curates. Two record
    * shapes contribute, dispatched on the parsed record type:
    *  - WET `conversion` records: the payload IS the text;
    *  - `response` records whose HTTP Content-Type is text/html: the
    *    engine's OWN extraction (`Html.extractText` — header cut,
    *    boilerplate strip, link-density prune) produces the text, so
    *    the corpus no longer depends on someone else's WET step.
    * warcinfo/malformed/non-HTML records are the parse gate's concern,
    * not the corpus's. doc_id is the stable 64-bit hash of the WARC
    * record id, so re-reading the same member set yields the same
    * batch ids and the incremental `seen` gate works unchanged across
    * re-crawl runs. One task per archive member (binary read, gzip
    * decompressed in-stream), which at Common Crawl's ~150 MB member
    * sizing is the right scan parallelism for a 1000-executor
    * read. */
  def fromWarc(spark: SparkSession, warcDir: String): DataFrame =
    fromWarcFull(spark, warcDir)._1

  /** 128-bit composite PROCESSED-ledger key: at real crawl scale
    * (~3B records) a single 64-bit hash has >20% birthday odds of a
    * collision SOMEWHERE, and a ledger collision silently drops a
    * never-seen document forever. Two independent 64-bit hashes over
    * different fields bound that to ~2^-128-scale. doc_id stays the
    * 64-bit within-BATCH key (delta-sized, where the birthday term
    * is negligible and a collision costs one doc one night, not
    * forever). */
  private def docUidCol =
    concat_ws(":", hex(xxhash64(col("record_id"))),
      hex(xxhash64(concat_ws("", col("url"),
        col("warc_date").cast("string"))))).as("doc_uid")

  /** `fromWarc` plus the FULL processed-key frame: the ledger keys of
    * EVERY valid content-bearing record, not only those that
    * produced batch text. That covers (a) `revisit` records — Common
    * Crawl's unchanged-re-crawl markers, shipped precisely so
    * consumers skip re-curating content the crawler already knows is
    * unchanged (digest-trust boundary: the crawler's
    * WARC-Payload-Digest is taken at its word; the referenced
    * content was curated when its original `response`/`conversion`
    * record appeared) — and (b) HTML responses whose blocks ALL
    * prune away (link farms, chrome-only pages): with only batch
    * keys in the ledger those were re-fetched, re-parsed and
    * re-extracted as "fresh" every nightly cycle (r16 ADVICE). */
  def fromWarcFull(spark: SparkSession,
      warcDir: String): (DataFrame, DataFrame) = {
    import graft.text.Html
    val parsed = graft.io.Readers.readWarcBinary(spark, warcDir)
    // WET conversion payloads are UTF-8 text by spec; the lenient
    // decode keeps a stray mojibake byte from killing the batch
    val wet = parsed
      .filter(col("warc_type") === "conversion" && col("is_valid"))
      .select(col("record_id"), col("url"), col("warc_date"),
        call_function("make_valid_utf8", col("payload")).as("text"))
    // response records: charset-aware decode (Content-Type charset
    // param, UTF-8-validity sniff fallback) in front of the engine's
    // own extraction — the byte-faithful production path
    val html = Html.extractText(
        parsed
          .filter(col("warc_type") === "response" && col("is_valid") &&
            col("content_type").startsWith("application/http"))
          .withColumn("http_ct",
            Html.httpContentType(Html.httpCarrier(col("payload"))))
          .filter(col("http_ct").contains("text/html"))
          .withColumn("html", Html.httpBodyText(col("payload"))),
        "html", Seq("record_id", "url", "warc_date"))
      .select(col("record_id"), col("url"), col("warc_date"),
        col("text"))
    val batch = wet.unionByName(html).select(
      xxhash64(col("record_id")).as("doc_id"),
      docUidCol,
      col("text"),
      lit(null).cast("string").as("lang"),
      col("url").as("source"),
      length(col("text")).cast("long").as("n_chars"))
    val processed = parsed
      .filter(col("is_valid") &&
        col("warc_type").isin("conversion", "response", "revisit"))
      .select(xxhash64(col("record_id")).as("doc_id"), docUidCol)
    (batch, processed)
  }

  /** One nightly cycle over an explicit batch frame — the shape a real
    * scheduler drives (tonight's crawl delta), and what the spec feeds
    * to exercise a genuine incremental second run. */
  def runBatch(spark: SparkSession, docs: DataFrame,
      whDir: String, processedKeys: Option[DataFrame] = None): Unit = {
    val corpusPath = s"$whDir/corpus"
    val seenPath = s"$whDir/seen"

    // 1. incremental gate on the PROCESSED-id table (not the store:
    //    curation drops docs, and a dropped doc must stay dropped, not
    //    re-enter every cycle as "fresh"). Keyed on the 128-bit
    //    `doc_uid` when the source provides one (fromWarc — the ledger
    //    lives for the crawl archive's lifetime, where 64 bits
    //    birthday-collide), else on doc_id (the curated-table path,
    //    whose ids are assigned, not hashed). A PRE-doc_uid ledger
    //    (doc_id column only) keeps its own key — appending doc_uid
    //    files into it would leave a mixed-schema dir plain reads
    //    resolve inconsistently (r16 ADVICE).
    val wantKey =
      if (docs.columns.contains("doc_uid")) "doc_uid" else "doc_id"
    val seenKey =
      if (!graft.ingest.Incremental.pathExists(spark, seenPath)) wantKey
      else {
        val have =
          spark.read.parquet(seenPath).schema.fieldNames.toSet
        if (have.contains(wantKey)) wantKey
        else if (have.contains("doc_id") &&
          docs.columns.contains("doc_id")) {
          println(s"[corpus] WARNING: seen ledger at $seenPath " +
            s"predates the 128-bit key (no '$wantKey' column); " +
            "keeping this ledger keyed on doc_id. Rewrite the " +
            "ledger once to adopt doc_uid.")
          "doc_id"
        } else throw new IllegalArgumentException(
          s"seen ledger at $seenPath has columns " +
            s"[${have.mkString(", ")}] — none usable as the " +
            s"incremental key for a batch with columns " +
            s"[${docs.columns.mkString(", ")}]. The ledger schema " +
            "changed (doc_id → doc_uid); rewrite or remove the " +
            "ledger directory.")
      }
    val ledgerKeys =
      graft.ingest.Incremental.loadedKeys(spark, seenPath, seenKey)
    val fresh = graft.ingest.Incremental.newRows(docs, ledgerKeys,
      seenKey).persist()
    // keys to MARK processed this cycle: the full valid-record set
    // when the source provides one (fromWarcFull — revisits and
    // no-text pages must not re-enter every night), else the batch
    val marks = processedKeys match {
      case Some(pk) => graft.ingest.Incremental.newRows(
        pk.select(seenKey).distinct(), ledgerKeys, seenKey).persist()
      case None => fresh.select(seenKey)
    }
    val nFresh = fresh.count()
    if (nFresh == 0) {
      // no curation to run, but no-content records (revisits,
      // all-pruned pages) still enter the ledger so the next cycle
      // skips their parse too
      val nMarks =
        if (processedKeys.isEmpty) 0L
        else {
          val c = marks.count()
          if (c > 0) graft.io.Writers.appendTable(marks, seenPath)
          c
        }
      println("[corpus] nothing new, store untouched" +
        (if (nMarks > 0) s"; $nMarks no-content records marked" else ""))
      processedKeys.foreach(_ => marks.unpersist())
      fresh.unpersist()
      return
    }

    // 2./3. dedup against the EXISTING store: exact via fingerprint
    //    anti-join, then near-dup via the batch×corpus gram join.
    //    (Near-dup compares raw batch text against stored SCRUBBED
    //    text — redaction touches a handful of tokens, far below the
    //    Jaccard threshold's resolution.)
    val storeExists = graft.ingest.Incremental.pathExists(spark, corpusPath)
    val withFp = fresh.withColumn("fp", TextOps.fingerprint(col("text")))
    val afterStore =
      if (storeExists) {
        val store = spark.read.parquet(corpusPath)
        val noExact = withFp.join(
          broadcast(store.select("fp").distinct()), Seq("fp"),
          "left_anti")
        val nearIds = graft.dedup.Dedup.incrementalNearDups(
            noExact, store.select("doc_id", "text"), "doc_id", "text",
            maxGramDf = maxStoreGramDf)
          .filter(col("jac") >= nearDupJac)
          .select(col("new_id").as("doc_id")).distinct()
        noExact.join(nearIds, Seq("doc_id"), "left_anti")
      } else withFp

    // 4. in-batch dedup: exact (canonical min-id per digest), then
    //    near-dup clusters resolved KEEP-BEST by quality — the batch
    //    is delta-sized, so the pair self-join and the CC run are
    //    nightly-cheap even when the store is not
    val wFp = Window.partitionBy("fp")
    val canon = afterStore
      .withColumn("keep_id", min("doc_id").over(wFp))
      .filter(col("doc_id") === col("keep_id"))
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .persist()
    // banding-cap probe ("no silent caps"): the sketch-banding family
    // drops over-cap buckets to stop quadratic blowup on degenerate
    // near-identical mass (boilerplate floods). Report what this
    // batch's sketch space would drop at the production cap — a
    // nonzero count here is the recall-loss signal a crawl operator
    // watches. Delta-sized aggregate (one groupBy over the batch).
    val capRep = graft.dedup.Dedup.hammingBandCapReport(
        canon.select(col("doc_id"), graft.dedup.Dedup.simhash(
          TextOps.tokens(lower(col("text")))).as("sh")),
        "doc_id", "sh")
      .agg(count(lit(1)), coalesce(sum("bucket_n"), lit(0L)),
        coalesce(sum("pairs_suppressed"), lit(0L))).head()
    println(s"[corpus] banding cap probe: ${capRep.getLong(0)} " +
      s"over-cap buckets / ${capRep.getLong(1)} bucket slots, " +
      s"<= ${capRep.getLong(2)} candidate pairs suppressed")

    val pairs = graft.dedup.Dedup.ngramJaccardPairs(
        canon, "doc_id", "text")
      .filter(col("jac") >= nearDupJac).select("doc_a", "doc_b")
    // components are computed ONCE per batch and staged: keep-best and
    // every later consumer scan the staged table, the downstream DAG
    // (which reads `scored` more than once) never replays the
    // propagation, and the CC label cache is released immediately
    val clusters = graft.dedup.Dedup.dupClustersStaged(
        canon, "doc_id", pairs, "doc_a", "doc_b",
        s"$whDir/stage/clusters")
      .select("doc_id", "cluster_id")
    val best = graft.dedup.Dedup.keepBest(
        canon, "doc_id", clusters, col("quality"))
      .filter(col("keep")).select("doc_id")

    // 5. quality floor, then scrub AFTER scoring (quality measures the
    //    document as collected; redaction must not move the score)
    val scored = canon
      .join(best, Seq("doc_id"), "left_semi")
      .filter(col("quality") >= minQuality)
      .withColumn("text", TextOps.piiScrub(col("text")))
      .persist()
    val curated = scored
      .join(TextOps.langId(scored, "doc_id", "text"), Seq("doc_id"))
      .withColumn("split", TextOps.splitAssign(col("doc_id")))

    // 6. id-pure shard membership; append to the shard-partitioned
    //    store (append-only: existing shard files are never rewritten)
    val sharded = curated.join(
      TextOps.shardShuffle(curated, "doc_id", nShards)
        .select("doc_id", "shard"),
      Seq("doc_id"))
      .select("doc_id", "text", "fp", "lang_pred", "quality", "split",
        "shard")
      .persist()
    // materialize + count BEFORE the append: the curation lineage reads
    // the store it is about to append to, so counting afterwards would
    // re-execute the whole DAG (and race the store snapshot); counted
    // from cache, write and report see the same batch exactly once
    val nCurated = sharded.count()
    if (nCurated > 0)
      graft.io.Writers.appendTable(sharded, corpusPath, Seq("shard"))

    // mark the WHOLE batch processed (survivors and drops alike) —
    // plus revisits/no-text records when the source supplied them
    graft.io.Writers.appendTable(marks, seenPath)
    processedKeys.foreach(_ => marks.unpersist())
    sharded.unpersist()
    scored.unpersist()
    canon.unpersist()
    fresh.unpersist()
    println(s"[corpus] ingested $nFresh docs, curated $nCurated into " +
      s"$nShards shards")

    // a batch can legitimately curate to NOTHING (every doc below
    // the quality floor or a store-dup); with no store yet there is
    // nothing to check or manifest — the ledger still advanced, so
    // the cycle completed
    if (!storeExists && nCurated == 0) {
      println("[corpus] batch curated to 0 docs and no store exists " +
        "yet — skipping invariants/manifest")
      return
    }

    // 7. invariants — abort on violation, Pipeline style
    val store = spark.read.parquet(corpusPath)
    val dupFp = store.groupBy("fp").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    require(dupFp == 0, s"corpus store has $dupFp duplicated fingerprints")
    val badQ = store.filter(col("quality") < minQuality).count()
    require(badQ == 0, s"$badQ stored docs below the quality floor")
    val unsplit = store.filter(!col("split").isin("train", "val", "test"))
      .count()
    require(unsplit == 0, s"$unsplit stored docs without a split")
    println(s"[corpus] ok: ${store.count()} docs, invariants hold")

    // 8. training-mix manifest: the α=0.5 temperature admission over
    //    the CURRENT store, staged for the next training run. The
    //    store stays the superset (append-only, never rewritten); a
    //    training run reads the manifest, so rebalancing after a
    //    skewed crawl is a manifest refresh, not a store rewrite. The
    //    mix budget scales with the store (half its token mass) so
    //    the manifest stays meaningful as the corpus grows. One-row
    //    bounded collect for the mass (the set-cover sanction class).
    val storeTokens = store
      .agg(sum(size(TextOps.tokens(col("text")))).cast("long"))
      .head().getLong(0)
    val manifest = TextOps.temperatureMix(store, "doc_id", "text",
      "lang_pred", math.max(1L, storeTokens / 2))
    graft.io.Writers.overwriteStaged(manifest, s"$whDir/mix")
    val mix = spark.read.parquet(s"$whDir/mix")
    val mixTokens = mix.agg(coalesce(sum("n_tokens"), lit(0L)))
      .head().getLong(0)
    println(s"[corpus] mix manifest: ${mix.count()} docs / " +
      s"$mixTokens of ${storeTokens / 2} budgeted tokens")
  }
}
