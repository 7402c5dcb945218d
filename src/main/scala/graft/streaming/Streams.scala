package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Gate
import graft.io.Inputs.t

/** Structured Streaming surface (SURVEY §1.4). The reference has no
  * stream engine — its incremental idiom is batch discovery + anti-join
  * re-run. The Spark-native equivalents:
  *  - a file-source stream with `Trigger.AvailableNow` reproduces the
  *    "process whatever has appeared since last run" semantics exactly;
  *  - windowed aggregation + watermark covers the event-style tables.
  *
  * The windowed aggregation is ONE function used by both the batch gate
  * query (DuckDB-oracled) and the streaming query (ScalaTest drives it
  * through a memory sink) — semantics are identical by construction.
  */
object Streams {

  /** Fallback schema of events as read with nanos-as-long (see
    * io.Inputs.t); used only when the watched directory has no file yet
    * to infer the actual physical shape from. */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // nanos
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window aggregation applied to a (batch or streaming)
    * events DataFrame with a proper `ts` timestamp column. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Streaming read of an events directory (file source — picks up new
    * files per trigger, the Spark-native version of the reference's
    * glob + anti-join rescan). `dir` must be a DIRECTORY (the file
    * source watches it for new files); tests stage parquet files into
    * a temp dir to simulate arrival. */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a streaming source needs an explicit schema; infer the physical
    // ts encoding from the already-staged files (ns int64 vs µs
    // timestamp — see Tables.normalizeEventTs), falling back to the
    // legacy ns shape for an empty directory.
    // only fall back for a genuinely empty directory — a corrupt or
    // partially-staged file must surface, not silently misread as the
    // legacy ns-as-long shape (and never swallow fatal errors).
    // Hadoop FS, not java.io.File: the directory may live on any
    // cluster filesystem.
    val hasParquet = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
    }
    val sch =
      if (!hasParquet) eventsRawSchema
      else
        try spark.read.parquet(dir).schema
        catch {
          case scala.util.control.NonFatal(e) =>
            throw new IllegalStateException(
              s"eventStream: failed to infer schema from staged parquet in $dir", e)
        }
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(sch).parquet(dir))
  }

  /** Watermarked streaming hourly aggregation (update/append-capable). */
  def streamingHourlyAgg(spark: SparkSession, dir: String): DataFrame =
    hourlyAgg(eventStream(spark, dir).withWatermark("ts", "2 hours"))

  // ---- sessionization: batch (lag + cumsum) and stateful stream ----

  /** Batch sessionization: a session breaks when the gap to the
    * previous event exceeds `gapMinutes` — lag + running sum of breaks
    * (the classic window formulation; one shuffle by user). */
  def sessionizeBatch(events: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    val wUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = wUser.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    events
      // microsecond gap arithmetic — unix_timestamp() truncates to
      // seconds, which splits sessions differently from the stateful
      // stream path (it compares micros) near the gap boundary
      .withColumn("gap_us",
        unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(wUser)))
      .withColumn("brk",
        when(col("gap_us").isNull ||
          col("gap_us") > gapMinutes * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("brk")).over(wRun))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
  }

  // NOTE: must be public — Spark's generated encoder projections cannot
  // access private nested classes.
  case class Ev(user_id: Long, event_id: Long, tsMicros: Long)
  case class SessionRow(user_id: Long, session_id: Long, n_events: Long)

  /** Stateful sessionization via flatMapGroupsWithState — the
    * `KeyValueGroupedDataset` custom-state path (SURVEY §1.4 Spark
    * mapping). Under Trigger.AvailableNow each batch carries the whole
    * backlog, so the function sorts the group, splits on gaps, emits
    * every session, and clears state; a continuous deployment would
    * instead hold the open session in `GroupState` with a processing-
    * time timeout. */
  def sessionizeStream(events: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tsMicros")).as[Ev]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, SessionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[Long]) =>
          val evs = it.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          val gapMicros = gapMinutes * 60L * 1000000L
          val sessions = scala.collection.mutable.ArrayBuffer
            .empty[SessionRow]
          var sid = 0L
          var n = 0L
          var lastTs = Long.MinValue
          evs.foreach { e =>
            if (lastTs == Long.MinValue || e.tsMicros - lastTs > gapMicros) {
              if (n > 0) sessions += SessionRow(user, sid, n)
              sid += 1; n = 0
            }
            n += 1; lastTs = e.tsMicros
          }
          if (n > 0) sessions += SessionRow(user, sid, n)
          sessions.iterator
      }.toDF()
  }

  /** Streaming dedup: drop re-delivered events by key.
    * `dropDuplicatesWithinWatermark` is the state-BOUNDED variant —
    * plain dropDuplicates(key) keeps one state entry per key forever
    * unless the event-time column is part of the subset, so a
    * long-running feed would grow the state store without bound. Keys
    * older than the watermark horizon are evicted; duplicates arriving
    * later than that pass through (the standard trade-off). */
  def dedupedStream(spark: SparkSession, dir: String): DataFrame =
    eventStream(spark, dir)
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment + rollup: events joined to a slow dim
    * (customer), aggregated per market segment. ONE function for both
    * batch and stream (the parity contract of this module): on a
    * stream, Spark re-broadcasts the static side per micro-batch, so
    * dim updates between batches are picked up and no state store is
    * involved — the standard enrichment shape. Sums accumulate in
    * DECIMAL(18,6), not DOUBLE: micro-batch boundaries (and engines)
    * change summation order, and decimal addition is order-exact where
    * float is not. The FINAL column is a rounded DOUBLE — the exact
    * decimal sum rounds identically on both engines, and a decimal
    * output column is the one type the gate's hash canonicalizes
    * differently per reader (r4: value-identical rows hash-mismatched
    * on DECIMAL(28,6) alone; every green query emits double/long). */
  def enrichAgg(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
        broadcast(customers.select(col("c_custkey"),
          col("c_mktsegment"))),
        events("user_id") === col("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN"))
        .as("segment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")), 2)
          .cast("double").as("total_value"))

  /** Streaming form of the enrichment (file-source events ⟕ static
    * customer dim). */
  def enrichedStream(spark: SparkSession, dir: String,
      customers: DataFrame): DataFrame =
    enrichAgg(eventStream(spark, dir), customers)

  /** Stream-stream interval join (click→purchase attribution): each
    * purchase pairs with the same user's clicks in the preceding hour.
    * ONE function for batch and stream; the streaming caller passes
    * two WATERMARKED streams (both sides need watermarks so the state
    * store can evict rows past the join horizon — an unwatermarked
    * stream-stream join retains both sides forever). The time-range
    * predicate is what bounds state: Spark derives the eviction window
    * from `purchase_ts ∈ [click_ts, click_ts + 1h]` plus the
    * watermarks. */
  def clickPurchasePairs(clicks: DataFrame,
      purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id"),
      col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("user_id").as("p_user"),
      col("event_id").as("purchase_id"),
      col("ts").as("purchase_ts"), col("value"))
    c.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) " +
          "div 1000000").as("gap_s"),
        round(col("value"), 2).as("value"))
  }

  /** Streaming form: one file-source stream filtered into two
    * watermarked sides (a self-join of the stream). */
  def clickPurchaseStream(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventStream(spark, dir)
    clickPurchasePairs(
      ev.filter(col("event_type") === "click")
        .withWatermark("ts", "2 hours"),
      eventStream(spark, dir).filter(col("event_type") === "purchase")
        .withWatermark("ts", "2 hours"))
  }

  // ---- document curation stream (shared batch/stream per-row ops) ----

  /** Schema of the documents table for the file-source stream. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Per-document curation — fingerprint, quality floor, PII scrub,
    * split assignment — as ONE function for batch and stream: every
    * column is a pure per-row expression, so the identical plan runs
    * under a file-source stream with zero state (this module's parity
    * contract), turning corpus intake into "drop files in a
    * directory". Dedup stays OUT of the shared form on purpose: batch
    * resolves a deterministic min-id canonical per fingerprint
    * (dropDuplicates' arbitrary survivor is partitioning-dependent —
    * it would fail DeterminismSpec), while a streaming deployment
    * composes `.dropDuplicates("fp")`; with an event-time column,
    * dropDuplicatesWithinWatermark bounds that state exactly like
    * `dedupedStream`. */
  def curateDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.text.TextOps.fingerprint(col("text")).as("fp"),
        graft.text.TextOps.qualityScore(col("text")).as("quality"),
        graft.text.TextOps.piiScrub(col("text")).as("text"),
        graft.text.TextOps.splitAssign(col("doc_id")).as("split"))
      .filter(col("quality") >= 0.5)

  /** Streaming read of a documents directory (file source). */
  def docStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsSchema).parquet(dir)

  case class HhState(gen: Long, counts: Map[String, Long])
  case class HhRow(lang: String, gen: Long, rank: Int, token: String,
    n_lb: Long)

  /** Streaming heavy hitters: the Misra-Gries sketch of
    * `TextOps.heavyHitters` kept as PER-LANGUAGE STATE across
    * micro-batches — feeding arrivals one at a time into the stored
    * sketch IS Misra-Gries over the concatenated stream, so the
    * classic guarantee (any token with total count > N/m survives,
    * counts are lower bounds within N/m) holds for the whole feed at
    * all times, with state bounded by m counters per language forever.
    * Emits the current top-k lower bounds after each batch a language
    * appears in, tagged with a per-language generation number so a
    * consumer (or test) keeps the latest snapshot per language.
    *
    * The exact-recount second pass of the batch operator has no
    * streaming analog (it would need a second scan of history) — the
    * streaming form is the approximate-counts variant, which is what
    * a live "trending tokens" feed wants; run the batch operator over
    * the archived corpus when exact counts matter. State keys by
    * language (a bounded domain); for an unbounded key domain, key
    * the sketch by (key-shard) and merge downstream. */
  def streamingHeavyHitters(docs: DataFrame, k: Int = 15,
      m: Int = 64): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.streaming.GroupState
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col("lang"),
      explode(graft.text.TextOps.tokens(lower(col("text"))))
        .as("token")).as[(String, String)]
    toks.groupByKey(_._1)
      .flatMapGroupsWithState[HhState, HhRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lang: String, it: Iterator[(String, String)],
            state: GroupState[HhState]) =>
          val mg = scala.collection.mutable.Map.empty[String, Long] ++
            state.getOption.map(_.counts).getOrElse(Map.empty)
          it.foreach { case (_, tok) =>
            if (mg.contains(tok) || mg.size < m) {
              mg.update(tok, mg.getOrElse(tok, 0L) + 1L)
            } else {
              val dead = mg.iterator
                .flatMap { case (t, c) => if (c == 1L) Some(t) else None }
                .toList
              mg.mapValuesInPlace((_, c) => c - 1L)
              dead.foreach(mg.remove)
            }
          }
          val gen = state.getOption.map(_.gen).getOrElse(0L) + 1L
          state.update(HhState(gen, mg.toMap))
          mg.toSeq.sortBy { case (t, c) => (-c, t) }.take(k).zipWithIndex
            .map { case ((t, c), i) => HhRow(lang, gen, i + 1, t, c) }
            .iterator
      }.toDF()
  }

  case class FsState(keepId: Long, nCopies: Long, gen: Long)
  case class FsRow(fp: String, gen: Long, keep_id: Long, n_copies: Long)

  /** Streaming FIRST-SEEN dedup ledger — the stateful twin of the
    * batch fingerprint dedup (`d_fingerprint_dedup`): state keys by
    * normalized-text fingerprint, the keeper is pinned FOREVER at the
    * first batch that delivers the fingerprint (min doc_id within
    * that batch — deterministic however the batch's partitions race),
    * and every later duplicate only bumps the copy count. Where the
    * built-in `dropDuplicates`/`dropDuplicatesWithinWatermark` merely
    * suppresses rows (arbitrary survivor, no audit trail), this emits
    * the LEDGER a curation pipeline logs: (fp, keeper, copies-so-far)
    * after each batch the fingerprint appears in, generation-tagged
    * so consumers keep the latest snapshot per fp.
    *
    * State is one (long, long, long) per distinct fingerprint —
    * bounded by the DISTINCT corpus, not the stream; for bounded
    * retention under event time, compose the watermark variant the
    * dedupedStream path uses. Under a single-delivery feed the final
    * snapshot equals the batch operator bit-for-bit (the st_zscore
    * equivalence discipline). */
  def streamingFirstSeen(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.streaming.GroupState
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        graft.text.TextOps.fingerprint(col("text")).as("fp"),
        col("doc_id")).as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FsState, FsRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, it: Iterator[(String, Long)],
            state: GroupState[FsState]) =>
          var n = 0L
          var mn = Long.MaxValue
          it.foreach { case (_, id) =>
            n += 1L; if (id < mn) mn = id
          }
          val prev = state.getOption
          val next = FsState(
            prev.map(_.keepId).getOrElse(mn), // first batch pins it
            prev.map(_.nCopies).getOrElse(0L) + n,
            prev.map(_.gen).getOrElse(0L) + 1L)
          state.update(next)
          Iterator.single(
            FsRow(fp, next.gen, next.keepId, next.nCopies))
      }.toDF()
  }

  case class ZState(vals: List[Double])
  case class ZRow(user_id: Long, event_id: Long, n_win: Long,
    sx: Double, sx2: Double, zscore: Option[Double])

  /** Streaming rolling z-score — `w9_rolling_zscore` as PER-USER
    * STATE: the trailing frame is the state (≤ `frame` raw values, a
    * few doubles per user forever), each arrival scores against its
    * own trailing moments and rolls the frame forward. The moment
    * arithmetic replicates the batch operator DIGIT-FOR-DIGIT —
    * 6-dp HALF_UP quantization (what Spark's `round(col, 6)` does),
    * exact BigDecimal sums, then the identical double-precision
    * mean/variance/score steps — so a single-delivery stream equals
    * the batch query bit-for-bit and the batch oracle IS the
    * streaming gate's oracle.
    *
    * Ordering: arrivals sort by (ts, event_id) WITHIN each
    * micro-batch (the per-group sort is bounded by the group's batch
    * slice); across batches the stream assumes in-order arrival per
    * user — the file-replay / log-compacted contract. Late events
    * need the batch operator over the archive, same division as
    * streaming vs batch heavy hitters. Assumes non-null values (the
    * events contract; the batch form's frame would count them out). */
  def streamingZscore(events: DataFrame, frame: Int = 10): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.streaming.GroupState
    require(frame >= 1, s"frame=$frame must be >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    def bd6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val src = events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tu"), col("value"))
      .as[(Long, Long, Long, Double)]
    src.groupByKey(_._1)
      .flatMapGroupsWithState[ZState, ZRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, Double)],
            state: GroupState[ZState]) =>
          // most-recent-first; take(frame) drops the oldest
          var vals = state.getOption.map(_.vals).getOrElse(Nil)
          val out = it.toSeq.sortBy(r => (r._3, r._2)).map {
            case (_, eid, _, v) =>
              vals = (v :: vals).take(frame)
              val n = vals.size
              val sx = vals.map(bd6).sum.toDouble
              val sx2 = vals.map(x => bd6(x * x)).sum.toDouble
              val mean = sx / n
              val variance = math.max((sx2 - sx * sx / n) / n, 0.0)
              val stdv = math.sqrt(variance)
              val z =
                if (stdv > 0)
                  Some(BigDecimal((v - mean) / stdv)
                    .setScale(4, BigDecimal.RoundingMode.HALF_UP)
                    .toDouble + 0.0)
                else None
              ZRow(uid, eid, n, sx, sx2, z)
          }
          state.update(ZState(vals))
          out.iterator
      }.toDF()
  }

  /** A fresh dir for one streaming-gate run's staging, sink and
    * checkpoint, under the process's one `io.Scratch` root — a cheap
    * mkdir under an existing root instead of a fresh /tmp tempdir
    * allocation PLUS Spark's own implicit `temporary-*` checkpoint
    * creation inside the timed region. The r11 bench record's two
    * extreme dispersion outliers (rel_spread 9–36 on sub-second
    * streaming gates) were exactly that directory I/O catching a slow
    * filesystem moment. */
  private def scratch(tag: String): java.nio.file.Path =
    java.nio.file.Files.createDirectories(graft.io.Scratch.path(tag))

  /** Runs a streaming gate's query with the setup (staging + planning
    * up to `start()`) and drain (micro-batch execution) costs split to
    * stderr — a noisy bench record then shows WHICH side caught the
    * slow filesystem moment instead of one conflated number. */
  private def runStream(name: String)(
      build: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val t0 = System.nanoTime()
    val q = build
    val t1 = System.nanoTime()
    require(q.awaitTermination(300000),
      s"$name: stream did not finish in 300s")
    val t2 = System.nanoTime()
    System.err.println(f"[stream] $name setup=${(t1 - t0) / 1e9}%.2fs " +
      f"drain=${(t2 - t1) / 1e9}%.2fs")
  }

  /** st_zscore: a REAL stateful streaming run — the events feed
    * replays under Trigger.AvailableNow through the per-user
    * frame-state stream into a parquet sink (row count is
    * corpus-sized, so no memory sink / driver collect). Because the
    * streaming arithmetic replicates the batch operator exactly, the
    * oracle IS w9's (single delivery ⇒ stream == batch bit-for-bit);
    * multi-batch state carry is pinned by StreamsSpec. */
  private def stZscore(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.{Files, Paths}
    val run = scratch("z")
    val dir = Files.createDirectories(run.resolve("in"))
    Files.copy(Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val outDir = run.resolve("out").toString
    val ckpt = run.resolve("ckpt").toString
    runStream("st_zscore") {
      streamingZscore(eventStream(s, dir.toString))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    s.read.parquet(outDir)
  }

  // ---- gate queries (batch semantics of the same code paths) ----

  /** st_heavy_hitters: a REAL stateful streaming run as the gate — the
    * documents feed is staged into a fresh directory and replayed
    * under Trigger.AvailableNow through the Misra-Gries
    * flatMapGroupsWithState stream into a PARQUET sink (the st_zscore
    * shape: the per-generation emission stream is corpus-sized at the
    * token grain, so no memory sink and no driver collect — the r12
    * verdict's remaining gate-scaffolding caveat); the final
    * per-language generation snapshot is the gate's row set. At
    * m = 2^20 (≫ fixture vocab) the sketch never evicts, so every
    * surviving lower bound is the exact stream-total count and the
    * oracle is the exact per-language top-15 in plain SQL —
    * deterministic however the file source splits the feed into
    * micro-batches, because the cumulative MG state is exact at every
    * generation. Eviction semantics at small m stay pinned by
    * StreamsSpec (single-delivery == batch; restart carries state). */
  private def stHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val run = scratch("hh")
    val dir = java.nio.file.Files.createDirectories(run.resolve("in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      dir.resolve("documents.parquet"))
    val outDir = run.resolve("out").toString
    runStream("st_heavy_hitters") {
      streamingHeavyHitters(docStream(s, dir.toString),
          k = 15, m = 1 << 20)
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", run.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
    }
    val wLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    s.read.parquet(outDir)
      .withColumn("max_gen", max("gen").over(wLang))
      .filter(col("gen") === col("max_gen"))
      .select(col("lang"), col("rank"), col("token"), col("n_lb"))
  }

  /** st_dedup_docs: a REAL stateful streaming run — the documents
    * feed replays under Trigger.AvailableNow through the first-seen
    * ledger into a PARQUET sink (see stHeavyHitters — the ledger
    * emission stream is corpus-sized at the fingerprint grain); the
    * gate keeps the final generation per fingerprint. Single delivery
    * ⇒ the snapshot equals the batch fingerprint dedup exactly, so
    * `d_fingerprint_dedup`'s oracle verifies the stream unchanged.
    * Multi-batch keeper pinning (first arrival wins over a later
    * smaller doc_id) is StreamsSpec-pinned. */
  private def stDedupDocs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val run = scratch("fs")
    val dir = java.nio.file.Files.createDirectories(run.resolve("in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      dir.resolve("documents.parquet"))
    val outDir = run.resolve("out").toString
    runStream("st_dedup_docs") {
      streamingFirstSeen(docStream(s, dir.toString))
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", run.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
    }
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    s.read.parquet(outDir)
      .withColumn("max_gen", max("gen").over(wFp))
      .filter(col("gen") === col("max_gen"))
      .select(col("fp"), col("keep_id"), col("n_copies"))
  }

  private def stCurateDocs(s: SparkSession, d: String): DataFrame =
    curateDocs(t(s, d, "documents"))

  private def stStreamJoin(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    clickPurchasePairs(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
  }

  private def stWindowAgg(s: SparkSession, d: String): DataFrame =
    hourlyAgg(t(s, d, "events"))

  private def stEnrich(s: SparkSession, d: String): DataFrame =
    enrichAgg(t(s, d, "events"), t(s, d, "customer"))

  private def stSessionize(s: SparkSession, d: String): DataFrame =
    sessionizeBatch(t(s, d, "events"))

  /** Sliding (hopping) windows: 1-hour windows every 30 minutes — each
    * event lands in two windows. Epoch-aligned starts make the DuckDB
    * oracle a union of the two half-hour-shifted assignments. */
  private def stSlidingWindow(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Native session windows (`session_window`, the Spark-native form of
    * the sessionization the lag/cumsum query computes): a session
    * extends while the gap to the next event is < 30 minutes —
    * breaks at gap ≥ 30min exactly, which the oracle mirrors. */
  private def stSessionWindow(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("user_id"), col("n_events"))

  /** st_cdc_apply: a REAL multi-batch streaming MERGE — the orders
    * change feed is staged as one file per batch (mtimes force the
    * file source's batch order), replayed under Trigger.AvailableNow
    * with maxFilesPerTrigger=1, and `Cdc.upsertBatch` foreachBatch-
    * merges each delta into a parquet state table via staged
    * overwrite. The final state equals "last event per key wins,
    * deletes absent" — which the oracle states as ONE window over the
    * whole feed ordered (batch desc, seq desc): sequential per-batch
    * merging and the global top-1 are provably the same function. */
  private def stCdcApply(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val run = scratch("cdc")
    val in = Files.createDirectories(run.resolve("in"))
    val feed = graft.ops.Cdc.changeFeed(t(s, d, "orders"))
    for (b <- 0 to 2) {
      val tmp = run.resolve(s"tmp$b")
      feed.filter(col("batch") === b).coalesce(1)
        .write.parquet(tmp.toString)
      // Files.list returns a Stream holding an open directory fd —
      // close it or leak one fd per staged batch
      val part = {
        val listing = Files.list(tmp)
        try listing.iterator.asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"st_cdc_apply: no part file for batch $b"))
        finally listing.close()
      }
      val dst = in.resolve(s"b$b.parquet")
      Files.copy(part, dst)
      // fixed, strictly increasing mtimes: the file source processes
      // oldest-first, so batch order is deterministic on any box
      Files.setLastModifiedTime(dst,
        FileTime.fromMillis(1000000000000L + b * 60000L))
    }
    val sch = s.read.parquet(in.resolve("b0.parquet").toString).schema
    val src = s.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val state = run.resolve("state").toString
    val ckpt = run.resolve("ckpt").toString
    runStream("st_cdc_apply") {
      src.writeStream
        .foreachBatch((df: DataFrame, _: Long) =>
          graft.ops.Cdc.upsertBatch(s, df, state))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    s.read.parquet(state)
  }

  /** Streaming read of a WARC/WET member directory: one whole-member
    * text row per arriving archive file — the batch `readWarc`
    * parallelism unit (one task per ~150 MB Common Crawl member) as a
    * file-source stream, so "new crawl members landed" IS the
    * micro-batch boundary. */
  def warcStream(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    spark.readStream.option("wholetext", "true").text(dir).as[String]
  }

  /** st_warc_curate: raw crawl bytes as a STREAM — two WET members
    * (the second a partial re-crawl: two records identical, one new)
    * arrive as files; each micro-batch frames records via the SAME
    * `Readers.parseWarcRecords` the batch path uses, keeps valid WET
    * conversions, and feeds the first-seen fingerprint ledger. The
    * gate emits the final ledger: keeper pinned at first arrival,
    * re-crawled payloads collapse cross-member. doc ids are the
    * numeric record-id suffixes so the oracle replays the whole
    * chain (framing CTE + fingerprint SQL) with no engine hash. */
  private def stWarcCurate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val run = scratch("warc")
    val dir = java.nio.file.Files.createDirectories(run.resolve("in"))
    java.nio.file.Files.writeString(
      dir.resolve("m0.warc"), graft.io.Fixtures.warc)
    java.nio.file.Files.writeString(dir.resolve("m1.warc"),
      graft.io.Fixtures.warc.replace("wet-0003", "wet-0004"))
    val outDir = run.resolve("out").toString
    runStream("st_warc_curate") {
      val docs = graft.io.Readers
        .parseWarcRecords(warcStream(s, dir.toString))
        .filter(col("warc_type") === "conversion" && col("is_valid"))
        .select(
          regexp_extract(col("record_id"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("payload").as("text"))
      streamingFirstSeen(docs)
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", run.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
    }
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    s.read.parquet(outDir)
      .withColumn("max_gen", max("gen").over(wFp))
      .filter(col("gen") === col("max_gen"))
      .select(col("fp"), col("keep_id"), col("n_copies"))
  }

  private def curateOracle: String = {
    import graft.text.TextOps
    s"""WITH scored AS (
       SELECT doc_id, text,
         round(least(1.0, len(tok) / 100.0) *
           (1.0 - len(list_filter(tok, x -> x IN
             ('the','a','of','and','in','to','is'))) * 1.0 / len(tok)),
           4) AS quality
       FROM (SELECT doc_id, text,
           string_split_regex(trim(text), '\\s+') AS tok
         FROM documents))
     SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp,
       quality,
       regexp_replace(regexp_replace(regexp_replace(text,
         '${TextOps.emailRe}', '<EMAIL>', 'g'),
         '${TextOps.phoneRe}', '<PHONE>', 'g'),
         '${TextOps.ipv4Re}', '<IP>', 'g') AS text,
       CASE WHEN substr(md5('graft-split:' ||
           CAST(doc_id AS VARCHAR)), 1, 2) < '${TextOps.splitTestMax}'
           THEN 'test'
         WHEN substr(md5('graft-split:' ||
           CAST(doc_id AS VARCHAR)), 1, 2) < '${TextOps.splitValMax}'
           THEN 'val'
         ELSE 'train' END AS split
     FROM scored WHERE quality >= 0.5"""
  }

  /** Both member texts re-framed + the fingerprint SQL of
    * d_fingerprint_dedup over the union — single AvailableNow
    * delivery ⇒ the final ledger equals the batch dedup exactly. */
  private def warcCurateStreamOracle: String = {
    val cte = graft.io.SourceQueries.warcCteFor(Seq(
      graft.io.Fixtures.warc,
      graft.io.Fixtures.warc.replace("wet-0003", "wet-0004")))
    s"""WITH $cte,
     wet AS (SELECT
         CAST(regexp_extract(record_id, '(\\d+)$$', 1) AS BIGINT)
           AS doc_id,
         payload
       FROM w WHERE warc_type = 'conversion' AND is_valid)
     SELECT md5(trim(regexp_replace(regexp_replace(lower(payload),
         '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_copies
     FROM wet GROUP BY 1"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("st_warc_curate", stWarcCurate _, Some(warcCurateStreamOracle)),
    // sequential per-batch MERGE ≡ global last-event-per-key: the
    // surviving row for a key is its top event by (batch desc, seq
    // desc), present iff that event is an upsert
    Gate("st_cdc_apply", stCdcApply _, Some(
      """WITH ev AS (
           SELECT o_custkey AS key, o_totalprice AS payload,
             CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
             o_orderkey AS seq,
             CAST(o_orderkey % 3 AS INT) AS batch
           FROM orders),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY key
             ORDER BY batch DESC, seq DESC) AS rn
           FROM ev)
         SELECT key, payload, seq FROM r WHERE rn = 1 AND op = 'U'""")),
    // per-language snapshot must equal the exact top-15 token counts,
    // tie-broken (count desc, token asc) like the emission sort
    Gate("st_heavy_hitters", stHeavyHitters _, Some(
      """WITH tk AS (
           SELECT lang,
             unnest(string_split_regex(trim(lower(text)), '\s+'))
               AS token
           FROM documents),
         c AS (SELECT lang, token, count(*) AS n_lb
           FROM tk GROUP BY lang, token)
         SELECT lang, CAST(rank AS INT) AS rank, token, n_lb
         FROM (SELECT *, row_number() OVER (PARTITION BY lang
           ORDER BY n_lb DESC, token ASC) AS rank FROM c) x
         WHERE rank <= 15""")),
    // exact-mode MG (m ≫ vocab → no evictions): the stream's final
    // single delivery ⇒ stream == batch bit-for-bit, so the batch
    // operator's oracle verifies the streaming gate unchanged
    Gate("st_zscore", stZscore _,
      Gate.oracleOf(graft.ops.Windows.gates, "w9_rolling_zscore")),
    Gate("st_window_agg", stWindowAgg _, Some(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
         event_type, count(*) AS n, round(sum(value),2) AS total_value
         FROM events GROUP BY 1, 2""")),
    Gate("st_sessionize", stSessionize _, Some(
      """WITH g AS (
           SELECT user_id, ts, event_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
           FROM events),
         b AS (
           SELECT user_id, ts, event_id,
             CASE WHEN gap_us IS NULL OR gap_us > 1800000000
               THEN 1 ELSE 0 END AS brk
           FROM g),
         s AS (
           SELECT user_id,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
           FROM b)
         SELECT user_id, session_id, count(*) AS n_events
         FROM s GROUP BY user_id, session_id""")),
    Gate("st_sliding_window", stSlidingWindow _, Some(
      """WITH assigned AS (
           SELECT to_timestamp((epoch_us(ts) // 1800000000) * 1800)
             AS ws, event_type, value FROM events
           UNION ALL
           SELECT to_timestamp((epoch_us(ts) // 1800000000) * 1800)
             - INTERVAL '30 minutes', event_type, value FROM events)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM assigned GROUP BY ws, event_type""")),
    Gate("st_session_window", stSessionWindow _, Some(
      """WITH g AS (
           SELECT user_id, ts, event_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
           FROM events),
         b AS (
           SELECT user_id, ts, event_id,
             CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
               THEN 1 ELSE 0 END AS brk
           FROM g),
         s AS (
           SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM b)
         SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           user_id, count(*) AS n_events
         FROM s GROUP BY user_id, sid""")),
    Gate("st_stream_join", stStreamJoin _, Some(
      """SELECT c.user_id, c.event_id AS click_id,
         p.event_id AS purchase_id,
         (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s,
         round(p.value, 2) AS value
         FROM events c JOIN events p
           ON c.event_type = 'click' AND p.event_type = 'purchase'
           AND c.user_id = p.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""")),
    Gate("st_enrich", stEnrich _, Some(
      """SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
         count(*) AS n_events,
         CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_value
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1""")),
    // single delivery ⇒ final ledger snapshot == batch fingerprint
    // dedup bit-for-bit; the batch gate's oracle verifies the stream
    Gate("st_dedup_docs", stDedupDocs _,
      Gate.oracleOf(graft.dedup.Dedup.gates, "d_fingerprint_dedup")),
    Gate("st_curate_docs", stCurateDocs _, Some(curateOracle)))
}
