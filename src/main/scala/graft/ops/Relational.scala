package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Core relational operators: projection/filter/distinct (SURVEY §2.3),
  * joins J1-J8 (§2.4), aggregations A1/A3/A5/A6/A9/A10 (§2.5), and the
  * scalar-function families of §2.9.
  *
  * Design notes (100 TB posture):
  *  - Filters are plain `Column` predicates so Catalyst pushes them into
  *    the parquet scan (verify: `PushedFilters` in explain).
  *  - Dimension joins (`nation`, `region`, `part`, `supplier`) carry an
  *    explicit `broadcast()` hint — at cluster scale these stay
  *    broadcast-hash joins with zero shuffle of the fact side.
  *  - Fact-fact joins (lineitem ⨝ orders) shuffle on the join key once;
  *    AQE handles skew.  All aggregates are partial-aggregated map-side
  *    (Spark's default hash aggregate), so the shuffle carries combiner
  *    output, not raw rows.
  */
object Relational {

  /** A1 grouped sum — the `group_by %>% summarize(sum)` family
    * (reference `code/tax_abund_from_contigs.R:67-69`). TPC-H Q1 shape:
    * filter pushdown + 6-way aggregate over 2 grouping keys. */
  private def a1GroupedSum(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** Filter-pushdown scan (§2.3 compound predicates; TPC-H Q6 shape).
    * The whole predicate reaches the parquet reader. */
  private def filterPushdown(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"))

  /** A3 count per group (reference `standardize_bins.R:104-112`). */
  private def a3Count(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").groupBy("event_type").agg(count(lit(1)).as("n"))

  /** A4 median / quartiles per group — exact `percentile`, matching the
    * reference's per-model medians (`summarize_hmmscan.R:64-71`,
    * `hmm_summarize.py:240-285`). At 100 TB swap for
    * `percentile_approx` (sketch-mergeable, single pass); exact kept here
    * because the oracle (quantile_cont) interpolates identically. */
  private def a4Quartiles(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").groupBy("event_type").agg(
      round(expr("percentile(value, 0.25)"), 4).as("q1"),
      round(expr("percentile(value, 0.5)"), 4).as("median"),
      round(expr("percentile(value, 0.75)"), 4).as("q3"))

  /** A5 weighted mean per group: sum(x*w)/sum(w)
    * (reference `ampliconTrunc.R:172-180` per-cycle quality). */
  private def a5WeightedMean(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").groupBy("l_returnflag").agg(
      round(sum(col("l_extendedprice") * col("l_quantity")) /
        sum(col("l_quantity")), 4).as("weighted_avg_price"))

  /** A6 derived completeness metric: found/possible*100 against a global
    * denominator (reference `AnnotateContigs.pl:516-538`). The global
    * total is a 1-row aggregate — crossJoin of a singleton is a
    * broadcast-nested-loop of one row, shuffle-free. */
  private def a6Completeness(s: SparkSession, d: String): DataFrame = {
    val total = t(s, d, "customer").agg(count(lit(1)).as("possible"))
    t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("found"))
      .crossJoin(broadcast(total))
      .select(col("o_orderpriority"), col("found"),
        round(col("found") * lit(100.0) / col("possible"), 4)
          .as("pct_complete"))
  }

  /** A9 collect-to-list per group, made deterministic by sorting and
    * string-joining (reference lineage lists `AnnotateContigs.pl:654-692`). */
  private def a9CollectList(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").groupBy("o_orderpriority").agg(
      concat_ws(";", sort_array(collect_set(col("o_orderstatus"))))
        .as("statuses"),
      count(lit(1)).as("n"))

  /** A10 distinct + distinct count (`tax_abund_from_contigs.R:63-65`).
    * On a dictionary-encoded parquet column this is a near-metadata scan;
    * replaces the reference's recursive-CTE skip-scan hack
    * (`postgres.Rmd:22-37`). */
  private def a10Distinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").groupBy("l_returnflag").agg(
      countDistinct("l_partkey").as("n_parts"),
      countDistinct("l_suppkey").as("n_supps"))

  /** J1 equi left join fact ⟕ broadcast dim
    * (reference `merge_bracken.R:61` bracken ⟕ taxonomy). */
  private def j1LeftJoin(s: SparkSession, d: String): DataFrame =
    t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation")),
        col("s_nationkey") === col("n_nationkey"), "left")
      .select(col("s_suppkey"), col("s_name"), col("n_name"))

  /** J2 multi-way star join (reference `bin_summary` view
    * `postgres.Rmd:116-163`): fact ⨝ bridge ⨝ dim ⨝ dim ⨝ dim.
    * lineitem⨝orders shuffles once on orderkey; everything downstream is
    * broadcast. TPC-H Q5 shape. */
  private def j2StarJoin(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        2).as("revenue"))

  /** J3 join through a bridge (2-hop), the TPM-join shape of
    * `postgres_scripts/tpm.R:22`: fact → bridge(orders) → dim(customer). */
  private def j3TwoHop(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        2).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** J4 semi join (reference `ampliconTrunc.R:86`): orders having ≥1
    * high-discount line. Spark left_semi ≡ SQL EXISTS. */
  private def j4Semi(s: SparkSession, d: String): DataFrame = {
    val hot = t(s, d, "lineitem").filter(col("l_discount") > 0.08)
      .select(col("l_orderkey"))
    t(s, d, "orders")
      .join(hot, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
  }

  /** J5 anti join — THE canonical incremental-ingest operator of the
    * reference (`anti_join(existing)` `postgres.Rmd:1972,2132,2213`):
    * customers not yet "loaded" (here: with no order in status P — the
    * filtered right side keeps the result non-empty at every SF). */
  private def j5Anti(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders").filter(col("o_orderstatus") === "P")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))

  /** J6 join on a derived / regex-extracted key (reference eukcc bin-name
    * strip `postgres.Rmd:2425-2431`; bin_summary key regex
    * `postgres.Rmd:132-134`): recover custkey from 'Customer#000000042'. */
  private def j6DerivedKey(s: SparkSession, d: String): DataFrame = {
    val derived = t(s, d, "customer")
      .withColumn("key_from_name",
        regexp_extract(col("c_name"), "Customer#(\\d+)", 1).cast("long"))
    derived
      .join(t(s, d, "orders"), col("key_from_name") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total"))
  }

  /** J8 cross/expand grid (reference `expand.grid(binner × sample)`
    * `make_das_and_drep_inputs.R:68`) — tiny × tiny only. */
  private def j8CrossGrid(s: SparkSession, d: String): DataFrame =
    t(s, d, "region").select(col("r_name"))
      .crossJoin(t(s, d, "orders").select(col("o_orderstatus")).distinct())

  /** §2.3 conditional columns — when/otherwise quality tiers (reference
    * MAG quality `make_das_and_drep_inputs.R:36-38`). */
  private def caseWhenTiers(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .withColumn("tier",
        when(col("c_acctbal") > 7500, "high")
          .when(col("c_acctbal") > 0, "mid")
          .otherwise("neg"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"), round(avg("c_acctbal"), 4).as("avg_bal"))

  /** §2.9 regex extract + count (reference `str_extract` sample ids
    * `postgres.Rmd:2117`, prodigal header parse `postgres.Rmd:1194-1197`). */
  private def regexExtract(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .withColumn("first_word", regexp_extract(col("p_name"), "^(\\w+)", 1))
      .groupBy("first_word").agg(count(lit(1)).as("n"),
        round(avg("p_retailprice"), 4).as("avg_price"))

  /** §2.9 date parts (reference collection-date handling
    * `postgres.Rmd:74-82`). */
  private def dateParts(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total"))

  /** §2.9 JSON field access (reference runinfo lookups
    * `pypelib/raw_reads.py:101-133`): pull props.k out of the events
    * payload. */
  private def jsonExtract(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(round(avg("k"), 4).as("avg_k"), max("k").as("max_k"))

  /** §2.9 math family: log1p / sqrt / abs (reference log1p job-size
    * `pypelib/benchmark.py:140`, RPKM/TPM arithmetic `tpm.R:25-30`). */
  private def mathFuncs(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").groupBy("o_orderstatus").agg(
      round(avg(log1p(col("o_totalprice"))), 6).as("avg_log1p_price"),
      round(sum(sqrt(abs(col("o_totalprice")))), 4).as("sum_sqrt_price"))

  /** §2.9 string family: upper/trim/concat/length (reference `uc($_)`
    * `AnnotateContigs.pl:230`, `str_glue` ids `postgres.Rmd:1199`). */
  private def stringFuncs(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation")
      .join(broadcast(t(s, d, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(
        col("n_nationkey"),
        upper(col("n_name")).as("nation_uc"),
        concat_ws("/", col("r_name"), col("n_name")).as("path"),
        length(col("n_name")).as("name_len"))

  /** §2.3 NA normalization (reference `%in% c("NA","NF") → NA`
    * `postgres.Rmd:83`): sentinel values to null, then na.fill. */
  private def naNormalize(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .withColumn("prio",
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          col("o_orderpriority")).otherwise(lit(null)))
      .na.fill(Map("prio" -> "OTHER"))
      .groupBy("prio").agg(count(lit(1)).as("n"))

  /** §2.9 multi-format date-parse cascade (reference `ym → ymd →
    * ymd_hms → ymd_hm` fallback `postgres.Rmd:74-82`): three date
    * renderings keyed off the orderkey, recovered with a try_to_date
    * coalesce. ANSI mode is on in Spark 4, so try_* variants (not
    * bare to_date) are the scale-safe form — malformed rows yield
    * null, not a job abort. */
  private def dateParseMulti(s: SparkSession, d: String): DataFrame = {
    val m = pmod(col("o_orderkey"), lit(3))
    val fmted = t(s, d, "orders").withColumn("ds",
      when(m === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(m === 1, date_format(col("o_orderdate"), "MM/dd/yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyyMMdd")))
    fmted
      .withColumn("parsed", coalesce(
        expr("try_to_date(ds, 'yyyy-MM-dd')"),
        expr("try_to_date(ds, 'MM/dd/yyyy')"),
        expr("try_to_date(ds, 'yyyyMMdd')")))
      .groupBy(year(col("parsed")).as("yr"))
      .agg(count(lit(1)).as("n"),
        count(when(col("parsed").isNull, 1)).as("n_unparsed"))
  }

  /** §2.10 native codegen'd Expression: gc_content registered as a SQL
    * function (the Expression > UDF preference; see
    * `graft.functions.GcContent`). */
  private def gcContentExpr(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.install(s)
    t(s, d, "part")
      .groupBy("p_brand")
      .agg(round(avg(expr("gc_content(p_name)")), 4).as("avg_gc"),
        count(lit(1)).as("n"))
  }

  /** §2.9 map/struct family (reference dict-of-dicts flatten
    * `tabulate_targets.py:140-149`): parse the JSON payload into a
    * typed map, explode it to (key, value) rows, aggregate per key. */
  private def mapExplode(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("event_type"),
        explode(from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.IntegerType)))
          .as(Seq("key", "value")))
      .groupBy("event_type", "key")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))

  /** Table profiler — per-column row/null/distinct counts and
    * stringified min/max in ONE aggregate pass (the dbt-style
    * data-quality summary run after every load). min/max compute in
    * the column's native type and cast AFTER (lexicographic min of
    * stringified numbers is wrong). `exact = false` swaps the distinct
    * counts to approx_count_distinct — the 100 TB form: several exact
    * distincts in one aggregate expand the input once per column,
    * which is the right trade only when the table is gate-sized or
    * the audit demands exactness. */
  def profile(df: DataFrame, exact: Boolean = true): DataFrame = {
    val cols = df.columns.toSeq
    def distinctOf(c: String) =
      if (exact) countDistinct(col(c))
      else approx_count_distinct(col(c))
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"__nn_$c"),
      distinctOf(c).as(s"__nd_$c"),
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c")))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = array(cols.map(c => struct(
      lit(c).as("col_name"),
      col("__n").as("n_rows"),
      (col("__n") - col(s"__nn_$c")).as("n_null"),
      col(s"__nd_$c").as("n_distinct"),
      col(s"__mn_$c").as("min_val"),
      col(s"__mx_$c").as("max_val"))): _*)
    wide.select(explode(entries).as("p")).select("p.*")
  }

  private def fTableProfile(s: SparkSession, d: String): DataFrame =
    profile(t(s, d, "documents"))

  /** Exact equi-width histogram over an INTEGER-valued column (the
    * stats-collection shape a cost-based optimizer and every data
    * profile wants next to `profile`'s min/max): `nBuckets` buckets of
    * equal width over [min, max], bucket boundaries derived from the
    * data. Bucket index is pure integer arithmetic —
    * ⌊(v−mn)·nb / span⌋ via subtract-pmod-divide, span = mx−mn+1 — so
    * the assignment is bit-identical on any engine (no FP width).
    * Scale shape: one min/max aggregate, broadcast as a 1-row scalar
    * into a second scan, one map-side-combined groupBy on ≤nb keys.
    * NULLs are excluded (they're `profile`'s n_null, not a bucket). */
  def histogramExact(values: DataFrame, valueCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be > 0: $nBuckets")
    val v = values.filter(col(valueCol).isNotNull)
    val mm = v.agg(min(col(valueCol)).as("mn"),
      max(col(valueCol)).as("mx"))
    val num = (col(valueCol) - col("mn")) * lit(nBuckets.toLong)
    v.crossJoin(broadcast(mm))
      .withColumn("span", col("mx") - col("mn") + 1)
      // max lands in bucket nb−1 without clamping: (mx−mn)·nb < nb·span
      .withColumn("bucket",
        ((num - pmod(num, col("span"))) / col("span")).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
  }

  /** EXACT type-1 (inverse-ECDF) percentiles over an integer-valued
    * column at scale: the A4 `percentile()` aggregate buffers every
    * group value in memory — correct but not a 100 TB shape. This form
    * aggregates the VALUE HISTOGRAM (one map-side-combined shuffle on
    * the value, O(distinct values) rows), cumsums it with one window
    * over that small table, and selects rank ⌈p·N⌉ per requested
    * percentile in pure integer arithmetic (p carried as num/den, rank
    * = (num·N + den − 1) div den — no FP multiply, so both engines
    * agree bit-for-bit). Same count-of-values discipline as
    * `Skew.skewReport`.
    *
    * EAGER since r18: the call itself runs the data pass and writes
    * the value histogram to `io.Scratch` before it returns; the
    * returned frame reads the staged table. The `maxDistinct` guard
    * rides the `total` aggregate over that staged histogram, so it
    * fires only when the returned frame is executed — AFTER the
    * data-sized stage write. Checking before the write would add a
    * data pass to `a17_exact_percentiles`; that move belongs with the
    * range-partitioned rank selection (ROADMAP item 4). */
  def exactPercentiles(values: DataFrame, valueCol: String,
      ps: Seq[(String, Int, Int)],
      maxDistinct: Long = 1L << 22): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = values.sparkSession
    import spark.implicits._
    // ONE data-sized pass (r18): `hist` is referenced by TWO subtrees
    // below (the cumsum window and the total/cardinality guard), and
    // no exchange reuse fires across them — the unstaged form scanned
    // and shuffled the data twice. Staging the histogram (bounded at
    // O(distinct values) ≤ maxDistinct rows by the guarded contract)
    // makes the data pass happen exactly once; both consumers then
    // read the small staged table — the madOutliers /
    // profilePercentiles discipline. (The r17 alternative — deriving
    // total as full-partition window aggregates over the cumsum —
    // measured SLOWER: the unbounded-frame window buffers the single
    // partition a second time.)
    val hist = graft.io.Scratch.stage(
      values.filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).as("v"))
        .agg(count(lit(1)).as("c")),
      "pct_hist")
    // the single global cumsum window below is bounded by O(distinct
    // values) BY CONTRACT (integer-valued / low-cardinality column) —
    // ENFORCED by the in-plan guard riding `total`; the
    // attribute-derived constant key silences the WindowExec warning
    // for this sanctioned case (w1Funnel idiom; `c` is a count, never
    // null, so the key is total)
    val cum = hist.withColumn("cum",
      sum("c").over(Window.partitionBy(pmod(col("c"), lit(1)))
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // in-plan misuse guard (no extra pass — this aggregate already
    // scans the histogram): a caller pointing the GLOBAL form at a
    // continuous double column gets a data-sized single partition;
    // fail loudly instead (the unifrac/drift guard discipline). The
    // grouped form (`groupedPercentiles`) partitions every window by
    // the group key and needs no such bound. Since r18 this aggregate
    // reads the STAGED histogram, so it no longer costs a second
    // data-sized derivation.
    val total = hist.agg(sum("c").as("n"),
        count(lit(1)).as("n_distinct"))
      .select(expr("n + coalesce(CAST(assert_true(" +
        s"n_distinct <= ${maxDistinct}L, 'exactPercentiles: ' || " +
        s"n_distinct || ' distinct values exceeds the $maxDistinct " +
        "bound of the global value-histogram form — this column is " +
        "not low-cardinality; use groupedPercentiles or an " +
        "approx sketch (a11_quantile_sketch)') AS BIGINT), 0L)")
        .as("n"))
    val pcts = ps.toDF("p", "num", "den")
    val ranked = cum.crossJoin(broadcast(total))
      .crossJoin(broadcast(pcts))
      .withColumn("__a", col("num") * col("n") + col("den") - 1)
      .withColumn("rank",
        ((col("__a") - pmod(col("__a"), col("den"))) / col("den"))
          .cast("long"))
    ranked.filter(col("cum") >= col("rank"))
      .groupBy("p", "rank")
      .agg(min("v").as("value"))
  }

  /** Grouped form of `exactPercentiles`: the same value-histogram
    * cumsum PER GROUP — here every window partitions by the group key,
    * so unlike the global form there is no single-partition stage at
    * all: one (group, value) histogram shuffle, one group-keyed
    * window, one broadcast of the percentile fractions. The fully
    * scale-correct grouped percentile. */
  def groupedPercentiles(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[(String, Int, Int)]): DataFrame =
    percentilesFromHist(
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(groupCol).as("g"), col(valueCol).as("v"))
        .agg(count(lit(1)).as("c")), ps)
      .withColumnRenamed("g", groupCol)

  /** The histogram-weighted core of `groupedPercentiles`: same
    * rank-selection arithmetic over a PRE-BUILT (g, v, c) value
    * histogram. Exposed separately so multi-statistic consumers
    * (`madOutliers`) can pay the data-sized histogram shuffle ONCE
    * and derive every later histogram (|v−median| for the MAD) by
    * histogram-to-histogram arithmetic instead of rescanning data. */
  private[ops] def percentilesFromHist(hist: DataFrame,
      ps: Seq[(String, Int, Int)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = hist.sparkSession
    import spark.implicits._
    val cum = hist.withColumn("cum",
        sum("c").over(Window.partitionBy("g").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("g")))
    val pcts = ps.toDF("p", "num", "den")
    cum.crossJoin(broadcast(pcts))
      .withColumn("__a", col("num") * col("n") + col("den") - 1)
      .withColumn("rank",
        ((col("__a") - pmod(col("__a"), col("den"))) / col("den"))
          .cast("long"))
      .filter(col("cum") >= col("rank"))
      .groupBy("g", "p", "rank")
      .agg(min("v").as("value"))
  }

  /** Robust per-group outlier report via EXACT median / MAD (median
    * absolute deviation) — the outlier rule quality filters reach for
    * when the mean/σ z-score is itself dragged by the outliers it
    * should catch (Iglewicz–Hosteller's modified z-score; the robust
    * twin of `w9_rolling_zscore`). Both the median and the MAD ride
    * `groupedPercentiles` (value-histogram cumsum, every window
    * partitioned by the group — no single-partition stage, no
    * per-group sort, no value buffering), and the outlier test is
    * pure integer arithmetic: flag v iff
    *
    *   kDen · |v − median| > kNum · MAD
    *
    * with the threshold carried as the rational kNum/kDen (default
    * 5189/1000 ≈ 3.5/0.6745, the standard modified-z cut) — no FP
    * multiply, so both engines agree bit-for-bit. Degenerate groups
    * (MAD = 0: more than half the values sit ON the median) flag
    * every off-median value, the rule's documented behavior.
    *
    * Scale shape: ONE data-sized pass total — the (group, value)
    * histogram shuffle (exactly a18's cost), staged once; the median,
    * the |v−median| DEVIATION histogram (a histogram-to-histogram
    * re-aggregation, no data rescan), the MAD, and the final outlier
    * counts are all derived from it at histogram scale. Before this
    * fuse the operator rescanned the data three times (r14 verdict:
    * ~4× a18's cost; now bounded by one scan + histogram work). */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      kNum: Long = 5189, kDen: Long = 1000): DataFrame = {
    // the one data-sized pass: stage the value histogram (Scratch
    // discipline) — every consumer below reads the materialized
    // O(distinct values per group) table
    val hist = graft.io.Scratch.stage(
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(groupCol).as("g"), col(valueCol).as("v"))
        .agg(count(lit(1)).as("c")),
      "mad_hist")
    val med = percentilesFromHist(hist, Seq(("p50", 1, 2)))
      .select(col("g"), col("value").as("med"))
    // deviation histogram FROM the value histogram: |v−med| folds
    // value rows pairwise (v below/above the median meet), counts
    // add. Derived ONCE: the MAD (its p50) is computed by windows
    // over this same frame — the identical rank-selection arithmetic
    // percentilesFromHist applies (n and the running cum over the
    // group partition, rank = (n + den − 1) div den with num=1/den=2,
    // mad = min adev with cum ≥ rank), but as window columns riding
    // the one exchange instead of a second full derivation of devHist
    // + a broadcast join back (the r16 form computed devHist twice —
    // each time re-reading the staged histogram and re-aggregating).
    import org.apache.spark.sql.expressions.Window
    val wG = Window.partitionBy("g")
    val devHist = hist.join(broadcast(med), "g")
      .groupBy(col("g"), col("med"),
        abs(col("v") - col("med")).as("adev"))
      .agg(sum("c").as("c"))
    val withMad = devHist
      .withColumn("cum", sum("c").over(wG.orderBy("adev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(wG))
      // p50 rank in the exact integer form of percentilesFromHist:
      // __a = 1·n + 2 − 1; rank = __a div 2, FP-free
      .withColumn("__a", col("n") + 1)
      .withColumn("rank",
        ((col("__a") - pmod(col("__a"), lit(2))) / 2).cast("long"))
      .withColumn("mad",
        min(when(col("cum") >= col("rank"), col("adev"))).over(wG))
    withMad
      .groupBy("g")
      .agg(sum("c").as("n"),
        min("med").as("median"), // constant per group
        min("mad").as("mad"),
        sum(when(lit(kDen) * col("adev") > lit(kNum) * col("mad"),
          col("c")).otherwise(lit(0L))).as("n_outliers"))
      .withColumn("outlier_share",
        round(col("n_outliers").cast("double") / col("n"), 6))
      .withColumnRenamed("g", groupCol)
  }

  /** Gate: per-returnflag robust outlier report on price cents. */
  private def a19MadOutliers(s: SparkSession, d: String): DataFrame =
    madOutliers(
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("v")),
      "l_returnflag", "v")

  /** Gate: per-returnflag exact p50/p95 of l_extendedprice cents. */
  private def a18GroupedPercentiles(s: SparkSession, d: String)
      : DataFrame =
    groupedPercentiles(
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("v")),
      "l_returnflag", "v",
      Seq(("p50", 1, 2), ("p95", 19, 20)))

  /** Gate: exact p25/p50/p75/p95/p99 of l_extendedprice in cents. */
  private def a17ExactPercentiles(s: SparkSession, d: String): DataFrame =
    exactPercentiles(
      t(s, d, "lineitem")
        .select(round(col("l_extendedprice") * 100)
          .cast("long").as("v")),
      "v",
      Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
        ("p95", 19, 20), ("p99", 99, 100)))

  /** FUSED table-profiling percentiles: grouped (a18) AND global
    * (a17) percentiles from ONE data-sized (group, value) histogram
    * shuffle — the a19 histogram-to-histogram pattern applied to the
    * profiling pair. The staged grouped histogram feeds the per-group
    * cumsum directly; the GLOBAL histogram is derived from it by a
    * histogram-sized re-aggregation (sum counts over groups), never a
    * second data scan. Calling a17 + a18 separately costs two full
    * scans + two data-sized shuffles; this form costs one of each
    * plus histogram-scale work.
    *
    * Output: one row per (scope, p) where scope is the group value or
    * '__ALL__' for the global row — the shape a profiling report
    * wants. The global path carries the same in-plan cardinality
    * guard as `exactPercentiles` (its one cumsum partition is
    * O(global distinct values) by the low-cardinality contract). */
  def profilePercentiles(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[(String, Int, Int)],
      maxDistinct: Long = 1L << 22): DataFrame = {
    val hist = graft.io.Scratch.stage(
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(groupCol).cast("string").as("g"),
          col(valueCol).as("v"))
        .agg(count(lit(1)).as("c")),
      "prof_hist")
    val grouped = percentilesFromHist(hist, ps)
      .select(col("g").as("scope"), col("p"), col("value"))
    // histogram-to-histogram: global counts = sum over groups; the
    // same aggregate ALSO counts rows whose group equals the reserved
    // '__ALL__' scope label, so the sentinel guard no longer costs a
    // separate read of the staged histogram (the r16 form aggregated
    // `hist` one extra time just to produce zg).
    // The scope label must be ATTRIBUTE-DERIVED (the w1Funnel /
    // exactPercentiles idiom): a bare lit("__ALL__") constant-folds
    // through projection collapse into percentilesFromHist's window
    // partition key and re-opens the WindowExec warning the r15
    // round closed; concat_ws over a zero-length slice of `v` is the
    // same constant value without being foldable. The single global
    // partition itself is O(distinct values) by the guarded contract.
    val ghist = hist.groupBy("v")
      .agg(sum("c").as("c"),
        count(when(col("g") === "__ALL__", 1)).as("__nbad"))
      .select(
        concat_ws("", lit("__ALL__"),
          substring(col("v").cast("string"), 1, 0)).as("g"),
        col("v"), col("c"), col("__nbad"))
    // BOTH in-plan misuse guards (cardinality bound + reserved scope
    // label) ride ONE histogram-sized aggregate over ghist; the union
    // below evaluates every branch under the noop/materializing sink,
    // so a violation still fails the whole query loudly. z = 0 or a
    // loud error — the exactPercentiles discipline, no extra data
    // pass over the staged histogram.
    val guard = ghist.agg(count(lit(1)).as("nd"),
        sum("__nbad").as("nbad"))
      .select(expr("coalesce(CAST(assert_true(" +
        s"nd <= ${maxDistinct}L, 'profilePercentiles: ' || nd || " +
        s"' global distinct values exceeds the $maxDistinct bound " +
        "of the value-histogram form — this column is not " +
        "low-cardinality; use an approx sketch') AS BIGINT), 0L) + " +
        "coalesce(CAST(assert_true(coalesce(nbad, 0L) = 0L, " +
        "'profilePercentiles: ' || nbad || ' rows of the group " +
        "column equal the reserved scope label __ALL__ — grouped " +
        "and global output rows would be indistinguishable; rename " +
        "those group values') AS BIGINT), 0L)").as("z"))
    val global = percentilesFromHist(
        ghist.crossJoin(broadcast(guard))
          .select(col("g"), col("v"), (col("c") + col("z")).as("c")),
        ps)
      .select(col("g").as("scope"), col("p"), col("value"))
    grouped.unionByName(global)
  }

  /** Gate: the fused profile — per-returnflag AND global exact
    * p25..p99 of price cents from one staged histogram. */
  private def a20ProfilePercentiles(s: SparkSession, d: String)
      : DataFrame =
    profilePercentiles(
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("v")),
      "l_returnflag", "v",
      Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
        ("p95", 19, 20), ("p99", 99, 100)))

  /** Gate: 20-bucket histogram of l_extendedprice in exact cents.
    * The explicit round() matters: the column is a DOUBLE, and a bare
    * long cast truncates in Spark but rounds in DuckDB — x99.999…
    * cents would land in different buckets per engine. */
  private def fHistogram(s: SparkSession, d: String): DataFrame =
    histogramExact(
      t(s, d, "lineitem")
        .select(round(col("l_extendedprice") * 100)
          .cast("long").as("v")),
      "v", 20)

  private def profileOracle: String =
    Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         count(*) - count($c) AS n_null,
         count(DISTINCT $c) AS n_distinct,
         CAST(min($c) AS VARCHAR) AS min_val,
         CAST(max($c) AS VARCHAR) AS max_val FROM documents"""
    }.mkString(" UNION ALL ")

  val gates: Seq[Gate] = Seq(
    Gate("f_table_profile", fTableProfile _, Some(profileOracle)),
    Gate("f_histogram", fHistogram _, Some(
      """WITH v AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         mm AS (
           SELECT min(v) AS mn, max(v) AS mx,
             max(v) - min(v) + 1 AS span
           FROM v)
         SELECT CAST(((v - mn) * 20 - ((v - mn) * 20) % span) / span
             AS BIGINT) AS bucket,
           count(*) AS n, min(v) AS lo, max(v) AS hi
         FROM v, mm GROUP BY 1""")),
    Gate("a17_exact_percentiles", a17ExactPercentiles _, Some(
      """WITH v AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         hist AS (SELECT v, count(*) AS c FROM v GROUP BY 1),
         cum AS (
           SELECT v, sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM hist),
         total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
         pcts(p, num, den) AS (VALUES ('p25', 1, 4), ('p50', 1, 2),
           ('p75', 3, 4), ('p95', 19, 20), ('p99', 99, 100)),
         ranked AS (
           SELECT c.v, c.cum, p.p,
             CAST((p.num * t.n + p.den - 1)
               - (p.num * t.n + p.den - 1) % p.den AS BIGINT) / p.den
               AS rank
           FROM cum c, total t, pcts p)
         SELECT p, CAST(rank AS BIGINT) AS rank,
           min(v) AS value
         FROM ranked WHERE cum >= rank GROUP BY 1, 2""")),
    Gate("a18_grouped_percentiles", a18GroupedPercentiles _, Some(
      """WITH v AS (
           SELECT l_returnflag AS g,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         hist AS (SELECT g, v, count(*) AS c FROM v GROUP BY 1, 2),
         cum AS (
           SELECT g, v,
             sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(c) OVER (PARTITION BY g) AS n
           FROM hist),
         pcts(p, num, den) AS (VALUES ('p50', 1, 2), ('p95', 19, 20)),
         ranked AS (
           SELECT c.g, c.v, c.cum, p.p,
             CAST((p.num * c.n + p.den - 1)
               - (p.num * c.n + p.den - 1) % p.den AS BIGINT) / p.den
               AS rank
           FROM cum c, pcts p)
         SELECT g AS l_returnflag, p, CAST(rank AS BIGINT) AS rank,
           min(v) AS value
         FROM ranked WHERE cum >= rank GROUP BY 1, 2, 3""")),
    Gate("a20_profile_percentiles", a20ProfilePercentiles _, Some(
      """WITH v AS (
           SELECT l_returnflag AS g,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         hist AS (SELECT g, v, count(*) AS c FROM v GROUP BY 1, 2),
         bh AS (
           SELECT g, v, c FROM hist
           UNION ALL
           SELECT '__ALL__' AS g, v, sum(c) AS c FROM hist GROUP BY 2),
         cum AS (
           SELECT g, v,
             sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(c) OVER (PARTITION BY g) AS n
           FROM bh),
         pcts(p, num, den) AS (VALUES ('p25', 1, 4), ('p50', 1, 2),
           ('p75', 3, 4), ('p95', 19, 20), ('p99', 99, 100)),
         ranked AS (
           SELECT c.g, c.v, c.cum, p.p,
             CAST((p.num * c.n + p.den - 1)
               - (p.num * c.n + p.den - 1) % p.den AS BIGINT) / p.den
               AS rank
           FROM cum c, pcts p)
         SELECT g AS scope, p, min(v) AS value
         FROM ranked WHERE cum >= rank GROUP BY 1, 2""")),
    // median + MAD each replay the a18 histogram-cumsum rank form
    // (num=1, den=2); the outlier test is the same integer-rational
    // compare as the Spark side
    Gate("a19_mad_outliers", a19MadOutliers _, Some(
      """WITH v AS (
           SELECT l_returnflag AS g,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         h1 AS (SELECT g, v, count(*) AS c FROM v GROUP BY 1, 2),
         c1 AS (
           SELECT g, v,
             sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(c) OVER (PARTITION BY g) AS n
           FROM h1),
         med AS (
           SELECT g, min(v) AS med FROM c1
           WHERE cum >= CAST((n + 1) - (n + 1) % 2 AS BIGINT) / 2
           GROUP BY 1),
         d AS (
           SELECT v.g, abs(v.v - m.med) AS adev
           FROM v JOIN med m ON m.g = v.g),
         h2 AS (SELECT g, adev, count(*) AS c FROM d GROUP BY 1, 2),
         c2 AS (
           SELECT g, adev,
             sum(c) OVER (PARTITION BY g ORDER BY adev
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(c) OVER (PARTITION BY g) AS n
           FROM h2),
         mad AS (
           SELECT g, min(adev) AS mad FROM c2
           WHERE cum >= CAST((n + 1) - (n + 1) % 2 AS BIGINT) / 2
           GROUP BY 1)
         SELECT d.g AS l_returnflag,
           count(*) AS n,
           CAST(min(m.med) AS BIGINT) AS median,
           CAST(min(x.mad) AS BIGINT) AS mad,
           CAST(sum(CASE WHEN 1000 * d.adev > 5189 * x.mad
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(CAST(sum(CASE WHEN 1000 * d.adev > 5189 * x.mad
               THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS outlier_share
         FROM d JOIN med m ON m.g = d.g JOIN mad x ON x.g = d.g
         GROUP BY 1""")),
    Gate("f_map_explode", mapExplode _, Some(
      """WITH kv AS (
           SELECT event_type, unnest(json_keys(props)) AS key, props
           FROM events)
         SELECT event_type, key, count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.' || key) AS INT))
             AS BIGINT) AS total
         FROM kv GROUP BY event_type, key""")),
    Gate("f_gc_content_expr", gcContentExpr _, Some(
      """SELECT p_brand,
         round(avg(length(regexp_replace(lower(p_name), '[^gc]', '', 'g'))
           * 100.0 / length(p_name)), 4) AS avg_gc,
         count(*) AS n
         FROM part GROUP BY p_brand""")),
    Gate("f_date_parse_multi", dateParseMulti _, Some(
      """WITH f AS (
           SELECT CASE CAST(o_orderkey % 3 AS INT)
             WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
             WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
             ELSE strftime(o_orderdate, '%Y%m%d') END AS ds
           FROM orders),
         p AS (
           SELECT coalesce(try_strptime(ds, '%Y-%m-%d'),
             try_strptime(ds, '%m/%d/%Y'),
             try_strptime(ds, '%Y%m%d')) AS parsed
           FROM f)
         SELECT CAST(year(parsed) AS INT) AS yr, count(*) AS n,
           count(CASE WHEN parsed IS NULL THEN 1 END) AS n_unparsed
         FROM p GROUP BY 1""")),
    Gate("a1_grouped_sum", a1GroupedSum _, Some(
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
         round(avg(l_quantity),4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""")),
    Gate("f_filter_pushdown", filterPushdown _, Some(
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue
         FROM lineitem
         WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""")),
    Gate("a3_count_per_group", a3Count _,
      Some("SELECT event_type, count(*) AS n FROM events GROUP BY event_type")),
    Gate("a4_quartiles", a4Quartiles _, Some(
      """SELECT event_type,
         round(quantile_cont(value, 0.25),4) AS q1,
         round(quantile_cont(value, 0.5),4) AS median,
         round(quantile_cont(value, 0.75),4) AS q3
         FROM events GROUP BY event_type""")),
    Gate("a5_weighted_mean", a5WeightedMean _, Some(
      """SELECT l_returnflag,
         round(sum(l_extendedprice*l_quantity)/sum(l_quantity),4)
           AS weighted_avg_price
         FROM lineitem GROUP BY l_returnflag""")),
    Gate("a6_completeness", a6Completeness _, Some(
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS found,
         round(count(DISTINCT o_custkey)*100.0 /
           (SELECT count(*) FROM customer),4) AS pct_complete
         FROM orders GROUP BY o_orderpriority""")),
    Gate("a9_collect_list", a9CollectList _, Some(
      """SELECT o_orderpriority,
         array_to_string(list_sort(list(DISTINCT o_orderstatus)),';')
           AS statuses,
         count(*) AS n
         FROM orders GROUP BY o_orderpriority""")),
    Gate("a10_distinct_count", a10Distinct _, Some(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag""")),
    Gate("j1_left_join", j1LeftJoin _, Some(
      """SELECT s_suppkey, s_name, n_name FROM supplier
         LEFT JOIN nation ON s_nationkey = n_nationkey""")),
    Gate("j2_star_join", j2StarJoin _, Some(
      """SELECT r_name, n_name,
         round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""")),
    Gate("j3_two_hop_join", j3TwoHop _, Some(
      """SELECT c_mktsegment,
         round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue,
         count(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""")),
    Gate("j4_semi_join", j4Semi _, Some(
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
         GROUP BY o_orderpriority""")),
    Gate("j5_anti_join", j5Anti _, Some(
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""")),
    Gate("j6_derived_key_join", j6DerivedKey _, Some(
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(sum(o_totalprice),2) AS total
         FROM customer
         JOIN orders
           ON CAST(regexp_extract(c_name, 'Customer#(\d+)', 1) AS BIGINT)
              = o_custkey
         GROUP BY c_mktsegment""")),
    Gate("j8_cross_grid", j8CrossGrid _, Some(
      """SELECT r_name, o_orderstatus FROM region
         CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) x""")),
    Gate("f_case_when_tiers", caseWhenTiers _, Some(
      """SELECT CASE WHEN c_acctbal > 7500 THEN 'high'
                     WHEN c_acctbal > 0 THEN 'mid'
                     ELSE 'neg' END AS tier,
         count(*) AS n, round(avg(c_acctbal),4) AS avg_bal
         FROM customer GROUP BY 1""")),
    Gate("f_regex_extract", regexExtract _, Some(
      """SELECT regexp_extract(p_name, '^(\w+)', 1) AS first_word,
         count(*) AS n, round(avg(p_retailprice),4) AS avg_price
         FROM part GROUP BY 1""")),
    Gate("f_date_parts", dateParts _, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo,
         count(*) AS n_orders, round(sum(o_totalprice),2) AS total
         FROM orders GROUP BY 1, 2""")),
    Gate("f_json_extract", jsonExtract _, Some(
      """SELECT event_type,
         round(avg(CAST(json_extract_string(props,'$.k') AS INT)),4) AS avg_k,
         max(CAST(json_extract_string(props,'$.k') AS INT)) AS max_k
         FROM events GROUP BY event_type""")),
    Gate("f_math_funcs", mathFuncs _, Some(
      """SELECT o_orderstatus,
         round(avg(ln(1+o_totalprice)),6) AS avg_log1p_price,
         round(sum(sqrt(abs(o_totalprice))),4) AS sum_sqrt_price
         FROM orders GROUP BY o_orderstatus""")),
    Gate("f_string_funcs", stringFuncs _, Some(
      """SELECT n_nationkey, upper(n_name) AS nation_uc,
         r_name || '/' || n_name AS path,
         CAST(length(n_name) AS INT) AS name_len
         FROM nation JOIN region ON n_regionkey = r_regionkey""")),
    Gate("f_na_normalize", naNormalize _, Some(
      """SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN o_orderpriority ELSE 'OTHER' END AS prio,
         count(*) AS n
         FROM orders GROUP BY 1""")))
}
