package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate

/** Front-door catalog tables of the reference warehouse — the
  * sample-metadata family every GLAMR query joins through
  * (`postgres.Rmd:44-104` samples/datasets, `:176-188` tax_info,
  * `:253-291` read_count, `:1077-1166` contig_bin_membership,
  * `:1813-1952` microcystis marker/clade abundances).
  *
  * Same contract as [[WarehouseIngest]]: each loader is a pure
  * DataFrame→DataFrame transform (testable against a DuckDB
  * re-derivation of the same fixture), and each has an `s_*` gate. The
  * parse work is per-row and codegen'd — at 100 TB these tables are
  * either dimension-sized (samples, tax_info: broadcast side of every
  * enrichment join) or append-only facts loaded incrementally
  * per-sample (read_count, contig_bin_membership, mc_*), so the
  * loaders never shuffle: narrow select/filter/cast only. The one
  * windowed loader (read_count) partitions by (sample, direction) —
  * shuffle-local at any scale because a sample's funnel is 4 rows. */
object CatalogIngest {

  // ---- glamr_samples (postgres.Rmd:73-97) ----

  /** The reference's multi-format collection-date cascade
    * (`postgres.Rmd:74-78`): lubridate ym → ymd → ymd_hms → ymd_hm,
    * first format that consumes the WHOLE string wins (try_to_timestamp
    * rejects partial matches, matching lubridate's NA-on-mismatch). */
  private[io] def dateCascade(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit("yyyy-MM")),
      try_to_timestamp(c, lit("yyyy-MM-dd")),
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm"))).cast("date")

  /** `NA`/`NF` sentinel strings → null (`postgres.Rmd:83`: across
    * everything). */
  private[io] def naNormalize(c: Column): Column =
    when(c.isin("NA", "NF"), lit(null)).otherwise(c)

  /** Clean the merged sample sheet into the `glamr_samples` table
    * (`postgres.Rmd:73-104`): NA/NF → null everywhere, the date
    * cascade + `date_same_year` (year pinned to 2000 — a leap year, so
    * Feb 29 survives) + `year`, `numericCols` coerced with try_cast
    * (the reference's as.numeric: unparseable → NA, never an error),
    * rows without a SampleID dropped, and `sample` = SampleID
    * relocated first. All string-typed input columns are normalized;
    * the caller lists which of them are numeric. */
  def glamrSamplesIngest(raw: DataFrame,
      numericCols: Seq[String]): DataFrame = {
    val normalized = raw.select(raw.columns.toIndexedSeq.map { c =>
      naNormalize(col(c)).as(c)
    }: _*)
    val dated = normalized
      .withColumn("date", dateCascade(col("collection_date")))
      .withColumn("date_same_year",
        make_date(lit(2000), month(col("date")), dayofmonth(col("date"))))
      .withColumn("year", year(col("date")))
    val typed = numericCols.foldLeft(dated) { (df, c) =>
      df.withColumn(c, col(c).try_cast("double"))
    }
    typed.filter(col("SampleID").isNotNull)
      .select(col("SampleID").as("sample") +:
        typed.columns.toIndexedSeq.map(col): _*)
  }

  /** `glamr_datasets` (`postgres.Rmd:102-104`): the studies sheet,
    * rows without a dataset id dropped. */
  def glamrDatasetsIngest(studies: DataFrame): DataFrame =
    studies.filter(col("dataset").isNotNull)

  // ---- tax_info (postgres.Rmd:176-188) ----

  private val rankNames =
    Seq("kingdom", "phylum", "class", "order", "family", "genus",
      "species")

  /** The 7-rank taxonomy dimension: `std_lineage` split on `;x__`
    * boundaries into kingdom…species (missing ranks → null, matching
    * tidyr::separate), `tax_name` = last element of the full lineage,
    * kingdom's `k__` prefix stripped (`postgres.Rmd:179-183`). */
  def taxInfoIngest(raw: DataFrame): DataFrame = {
    val parts = split(col("std_lineage"), ";[a-z]__")
    val head = Seq(
      col("tax_id").cast("int").as("tax_id"),
      regexp_replace(col("full_lineage"), ".*;", "").as("tax_name"),
      col("rank"), col("full_lineage"), col("std_lineage"))
    val ranks = rankNames.zipWithIndex.map { case (r, i) =>
      // try_: a partial lineage legitimately lacks deep ranks → null
      // (tidyr::separate fill behavior), never an ANSI index error
      val piece = try_element_at(parts, lit(i + 1))
      (if (i == 0) regexp_replace(piece, "^k__", "") else piece).as(r)
    }
    raw.select(head ++ ranks: _*)
  }

  // ---- read_count (postgres.Rmd:253-291) ----

  private val readStates =
    Seq("raw_reads", "deduped_reads", "filt_and_trimmed_reads",
      "decon_reads")

  /** One sample's fastp funnel TSV → the `read_count` long table:
    * unpivot fwd/rev columns, encode the ordered read-state factor as
    * `state_order` (the Spark-native form of R's ordered factor), and
    * compute percent retained/removed against the PREVIOUS state with
    * a per-(sample, direction) lag window (`postgres.Rmd:270-280`).
    * First state has no predecessor → null percents, as in R. */
  def readCountIngest(raw: DataFrame, sample: String): DataFrame = {
    val long = raw.unpivot(
        Array(col("read_state")),
        Array(col("fwd_read_count"), col("rev_read_count")),
        "direction", "count")
      .withColumn("direction",
        regexp_replace(col("direction"), "_read_count$", ""))
      .withColumn("sample", lit(sample))
      .withColumn("state_order",
        array_position(typedLit(readStates), col("read_state"))
          .cast("int"))
      .withColumn("count", col("count").cast("long"))
    val w = Window.partitionBy("sample", "direction")
      .orderBy("state_order")
    val prev = lag(col("count"), 1).over(w)
    long
      .withColumn("percent_retained", col("count") / prev * lit(100))
      .withColumn("percent_removed",
        (prev - col("count")) / prev * lit(100))
      .withColumn("method", lit("Fastp"))
      .select("sample", "direction", "read_state", "state_order",
        "count", "percent_retained", "percent_removed", "method")
  }

  // ---- contig_bin_membership (postgres.Rmd:1077-1166) ----

  /** The contig×bin bridge every bin-level join rides through:
    * rename `new_bin_name` → bin, keep the reference's ingest-sample
    * prefixes only, distinct (the RDS files repeat rows across
    * binning rounds, `postgres.Rmd:1100-1103`). */
  def contigBinMembershipIngest(raw: DataFrame): DataFrame =
    raw.select(col("contig"), col("sample"),
        col("new_bin_name").as("bin"), col("length").cast("int"))
      .filter(WarehouseIngest.isIngestSample(col("sample")))
      .distinct()

  // ---- mc_marker_abunds / mc_clade_abunds (postgres.Rmd:1813-1952) ----

  /** Per-sequence microcystis marker abundances: the summary TSV with
    * (sample, marker) stamped from the file path, columns ordered and
    * typed as the reference's first-upload spec
    * (`postgres.Rmd:1836-1846`). */
  def mcMarkerAbundIngest(raw: DataFrame, sample: String,
      marker: String): DataFrame =
    raw.select(
      lit(sample).as("sample"), lit(marker).as("marker"),
      col("seqnames"), col("seqlength").cast("int").as("seqlength"),
      col("mapped").cast("int").as("mapped"),
      col("sample_read_count").cast("long").as("sample_read_count"),
      col("rpkm").cast("double").as("rpkm"),
      col("short_name"), col("clade"))

  /** Clade-level rollup table (`postgres.Rmd:1913-1921`). */
  def mcCladeAbundIngest(raw: DataFrame, sample: String,
      marker: String): DataFrame =
    raw.select(
      lit(sample).as("sample"), lit(marker).as("marker"),
      col("clade"), col("rpkm").cast("double").as("rpkm"),
      col("mapped_reads").cast("int").as("mapped_reads"))

  // ---- fixtures (oracles re-derive from the same constants) ----

  // SampleID 'NA' normalizes to null and must drop via the SampleID
  // filter, exercising normalize-before-filter order; dates cover all
  // four cascade formats plus an unparseable sentinel
  private[io] val sampleRows: Seq[(String, String, String, String,
      String, String, String, String, String, String)] = Seq(
    ("samp_1", "bio_1", "study_1", "metagenome", "2014-05",
      "41.1", "-83.2", "0.5", "NA", "8.1"),
    ("samp_2", "bio_2", "study_1", "metagenome", "2014-05-07",
      "NA", "NF", "1.25", "0.02", "7.9"),
    ("samp_3", "bio_3", "study_2", "amplicon",
      "2014-05-07 10:30:15", "42.0", "-83.0", "NF", "0.10", "NA"),
    ("samp_4", "bio_4", "study_2", "amplicon", "2014-05-07 10:30",
      "41.5", "-82.5", "2.5", "0.20", "8.3"),
    ("samp_5", "bio_5", "study_3", "metatranscriptome", "NA",
      "41.0", "-82.0", "0.1", "0.3", "7.5"),
    ("NA", "bio_6", "study_3", "metagenome", "2014-06",
      "40.0", "-81.0", "1.0", "0.4", "7.7"))

  private[io] val sampleCols: Seq[String] = Seq("SampleID",
    "BioSampleID", "StudyID", "sample_type", "collection_date", "lat",
    "lon", "nitrate", "ammonia", "pH")

  private[io] val sampleNumericCols: Seq[String] =
    Seq("lat", "lon", "nitrate", "ammonia", "pH")

  private[io] val studyRows: Seq[(String, Option[String], String)] =
    Seq(
      ("study_1", Some("glamr_wle"), "Western Lake Erie time series"),
      ("study_2", None, "unreleased pilot"),
      ("study_3", Some("glamr_saginaw"), "Saginaw Bay transect"))

  private[io] val taxRows: Seq[(Int, String, String, String)] = Seq(
    (562, "cellular organisms;Bacteria;Pseudomonadota;" +
      "Gammaproteobacteria;Enterobacterales;Enterobacteriaceae;" +
      "Escherichia;Escherichia coli", "species",
      "k__Bacteria;p__Pseudomonadota;c__Gammaproteobacteria;" +
        "o__Enterobacterales;f__Enterobacteriaceae;g__Escherichia;" +
        "s__Escherichia coli"),
    (1224, "cellular organisms;Bacteria;Pseudomonadota", "phylum",
      "k__Bacteria;p__Pseudomonadota"),
    (2, "cellular organisms;Bacteria", "superkingdom", "k__Bacteria"),
    (1, "root", "no rank", "root"),
    (4932, "cellular organisms;Eukaryota;Fungi;Saccharomycetes;" +
      "Saccharomycetales;Saccharomycetaceae;Saccharomyces;" +
      "Saccharomyces cerevisiae", "species",
      "k__Eukaryota;p__Ascomycota;c__Saccharomycetes;" +
        "o__Saccharomycetales;f__Saccharomycetaceae;" +
        "g__Saccharomyces;s__Saccharomyces cerevisiae"))

  private[io] val readCountRows: Map[String,
      Seq[(String, Long, Long)]] = Map(
    "samp_A" -> Seq(
      ("raw_reads", 1000L, 980L),
      ("deduped_reads", 900L, 880L),
      ("filt_and_trimmed_reads", 850L, 830L),
      ("decon_reads", 800L, 780L)),
    "samp_B" -> Seq(
      ("raw_reads", 2000L, 2000L),
      ("deduped_reads", 1500L, 1400L),
      ("filt_and_trimmed_reads", 1200L, 1100L),
      ("decon_reads", 0L, 0L)))

  // duplicate row (c_1 repeated) must collapse; bad_sample must drop
  private[io] val contigBinRows: Seq[(String, String, String, Int)] =
    Seq(
      ("c_1", "samp_447", "samp_447_concoct_7_refined_1", 52100),
      ("c_1", "samp_447", "samp_447_concoct_7_refined_1", 52100),
      ("c_2", "samp_447", "samp_447_concoct_7_refined_1", 18000),
      ("c_3", "samp_447", "samp_447_metabat2_3", 9000),
      ("c_9", "coassembly_2", "coassembly_2_semibin_1", 120000),
      ("c_x", "bad_sample", "bad_bin", 100))

  private[io] val mcMarkerRows: Seq[(String, Int, Int, Long, Double,
      String, String)] = Seq(
    ("seq_lgt_001", 1520, 310, 31000000L, 6.58, "LE19-196.1", "B"),
    ("seq_lgt_002", 1480, 12, 31000000L, 0.26, "PCC_7806", "A"),
    ("seq_lgt_003", 1600, 0, 31000000L, 0.0, "NIES-843", "C"))

  private[io] val mcCladeRows: Seq[(String, Double, Int)] = Seq(
    ("A", 0.26, 12), ("B", 6.58, 310), ("C", 0.0, 0))

  // ---- gate queries ----

  private def sGlamrSamples(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    glamrSamplesIngest(sampleRows.toDF(sampleCols: _*),
      sampleNumericCols)
  }

  private def sGlamrDatasets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    glamrDatasetsIngest(
      studyRows.toDF("StudyID", "dataset", "description"))
  }

  private def sTaxInfo(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    taxInfoIngest(
      taxRows.toDF("tax_id", "full_lineage", "rank", "std_lineage"))
  }

  private def sReadCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    readCountRows.toSeq.sortBy(_._1).map { case (sample, rows) =>
      readCountIngest(
        rows.toDF("read_state", "fwd_read_count", "rev_read_count"),
        sample)
    }.reduce(_.unionByName(_))
  }

  private def sContigBins(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    contigBinMembershipIngest(
      contigBinRows.toDF("contig", "sample", "new_bin_name", "length"))
  }

  private def sMcMarkerAbunds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mcMarkerAbundIngest(
      mcMarkerRows.toDF("seqnames", "seqlength", "mapped",
        "sample_read_count", "rpkm", "short_name", "clade"),
      "samp_447", "lgt__516")
  }

  private def sMcCladeAbunds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mcCladeAbundIngest(
      mcCladeRows.toDF("clade", "rpkm", "mapped_reads"),
      "samp_447", "lgt__516")
  }

  // ---- DuckDB oracles ----

  private def lit1(s: String): String =
    "'" + s.replace("'", "''") + "'"

  private def glamrSamplesOracle: String = {
    val vals = sampleRows.map { r =>
      r.productIterator.map(v => lit1(v.toString)).mkString("(", ", ", ")")
    }.mkString(", ")
    val naCase = sampleCols.map(c =>
      s"""CASE WHEN "$c" IN ('NA','NF') THEN NULL ELSE "$c" END
         AS "$c"""").mkString(", ")
    val numCast = sampleNumericCols
      .map(c => s"""TRY_CAST("$c" AS DOUBLE) AS "$c"""").mkString(", ")
    val passthru = sampleCols
      .filterNot(sampleNumericCols.contains).map(c => s""""$c"""")
      .mkString(", ")
    s"""WITH w(${sampleCols.map(c => s""""$c"""").mkString(", ")})
       AS (VALUES $vals),
     n AS (SELECT $naCase FROM w),
     d AS (SELECT *, CAST(coalesce(
         try_strptime(collection_date, '%Y-%m'),
         try_strptime(collection_date, '%Y-%m-%d'),
         try_strptime(collection_date, '%Y-%m-%d %H:%M:%S'),
         try_strptime(collection_date, '%Y-%m-%d %H:%M')) AS DATE)
         AS date FROM n)
     SELECT "SampleID" AS sample, $passthru, $numCast, date,
       make_date(2000, month(date), day(date)) AS date_same_year,
       CAST(year(date) AS INT) AS year
     FROM d WHERE "SampleID" IS NOT NULL"""
  }

  private def glamrDatasetsOracle: String = {
    val vals = studyRows.map { case (s0, ds, desc) =>
      s"(${lit1(s0)}, ${ds.map(lit1).getOrElse("NULL")}, ${lit1(desc)})"
    }.mkString(", ")
    s"""WITH w("StudyID", dataset, description) AS (VALUES $vals)
     SELECT * FROM w WHERE dataset IS NOT NULL"""
  }

  private def taxInfoOracle: String = {
    val vals = taxRows.map { case (id, fl, rk, sl) =>
      s"($id, ${lit1(fl)}, ${lit1(rk)}, ${lit1(sl)})"
    }.mkString(", ")
    val ranks = rankNames.zipWithIndex.map { case (r, i) =>
      val piece = s"string_split_regex(std_lineage, ';[a-z]__')[${i + 1}]"
      if (i == 0) s"regexp_replace($piece, '^k__', '') AS $r"
      else s"""$piece AS "$r""""
    }.mkString(", ")
    s"""WITH w(tax_id, full_lineage, rank, std_lineage)
       AS (VALUES $vals)
     SELECT CAST(tax_id AS INT) AS tax_id,
       regexp_replace(full_lineage, '.*;', '') AS tax_name,
       rank, full_lineage, std_lineage, $ranks
     FROM w"""
  }

  private def readCountOracle: String = {
    val vals = readCountRows.toSeq.sortBy(_._1).flatMap {
      case (sample, rows) => rows.map { case (st, f, r) =>
        s"(${lit1(sample)}, ${lit1(st)}, $f, $r)"
      }
    }.mkString(", ")
    val states = readStates.map(lit1).mkString("[", ", ", "]")
    s"""WITH w(sample, read_state, fwd_read_count, rev_read_count)
       AS (VALUES $vals),
     u AS (
       SELECT sample, read_state, 'fwd' AS direction,
         fwd_read_count AS count FROM w
       UNION ALL
       SELECT sample, read_state, 'rev', rev_read_count FROM w),
     o AS (SELECT sample, direction, read_state,
       CAST(list_position($states, read_state) AS INT) AS state_order,
       CAST(count AS BIGINT) AS count FROM u)
     SELECT sample, direction, read_state, state_order, count,
       count / lag(count) OVER sd * 100 AS percent_retained,
       (lag(count) OVER sd - count) / lag(count) OVER sd * 100
         AS percent_removed,
       'Fastp' AS method
     FROM o
     WINDOW sd AS (PARTITION BY sample, direction
       ORDER BY state_order)"""
  }

  private def contigBinsOracle: String = {
    val vals = contigBinRows.map { case (c, s0, b, l) =>
      s"(${lit1(c)}, ${lit1(s0)}, ${lit1(b)}, $l)"
    }.mkString(", ")
    s"""WITH w(contig, sample, bin, length) AS (VALUES $vals)
     SELECT DISTINCT contig, sample, bin, CAST(length AS INT) AS length
     FROM w
     WHERE regexp_matches(sample, '^(samp_|coassembly_|GVHDsamp_)')"""
  }

  private def mcMarkerOracle: String = {
    val vals = mcMarkerRows.map { r =>
      s"(${lit1(r._1)}, ${r._2}, ${r._3}, ${r._4}, ${r._5}, " +
        s"${lit1(r._6)}, ${lit1(r._7)})"
    }.mkString(", ")
    s"""WITH w(seqnames, seqlength, mapped, sample_read_count, rpkm,
       short_name, clade) AS (VALUES $vals)
     SELECT 'samp_447' AS sample, 'lgt__516' AS marker, seqnames,
       CAST(seqlength AS INT) AS seqlength, CAST(mapped AS INT) AS mapped,
       CAST(sample_read_count AS BIGINT) AS sample_read_count,
       CAST(rpkm AS DOUBLE) AS rpkm, short_name, clade
     FROM w"""
  }

  private def mcCladeOracle: String = {
    val vals = mcCladeRows.map { case (c, r, m) =>
      s"(${lit1(c)}, $r, $m)"
    }.mkString(", ")
    s"""WITH w(clade, rpkm, mapped_reads) AS (VALUES $vals)
     SELECT 'samp_447' AS sample, 'lgt__516' AS marker, clade,
       CAST(rpkm AS DOUBLE) AS rpkm,
       CAST(mapped_reads AS INT) AS mapped_reads
     FROM w"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("s_glamr_samples", sGlamrSamples _, Some(glamrSamplesOracle)),
    Gate("s_glamr_datasets", sGlamrDatasets _, Some(glamrDatasetsOracle)),
    Gate("s_tax_info", sTaxInfo _, Some(taxInfoOracle)),
    Gate("s_read_count", sReadCount _, Some(readCountOracle)),
    Gate("s_contig_bins", sContigBins _, Some(contigBinsOracle)),
    Gate("s_mc_marker_abunds", sMcMarkerAbunds _, Some(mcMarkerOracle)),
    Gate("s_mc_clade_abunds", sMcCladeAbunds _, Some(mcCladeOracle)))
}
