package graft.io

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Gate

/** Dedicated ingest schemas for the remaining §1.2 warehouse tables —
  * kofam_scan, checkm2, eukcc, antismash counts/regions (reference
  * `postgres.Rmd:889-977,1264-1360,2279-2468`). Each loader is the
  * reference's read→rename→mutate→relocate recipe re-expressed as a
  * declarative DataFrame transform over an already-read frame or line
  * set; the gates feed them in-code fixtures of the tool outputs.
  *
  * All parses use try-casts: a malformed line in one file must yield
  * nulls, not abort a 100 TB ingest.
  */
object WarehouseIngest {

  /** The reference's sample-name gate, applied by every loader before
    * upload (`postgres.Rmd:901-902,946-947,1275-1276,2291-2292`). */
  def isIngestSample(sample: Column): Column =
    sample.rlike("^(samp_|coassembly_|GVHDsamp_)")

  // ---- janitor::clean_names analog (checkm2 header drift,
  //      postgres.Rmd:950,959) ----

  /** Snake-case a tool header the way `janitor::clean_names` does:
    * non-alphanumerics → `_`, collapse/trim, lowercase, digit-leading
    * names prefixed with `x`. */
  def cleanName(c: String): String = {
    val s = c.replaceAll("[^A-Za-z0-9]+", "_")
      .replaceAll("^_+|_+$", "").toLowerCase
    if (s.headOption.exists(_.isDigit)) "x" + s else s
  }

  /** Apply cleanName to every column of a freshly-read tool table —
    * the checkm2 loader's `janitor::clean_names()` step. Tool version
    * drift (renamed/added headers) lands as new cleaned columns
    * instead of breaking a positional schema. */
  def cleanNamesDf(df: DataFrame): DataFrame =
    df.columns.foldLeft(df) { (d, c) =>
      val n = cleanName(c)
      if (n == c) d else d.withColumnRenamed(c, n)
    }

  // ---- kofam_scan (postgres.Rmd:1279-1312): detail-tsv, skip 2
  //      header lines, '*' significance flag, ko_def dropped ----

  val kofamSchema: StructType = StructType(Seq(
    StructField("sig", StringType), StructField("gene", StringType),
    StructField("ko", StringType), StructField("thrshld", StringType),
    StructField("score", DoubleType),
    StructField("e_value", DoubleType),
    StructField("ko_def", StringType)))

  /** Parse kofam detail-tsv lines (post skip-2): sig `*` → boolean,
    * ko_def dropped, sample tagged, gene/sample relocated first.
    * `thrshld` is `-` for KOs with no adaptive threshold → null via
    * try_cast (pg type numeric, Rmd:1294). */
  def parseKofam(lines: Dataset[String], sample: String): DataFrame =
    Readers.parseSeparated(Readers.skipLines(lines, 2), kofamSchema)
      .select(
        col("gene"), lit(sample).as("sample"),
        (col("sig") === "*").as("sig"), col("ko"),
        col("thrshld").try_cast("double").as("thrshld"),
        col("score"), col("e_value"))

  // ---- checkm2 (postgres.Rmd:949-963): header TSV, clean_names,
  //      Name → bin, sample relocated first ----

  /** Column types locked after clean_names — the reference's
    * `as.col_spec(checkm_test)` idiom (Rmd:951): infer once from a
    * known-good file, then force every subsequent read. */
  val checkm2Types: Seq[(String, String)] = Seq(
    "bin" -> "string", "completeness" -> "double",
    "contamination" -> "double", "completeness_model_used" -> "string",
    "translation_table_used" -> "int", "coding_density" -> "double",
    "contig_n50" -> "bigint", "average_gene_length" -> "double",
    "genome_size" -> "bigint", "gc_content" -> "double",
    "total_coding_sequences" -> "bigint",
    "additional_notes" -> "string")

  /** Transform a header-read checkm2 quality_report (original tool
    * headers) into the warehouse shape. */
  def checkm2Ingest(raw: DataFrame, sample: String): DataFrame = {
    val cleaned = cleanNamesDf(raw).withColumnRenamed("name", "bin")
    val typed = checkm2Types.collect {
      case (n, t) if cleaned.columns.contains(n) =>
        col(n).try_cast(t).as(n)
    }
    cleaned.select(lit(sample).as("sample") +: typed: _*)
  }

  // ---- eukcc (postgres.Rmd:2421-2431): header TSV; bin extension
  //      stripped, ncbi_tax = lineage tail, ncbi_lng renamed ----

  /** Deliberate divergence (bug-class, cited): the reference's
    * `str_remove(bin, ".fa")` / `str_remove(ncbi_lng, ".*-")` use
    * unescaped-dot first-occurrence regexes ("bin_fa1.fa" would lose
    * `_fa`, not the extension); here the extension strip anchors at
    * end-of-name and the tax id is the segment after the LAST dash —
    * the intent both regexes encode for well-formed inputs. */
  def eukccIngest(raw: DataFrame, sample: String): DataFrame =
    raw.select(
      lit(sample).as("sample"),
      regexp_replace(col("bin"), "\\.fa$", "").as("bin"),
      col("completeness"), col("contamination"),
      col("ncbi_lng").as("ncbi_lineage"),
      regexp_extract(col("ncbi_lng"), "([^-]*)$", 1).as("ncbi_tax"))

  // ---- antismash assembly summaries (postgres.Rmd:2297-2316
  //      counts, 2347-2371 regions) ----

  /** counts.tsv is wide (one column per BGC class); the reference
    * pivots long and keeps only (sample, group, count). `unpivot` is
    * Spark's native long-form operator — no per-column union. */
  def antismashCountsIngest(raw: DataFrame, sample: String)
      : DataFrame = {
    val fixed = Set("record", "total_count", "description")
    val groups = raw.columns.filterNot(fixed.contains)
    raw.withColumn("sample", lit(sample))
      .unpivot(
        Array(col("sample")),
        groups.map(col).toArray, "group", "count")
      .select(col("sample"), col("group"),
        col("count").try_cast("int").as("count"))
  }

  /** region_summary.tsv → warehouse shape: sample first, file and
    * record_desc dropped, record_id renamed contig, pg column types
    * (Rmd:2357-2366). */
  def antismashRegionsIngest(raw: DataFrame, sample: String)
      : DataFrame =
    raw.select(
      lit(sample).as("sample"),
      col("record_id").as("contig"),
      col("region").try_cast("int").as("region"),
      col("start").try_cast("bigint").as("start"),
      col("end").try_cast("bigint").as("end"),
      col("contig_edge").try_cast("boolean").as("contig_edge"),
      col("product"), col("KCB_hit"), col("KCB_acc"), col("KCB_sim"))

  // ---- gtdb_to_ncbi majority-vote taxonomy (T6; produced by
  //      `Snakefile:3181-3203` / gtdb_to_ncbi_majority_vote.py:395-396:
  //      header "Genome ID / GTDB classification / Majority vote NCBI
  //      classification") ----

  /** Ingest the translated-taxonomy TSV: spaced tool headers cleaned,
    * Genome ID → bin (the warehouse's bin key, as in the GTDB classify
    * loader), the majority-vote column shortened to
    * ncbi_classification, sample tagged first. */
  def gtdbToNcbiIngest(raw: DataFrame, sample: String): DataFrame =
    cleanNamesDf(raw).select(
      lit(sample).as("sample"),
      col("genome_id").as("bin"),
      col("gtdb_classification"),
      col("majority_vote_ncbi_classification")
        .as("ncbi_classification"))

  // ---- GTDB classify summary (postgres.Rmd:858-875): N/A nulls,
  //      7-rank split of classification, d__ strip, user_genome→bin ----

  val gtdbRanks: Seq[String] = Seq("domain", "phylum", "class",
    "order", "family", "genus", "species")

  /** The reference's `separate(classification, into = ranks,
    * sep = ";[a-z]__", remove = FALSE)`: the first piece keeps its
    * `d__` prefix (the separator only matches BETWEEN ranks), which
    * the mutate then strips. */
  def gtdbIngest(raw: DataFrame, sample: String): DataFrame = {
    val pieces = split(col("classification"), ";[a-z]__")
    val rankCols = gtdbRanks.zipWithIndex.map { case (r, i) =>
      val c = try_element_at(pieces, lit(i + 1))
      (if (r == "domain") regexp_replace(c, "^d__", "") else c).as(r)
    }
    raw.select(
      lit(sample).as("sample") +: col("user_genome").as("bin") +:
        col("classification") +: rankCols ++:
        raw.columns.filterNot(Set("user_genome", "classification"))
          .toSeq.map(col): _*)
  }

  // ---- CheckM (postgres.Rmd:907-921): "Bin Id"→bin + sample tag.
  //      The reference keeps the tool's spaced/`#`-prefixed headers
  //      verbatim (pg allows them); parquet does not, so the S2
  //      rename-map idiom applies — a documented divergence ----

  val checkmRenames: Map[String, String] = Map(
    "Bin Id" -> "bin", "Marker lineage" -> "marker_lineage",
    "# genomes" -> "n_genomes", "# markers" -> "n_markers",
    "# marker sets" -> "n_marker_sets",
    "0" -> "n0", "1" -> "n1", "2" -> "n2", "3" -> "n3", "4" -> "n4",
    "5+" -> "n5_plus", "Completeness" -> "completeness",
    "Contamination" -> "contamination",
    "Strain heterogeneity" -> "strain_heterogeneity")

  def checkmIngest(raw: DataFrame, sample: String): DataFrame = {
    val renamed = checkmRenames.foldLeft(raw) { case (df, (from, to)) =>
      if (df.columns.contains(from)) df.withColumnRenamed(from, to)
      else df
    }
    val ints = Set("n_genomes", "n_markers", "n_marker_sets",
      "n0", "n1", "n2", "n3", "n4", "n5_plus")
    val dbls = Set("completeness", "contamination",
      "strain_heterogeneity")
    val typed = renamed.columns.toSeq.map {
      case c if ints(c) => col(c).try_cast("int").as(c)
      case c if dbls(c) => col(c).try_cast("double").as(c)
      case c => col(c)
    }
    renamed.select(lit(sample).as("sample") +: typed: _*)
  }

  // ---- dRep (postgres.Rmd:1016-1037): Cdb ⟕ Sdb scores, cluster-rep
  //      flag from file existence (the J9 join idiom, not a per-row
  //      driver stat), genome extension strip, genome→bin ----

  /** repGenomes: one `genome` row per file present in
    * `dereplicated_genomes/` (production: `Readers.fileCatalog` over
    * that dir). The reference's per-row `fs::file_exists` becomes a
    * distributed left join + null flag. */
  def drepIngest(cdb: DataFrame, sdb: DataFrame, repGenomes: DataFrame,
      sample: String): DataFrame =
    cdb
      .join(sdb.withColumnRenamed("score", "drep_score"),
        Seq("genome"), "left")
      .join(repGenomes.select(col("genome"),
        lit(true).as("_rep_present")), Seq("genome"), "left")
      .select(
        lit(sample).as("sample"),
        regexp_replace(col("genome"), "\\.fa$", "").as("bin"),
        col("secondary_cluster"), col("threshold"),
        col("cluster_method"), col("comparison_algorithm"),
        col("primary_cluster"), col("drep_score"),
        coalesce(col("_rep_present"), lit(false)).as("is_cluster_rep"))

  // ---- snakemake benchmarks (postgres.Rmd:2114-2171): sample/rule
  //      recovered from the path (the unglue idiom), clean_names'd
  //      stat columns, h:m:s as text, file mtime carried ----

  /** rows: one row per benchmark file with a `path` column, the
    * clean_names'd stat columns, and the catalog `mtime` (production:
    * tsv-with-header read + input_file_name + fileCatalog join).
    * `str_extract` misses → NULL (nullif guards Spark's ""-on-miss). */
  def benchmarksIngest(rows: DataFrame): DataFrame = {
    val samplePat = "(samp[_-]\\d+|GVHDsamp[_-]\\d+|coassembly[_-]\\d+)"
    rows.select(
      regexp_replace(
        nullif(regexp_extract(col("path"), samplePat, 1), lit("")),
        "-", "_").as("sample"),
      nullif(regexp_extract(col("path"), "benchmarks/([^/]+)/", 1),
        lit("")).as("rule"),
      col("s").cast("double").as("s"),
      col("h_m_s").cast("string").as("h_m_s"),
      col("max_rss").cast("double").as("max_rss"),
      col("mean_load").cast("double").as("mean_load"),
      col("cpu_time").cast("double").as("cpu_time"),
      col("mtime").as("mod_time"))
  }

  // ---- kraken/bracken report (postgres.Rmd:727-740, krakenGTDB and
  //      krakenREFSEQ share the shape): headerless 6-col TSV, rank
  //      prefix stripped from the taxon name ----

  val krakenReportSchema: StructType = StructType(Seq(
    StructField("percent_abund", DoubleType),
    StructField("count_w_subtax", LongType),
    StructField("count_direct", LongType),
    StructField("rank", StringType),
    StructField("tax_id", IntegerType),
    StructField("name", StringType)))

  /** Parse brackenReport lines: readr's default trim applied to the
    * text columns (kraken indents names), `^[a-z]__` GTDB-style rank
    * prefix stripped, sample relocated first. */
  def parseKrakenReport(lns: Dataset[String], sample: String)
      : DataFrame =
    Readers.parseSeparated(lns, krakenReportSchema)
      .select(
        lit(sample).as("sample"), col("percent_abund"),
        col("count_w_subtax"), col("count_direct"),
        trim(col("rank")).as("rank"), col("tax_id"),
        regexp_replace(trim(col("name")), "^[a-z]__", "").as("name"))

  // ---- read_mapping_LCA_summary (postgres.Rmd:661-675): 8-col
  //      report, counts dropped, lineage_std split into capitalized
  //      rank columns, k__ stripped from Kingdom ----

  val lcaLevels: Seq[String] = Seq("Kingdom", "Phylum", "Class",
    "Order", "Family", "Genus", "Species")

  /** The reference splits on `;[A-z]__` (its exact pattern — note the
    * [A-z] character-class quirk) and keeps lineage_std; short
    * lineages leave the remaining ranks null (separate()'s NA). */
  def lcaSummaryIngest(raw: DataFrame, sample: String): DataFrame = {
    val pieces = split(col("lineage_std"), ";[A-z]__")
    val rankCols = lcaLevels.zipWithIndex.map { case (r, i) =>
      val c = try_element_at(pieces, lit(i + 1))
      (if (r == "Kingdom") regexp_replace(c, "^k__", "") else c).as(r)
    }
    raw.select(
      lit(sample).as("SampleID") +:
        col("percent_and_below").as("percent_abundance") +:
        col("rank") +: col("tax_id") +: col("tax_name") +:
        col("lineage_full") +: col("lineage_std") +: rankCols: _*)
  }

  // ---- mmseqs UniRef db mapping tables (postgres.Rmd:195-221):
  //      three headerless TSVs; the index's reported length includes
  //      the null-byte separator and newline, so the true sequence
  //      length is length − 2 (Rmd:204-208) ----

  val unirefLookupSchema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("uniref100", StringType),
    StructField("extra", IntegerType)))

  val unirefIndexSchema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("offset", LongType),
    StructField("length", IntegerType)))

  val unirefTaxidSchema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("taxid", IntegerType)))

  def parseUnirefIndex(lns: Dataset[String]): DataFrame =
    Readers.parseSeparated(lns, unirefIndexSchema)
      .withColumn("length", col("length") - 2)

  /** mmseqs row-id → UniRef100 accession map (postgres.Rmd:195-198) —
    * stored raw; consumers strip the "UniRef100_" prefix at join time
    * (Rmd:312,389) like the tophit ingest does. */
  def parseUnirefLookup(lns: Dataset[String]): DataFrame =
    Readers.parseSeparated(lns, unirefLookupSchema)

  /** mmseqs row-id → NCBI taxid map (postgres.Rmd:218-221) — the
    * taxonomy side of the tpm bridge. */
  def parseUnirefTaxid(lns: Dataset[String]): DataFrame =
    Readers.parseSeparated(lns, unirefTaxidSchema)

  // ---- coverM abundance tables (postgres.Rmd:1678-1702 genome/bin,
  //      1771-1790 contig): tool headers → warehouse names, coverM's
  //      own Sample column dropped in favor of the path-derived tag ----

  val binAbundRenames: Map[String, String] = Map(
    "Genome" -> "bin", "Relative Abundance (%)" -> "percent_abund",
    "Mean" -> "mean_depth", "Trimmed Mean" -> "trimmed_mean_depth",
    "Covered Bases" -> "covered_bases", "Variance" -> "variance",
    "Length" -> "length", "Read Count" -> "read_count",
    "Reads per base" -> "reads_per_base", "RPKM" -> "rpkm",
    "TPM" -> "tpm")

  val contigAbundRenames: Map[String, String] =
    (binAbundRenames - "Genome" - "Relative Abundance (%)") +
      ("Contig" -> "contig")

  private def applyRenames(raw: DataFrame,
      renames: Map[String, String]): DataFrame =
    renames.foldLeft(raw) { case (df, (from, to)) =>
      if (df.columns.contains(from)) df.withColumnRenamed(from, to)
      else df
    }

  private val abundTypes: Map[String, String] = Map(
    "percent_abund" -> "double", "mean_depth" -> "double",
    "trimmed_mean_depth" -> "double", "covered_bases" -> "bigint",
    "variance" -> "double", "length" -> "bigint",
    "read_count" -> "bigint", "reads_per_base" -> "double",
    "rpkm" -> "double", "tpm" -> "double")

  private def abundIngest(raw: DataFrame,
      renames: Map[String, String], sample: String): DataFrame = {
    val renamed = applyRenames(raw, renames).drop("Sample")
    val typed = renamed.columns.toSeq.map { c =>
      abundTypes.get(c) match {
        case Some(t) => col(c).try_cast(t).as(c)
        case None => col(c)
      }
    }
    renamed.select(lit(sample).as("sample") +: typed: _*)
  }

  /** bin_abund_within_sample: coverM genome output per sample. */
  def binAbundIngest(raw: DataFrame, sample: String): DataFrame =
    abundIngest(raw, binAbundRenames, sample)

  /** contig_abund: coverM contig output per sample (no relative
    * abundance column at contig grain). */
  def contigAbundIngest(raw: DataFrame, sample: String): DataFrame =
    abundIngest(raw, contigAbundRenames, sample)

  // ---- contig_blast (postgres.Rmd:2243-2250): classic 12-col m8
  //      with sample + search_name recovered from the path ----

  val contigBlastSchema: StructType = StructType(Seq(
    StructField("query", StringType),
    StructField("subject", StringType),
    StructField("percent_id", DoubleType),
    StructField("alignment_length", IntegerType),
    StructField("mismatches", IntegerType),
    StructField("gap_openings", IntegerType),
    StructField("query_start", LongType),
    StructField("query_end", LongType),
    StructField("subject_start", LongType),
    StructField("subject_end", LongType),
    StructField("e_value", DoubleType),
    StructField("bit_score", DoubleType)))

  def parseContigBlast(lns: Dataset[String], sample: String,
      searchName: String): DataFrame =
    Readers.parseSeparated(lns, contigBlastSchema)
      .select(lit(sample).as("sample") +:
        lit(searchName).as("search_name") +:
        contigBlastSchema.fieldNames.toSeq.map(col): _*)

  // ---- gene_abundance (postgres.Rmd:1189-1230): the full 20-col
  //      table — skip-4 BBMap .rpkm, per-FILE TPM from FPKM, prodigal
  //      header split (" # " fields, ";" key=value tail, "^.*="
  //      strip), ID split into contig/gene numbers, contig glued from
  //      sample ----

  val rpkmBodySchema: StructType = StructType(Seq(
    StructField("gene_header", StringType),
    StructField("length", IntegerType),
    StructField("bases", LongType),
    StructField("coverage", DoubleType),
    StructField("reads", LongType),
    StructField("rpkm", DoubleType),
    StructField("frags", LongType),
    StructField("fpkm", DoubleType)))

  /** body: parsed .rpkm rows with a `file` column (production:
    * `input_file_name()`); TPM normalizes per file — the window
    * partitions on it, so one shuffle keyed by file at scale, exactly
    * the reference's per-file `sum(FPKM)`. */
  def geneAbundanceIngest(body: DataFrame, sample: String)
      : DataFrame = {
    val wFile =
      org.apache.spark.sql.expressions.Window.partitionBy("file")
    val p = split(col("gene_header"), " # ")
    val kv = split(element_at(p, 5), ";")
    def stripKey(i: Int) =
      regexp_replace(element_at(kv, i), "^.*=", "")
    val idp = split(stripKey(1), "_")
    body
      // (FPKM / sum(FPKM)) * 1e6 — expression shape mirrored in the
      // oracle so interpolation-free FP stays bit-identical
      .withColumn("tpm",
        col("fpkm") / sum(col("fpkm")).over(wFile) * lit(1e6))
      .select(
        element_at(p, 1).as("gene"),
        concat(lit(sample), lit("_"), element_at(idp, 1)).as("contig"),
        lit(sample).as("sample"),
        element_at(p, 2).try_cast("bigint").as("left_edge"),
        element_at(p, 3).try_cast("bigint").as("right_edge"),
        element_at(p, 4).try_cast("int").as("strand"),
        stripKey(2).as("partial"),
        stripKey(3).as("start_type"),
        stripKey(4).as("rbs_motif"),
        stripKey(5).as("rbs_spacer"),
        stripKey(6).try_cast("double").as("gc_content"),
        try_element_at(idp, lit(1)).try_cast("bigint")
          .as("contig_num"),
        try_element_at(idp, lit(2)).try_cast("int").as("gene_num"),
        col("length"), col("bases"), col("coverage"), col("reads"),
        col("rpkm"), col("frags"), col("fpkm"), col("tpm"))
  }

  // ---- mmseqs tophit report → read_mapping_to_uniref /
  //      contig_uniref_tophits (postgres.Rmd:386-391): 9-col
  //      headerless TSV, UniRef prefix stripped into an id column,
  //      taxonomy text columns dropped ----

  def tophitIngest(lns: Dataset[String], sample: String): DataFrame =
    Readers.parseSeparated(lns, Readers.tophitSchema)
      .select(
        lit(sample).as("sample"), col("target"),
        regexp_replace(col("target"), "UniRef100_", "")
          .as("uniref100_id"),
        col("num_seqs_aligned"), col("unique_coverage_of_target"),
        col("target_coverage"), col("average_seq_identity"),
        col("taxonomy"))

  // ---- fixtures (raw tool-output text; the oracles re-derive every
  //      parse from the same constants) ----

  private[io] val tophitText: String = Seq(
    "UniRef100_A0A009\t120\t0.85\t0.91\t0.97\t562\tspecies\tEscherichia coli\tcellular organisms;Bacteria",
    "UniRef100_B5XK02\t48\t0.40\t0.55\t0.88\t1224\tphylum\tPseudomonadota\tcellular organisms;Bacteria",
    "UniRef100_C9ZZ99\t3\t0.05\t0.08\t0.61\t1\tno rank\troot\troot"
  ).mkString("\n")

  private[io] val unirefIndexText: String = Seq(
    "0\t0\t312", "1\t312\t145", "2\t457\t2048").mkString("\n")

  private[io] val unirefLookupText: String = Seq(
    "0\tUniRef100_A0A009\t0", "1\tUniRef100_B5XK02\t0",
    "2\tUniRef100_C9ZZ99\t0").mkString("\n")

  private[io] val unirefTaxidText: String = Seq(
    "0\t562", "1\t1224", "2\t1").mkString("\n")

  private[io] val binAbundHeader: Seq[String] = Seq("Sample", "Genome",
    "Relative Abundance (%)", "Mean", "Trimmed Mean", "Covered Bases",
    "Variance", "Length", "Read Count", "Reads per base", "RPKM",
    "TPM")

  private[io] val binAbundRows: Seq[(String, String, Double, Double,
      Double, Long, Double, Long, Long, Double, Double, Double)] = Seq(
    ("samp_447", "bin_1", 42.5, 18.2, 17.9, 2100000L, 4.1, 2150000L,
      310000L, 0.144, 851.2, 425000.0),
    ("samp_447", "bin_2", 12.1, 5.5, 5.2, 900000L, 1.9, 1200000L,
      88000L, 0.073, 433.0, 121000.0),
    ("samp_447", "unmapped", 45.4, 0.0, 0.0, 0L, 0.0, 0L, 0L, 0.0,
      0.0, 0.0))

  private[io] val contigAbundHeader: Seq[String] = Seq("Sample",
    "Contig", "Mean", "Trimmed Mean", "Covered Bases", "Variance",
    "Length", "Read Count", "Reads per base", "RPKM", "TPM")

  private[io] val contigAbundRows: Seq[(String, String, Double, Double,
      Long, Double, Long, Long, Double, Double, Double)] = Seq(
    ("samp_447", "samp_447_1", 18.2, 17.9, 52100L, 4.1, 52500L,
      9100L, 0.173, 912.4, 118000.0),
    ("samp_447", "samp_447_2", 5.5, 5.2, 17800L, 1.9, 18000L,
      1200L, 0.067, 410.2, 53000.0),
    ("samp_447", "samp_447_9", 0.0, 0.0, 0L, 0.0, 9000L, 0L, 0.0,
      0.0, 0.0))

  private[io] val contigBlastText: String = Seq(
    "c_1\tguanitoxin_ref\t98.50\t850\t10\t2\t100\t949\t1\t850\t1.2e-200\t1560.0",
    "c_2\tguanitoxin_ref\t76.20\t400\t90\t5\t10\t409\t30\t429\t3.5e-60\t240.5",
    "c_9\tother_ref\t55.00\t120\t54\t3\t5\t124\t200\t319\t0.002\t48.1"
  ).mkString("\n")

  private[io] val krakenReportText: String = Seq(
    "100.00\t5000\t0\tR\t1\troot",
    " 95.20\t4760\t120\tD\t2\td__Bacteria",
    " 60.10\t3005\t80\tP\t1224\tp__Pseudomonadota",
    "  4.80\t240\t240\tD\t2157\td__Archaea").mkString("\n")

  private[io] val lcaReportRows: Seq[(Double, Long, Long, String, Int,
      String, String, String)] = Seq(
    (45.5, 910, 10, "species", 562, "Escherichia coli",
      "cellular organisms;Bacteria;Pseudomonadota;Gammaproteobacteria",
      "k__Bacteria;p__Pseudomonadota;c__Gammaproteobacteria;" +
        "o__Enterobacterales;f__Enterobacteriaceae;g__Escherichia;" +
        "s__Escherichia coli"),
    (30.0, 600, 600, "phylum", 1224, "Pseudomonadota",
      "cellular organisms;Bacteria;Pseudomonadota",
      "k__Bacteria;p__Pseudomonadota"),
    (24.5, 490, 490, "no rank", 1, "root", "root", "root"))

  private[io] val gtdbHeader: Seq[String] = Seq("user_genome",
    "classification", "fastani_ani", "fastani_af",
    "classification_method", "red_value", "warnings")

  private[io] val gtdbRows
      : Seq[(String, String, String, String, String, String, String)] =
    Seq(
      ("bin_1",
        "d__Bacteria;p__Pseudomonadota;c__Gammaproteobacteria;" +
          "o__Burkholderiales;f__Burkholderiaceae;g__Limnohabitans;" +
          "s__Limnohabitans sp002293025",
        "97.91", "0.92", "taxonomic classification defined by topology",
        "N/A", "N/A"),
      ("bin_2",
        "d__Archaea;p__Thermoproteota;c__Nitrososphaeria;" +
          "o__Nitrososphaerales;f__Nitrosopumilaceae;g__;s__",
        "N/A", "N/A", "taxonomic novelty determined using RED",
        "0.89", "low coverage"),
      ("maxbin_3",
        "d__Bacteria;p__Bacteroidota;c__Bacteroidia;o__;f__;g__;s__",
        "N/A", "N/A", "taxonomic novelty determined using RED",
        "0.77", "N/A"))

  private[io] val checkmHeader: Seq[String] = Seq("Bin Id",
    "Marker lineage", "# genomes", "# markers", "# marker sets",
    "0", "1", "2", "3", "4", "5+", "Completeness", "Contamination",
    "Strain heterogeneity")

  private[io] val checkmRows: Seq[(String, String, Int, Int, Int, Int,
      Int, Int, Int, Int, Int, Double, Double, Double)] = Seq(
    ("bin_1", "k__Bacteria (UID203)", 5449, 104, 58, 2, 100, 2, 0, 0,
      0, 98.28, 1.72, 0.0),
    ("bin_2", "k__Archaea (UID2)", 207, 149, 107, 30, 115, 4, 0, 0, 0,
      81.78, 2.8, 25.0),
    ("maxbin_3", "root (UID1)", 5656, 56, 24, 56, 0, 0, 0, 0, 0, 0.0,
      0.0, 0.0))

  private[io] val drepCdbRows
      : Seq[(String, String, Double, String, String, Int)] = Seq(
    ("bin_1.fa", "1_1", 0.99, "average", "ANImf", 1),
    ("bin_2.fa", "1_1", 0.99, "average", "ANImf", 1),
    ("maxbin_3.fa", "2_1", 0.99, "average", "ANImf", 2))

  private[io] val drepSdbRows: Seq[(String, Double)] = Seq(
    ("bin_1.fa", 87.5), ("maxbin_3.fa", 42.25))

  private[io] val drepRepGenomes: Seq[String] =
    Seq("bin_1.fa", "maxbin_3.fa")

  private[io] val benchmarkRows: Seq[(String, Double, String, Double,
      Double, Double)] = Seq(
    ("benchmarks/assemble/metagenomes-set1__samp_100.txt",
      5400.25, "1:30:00", 128000.5, 12.5, 5200.0),
    ("benchmarks/assemble/metagenomes-GVHDset2__GVHDsamp_306.txt",
      60.0, "0:01:00", 900.0, 1.1, 55.9),
    ("benchmarks/concoct/coassembly-1.tsv",
      600.5, "0:10:00", 4500.0, 3.3, 580.2),
    ("benchmarks/summarize/no_sample_here.txt",
      1.0, "0:00:01", 10.0, 0.1, 0.9))

  private[io] val gtdbToNcbiHeader: Seq[String] = Seq(
    "Genome ID", "GTDB classification",
    "Majority vote NCBI classification")

  private[io] val gtdbToNcbiRows: Seq[(String, String, String)] = Seq(
    ("bin_1",
      "d__Bacteria;p__Pseudomonadota;c__Gammaproteobacteria;o__;f__;g__;s__",
      "d__Bacteria;p__Proteobacteria;c__Gammaproteobacteria;o__;f__;g__;s__"),
    ("bin_2",
      "d__Archaea;p__Thermoproteota;c__Nitrososphaeria;o__;f__;g__;s__",
      "d__Archaea;p__Crenarchaeota;c__;o__;f__;g__;s__"),
    ("maxbin_3",
      "d__Bacteria;p__Bacteroidota;c__Bacteroidia;o__;f__;g__;s__",
      "d__Bacteria;p__Bacteroidetes;c__Bacteroidia;o__;f__;g__;s__"))

  private[io] val kofamText: String =
    Seq(
      "# gene name\tKO\tthrshld\tscore\tE-value\tKO definition",
      "#---------\t--\t-------\t-----\t-------\t-------------",
      "*\tsamp_9_gene_1\tK00001\t223.17\t250.3\t1.2e-75\talcohol dehydrogenase [EC:1.1.1.1]",
      "\tsamp_9_gene_2\tK00002\t150.0\t88.1\t3.4e-20\tAKR1A1; alcohol dehydrogenase (NADP+)",
      "*\tsamp_9_gene_3\tK03088\t-\t45.7\t2.2e-09\tRNA polymerase sigma-70 factor",
      "\tsamp_9_gene_4\tK00003\t75.5\t12.0\t0.15\thomoserine dehydrogenase"
    ).mkString("\n")

  private[io] val checkm2Header: Seq[String] = Seq(
    "Name", "Completeness", "Contamination",
    "Completeness_Model_Used", "Translation_Table_Used",
    "Coding_Density", "Contig_N50", "Average_Gene_Length",
    "Genome_Size", "GC_Content", "Total_Coding_Sequences",
    "Additional_Notes")

  private[io] val checkm2Rows: Seq[(String, Double, Double, String,
      Int, Double, Long, Double, Long, Double, Long, String)] = Seq(
    ("bin_1", 98.5, 1.2, "Neural Network (Specific Model)", 11, 0.89,
      45210L, 320.5, 2150000L, 0.62, 2100L, "None"),
    ("concoct_7", 54.0, 8.9, "Gradient Boost (General Model)", 11,
      0.83, 9800L, 280.1, 1200000L, 0.41, 1500L, "None"),
    ("maxbin_2", 77.25, 3.05, "Neural Network (Specific Model)", 4,
      0.91, 22100L, 305.7, 3400000L, 0.55, 3050L, "None"))

  private[io] val eukccRows: Seq[(String, Double, Double, String)] =
    Seq(
      ("bin_3.fa", 85.2, 2.1, "1-131567-2759-33154-4751"),
      ("metabat_12.fa", 61.0, 5.5, "1-131567-2759"),
      ("bin_9.fa", 92.75, 0.8, "1-131567-2759-33090-35493"))

  private[io] val antismashCountGroups: Seq[String] =
    Seq("NRPS", "T1PKS", "terpene")

  private[io] val antismashCountRows
      : Seq[(String, Long, Long, Long, Long, String)] = Seq(
    ("samp9_contig_1", 3L, 1L, 1L, 1L, "rec one"),
    ("samp9_contig_2", 2L, 0L, 2L, 0L, "rec two"),
    ("samp9_contig_5", 1L, 1L, 0L, 0L, "rec five"))

  private[io] val antismashRegionRows: Seq[(String, String, String,
      Int, Long, Long, String, String, String, String, String)] = Seq(
    ("c1.gbk", "samp9_c1", "desc one", 1, 100L, 5000L, "False",
      "NRPS", "BGC0001", "acc1", "85%"),
    ("c1.gbk", "samp9_c1", "desc one", 2, 7000L, 12000L, "True",
      "terpene", "", "", ""),
    ("c2.gbk", "samp9_c2", "desc two", 1, 50L, 900L, "True",
      "T1PKS", "BGC0042", "acc42", "60%"))

  // ---- gate queries ----

  private def lines(s: SparkSession, text: String): Dataset[String] = {
    import s.implicits._
    s.createDataset(text.split("\n").toSeq)
  }

  private def sKofam(s: SparkSession, d: String): DataFrame =
    parseKofam(lines(s, kofamText), "samp_9")

  private def sCheckm2(s: SparkSession, d: String): DataFrame = {
    // header travels as data: the raw text (tool headers) goes through
    // the same csv reader a file would, then clean_names + typing
    val raw = s.read.option("sep", "\t").option("header", "true")
      .csv(lines(s, (checkm2Header.mkString("\t") +:
        checkm2Rows.map(_.productIterator.mkString("\t")))
        .mkString("\n")))
    checkm2Ingest(raw, "samp_9")
  }

  private def sEukcc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    eukccIngest(eukccRows.toDF("bin", "completeness", "contamination",
      "ncbi_lng"), "samp_9")
  }

  private def sAntismashCounts(s: SparkSession, d: String)
      : DataFrame = {
    import s.implicits._
    antismashCountsIngest(
      antismashCountRows.toDF(
        "record" +: "total_count" +: antismashCountGroups :+
          "description": _*),
      "samp_9")
  }

  private def sAntismashRegions(s: SparkSession, d: String)
      : DataFrame = {
    import s.implicits._
    antismashRegionsIngest(
      antismashRegionRows.toDF("file", "record_id", "record_desc",
        "region", "start", "end", "contig_edge", "product", "KCB_hit",
        "KCB_acc", "KCB_sim"),
      "samp_9")
  }

  private def sGtdbToNcbi(s: SparkSession, d: String): DataFrame = {
    // header travels as data, same as checkm2: the spaced tool headers
    // exercise cleanNamesDf on a real read path
    val raw = s.read.option("sep", "\t").option("header", "true")
      .csv(lines(s, (gtdbToNcbiHeader.mkString("\t") +:
        gtdbToNcbiRows.map(_.productIterator.mkString("\t")))
        .mkString("\n")))
    gtdbToNcbiIngest(raw, "samp_9")
  }

  private def sGtdb(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.option("sep", "\t").option("header", "true")
      .option("nullValue", "N/A")
      .csv(lines(s, (gtdbHeader.mkString("\t") +:
        gtdbRows.map(_.productIterator.mkString("\t")))
        .mkString("\n")))
    gtdbIngest(raw, "samp_9")
      .withColumn("fastani_ani", col("fastani_ani").try_cast("double"))
      .withColumn("fastani_af", col("fastani_af").try_cast("double"))
      .withColumn("red_value", col("red_value").try_cast("double"))
  }

  private def sCheckm(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.option("sep", "\t").option("header", "true")
      .csv(lines(s, (checkmHeader.mkString("\t") +:
        checkmRows.map(_.productIterator.mkString("\t")))
        .mkString("\n")))
    checkmIngest(raw, "samp_9")
  }

  private def sDrep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    drepIngest(
      drepCdbRows.toDF("genome", "secondary_cluster", "threshold",
        "cluster_method", "comparison_algorithm", "primary_cluster"),
      drepSdbRows.toDF("genome", "score"),
      drepRepGenomes.toDF("genome"),
      "samp_9")
  }

  private def sBenchmarks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    benchmarksIngest(
      benchmarkRows.toDF("path", "s", "h_m_s", "max_rss", "mean_load",
        "cpu_time")
        .withColumn("mtime",
          to_timestamp(lit("2026-08-01 12:00:00"))))
  }

  private def sTophit(s: SparkSession, d: String): DataFrame =
    tophitIngest(lines(s, tophitText), "samp_9")

  private def sGeneAbund(s: SparkSession, d: String): DataFrame =
    geneAbundanceIngest(
      Readers.parseSeparated(
        Readers.skipLines(lines(s, Fixtures.rpkm), 4), rpkmBodySchema)
        .filter(col("gene_header") =!= "#Name")
        // non-foldable constant (production uses input_file_name):
        // a literal file name is optimizer-eliminated from the TPM
        // window's partition spec → single-partition warning. coalesce
        // keeps it total — concat(_, NULL) would null the file key
        .withColumn("file",
          concat(lit("samp_9.rpkm"),
            substring(coalesce(col("gene_header"), lit("")), 0, 0))),
      "samp_9")

  private def sUnirefIndex(s: SparkSession, d: String): DataFrame =
    parseUnirefIndex(lines(s, unirefIndexText))

  private def sUnirefLookup(s: SparkSession, d: String): DataFrame =
    parseUnirefLookup(lines(s, unirefLookupText))

  private def sUnirefTaxid(s: SparkSession, d: String): DataFrame =
    parseUnirefTaxid(lines(s, unirefTaxidText))

  private def sBinAbund(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.option("sep", "\t").option("header", "true")
      .csv(lines(s, (binAbundHeader.mkString("\t") +:
        binAbundRows.map(_.productIterator.mkString("\t")))
        .mkString("\n")))
    binAbundIngest(raw, "samp_447")
  }

  private def sContigAbund(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.option("sep", "\t").option("header", "true")
      .csv(lines(s, (contigAbundHeader.mkString("\t") +:
        contigAbundRows.map(_.productIterator.mkString("\t")))
        .mkString("\n")))
    contigAbundIngest(raw, "samp_447")
  }

  private def sContigBlast(s: SparkSession, d: String): DataFrame =
    parseContigBlast(lines(s, contigBlastText), "samp_2233",
      "guanitoxin")

  private def sKrakenReport(s: SparkSession, d: String): DataFrame =
    parseKrakenReport(lines(s, krakenReportText), "samp_447")

  private def sLcaSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lcaSummaryIngest(
      lcaReportRows.toDF("percent_and_below", "count_and_below",
        "count_directly", "rank", "tax_id", "tax_name", "lineage_full",
        "lineage_std"),
      "samp_9")
  }

  // ---- DuckDB oracles (same constants, parse re-derived in SQL) ----

  private def lit1(s: String): String =
    "'" + s.replace("'", "''") + "'"

  private def kofamOracle: String = {
    val vals = kofamText.split("\n").zipWithIndex
      .map { case (l, i) => s"(CAST($i AS BIGINT), ${lit1(l)})" }
      .mkString(", ")
    s"""WITH raw(idx, line) AS (VALUES $vals),
     body AS (SELECT line FROM raw WHERE idx >= 2
              AND length(trim(line)) > 0),
     p AS (SELECT string_split(line, chr(9)) AS f FROM body)
     SELECT f[2] AS gene, 'samp_9' AS sample, (f[1] = '*') AS sig,
       f[3] AS ko, TRY_CAST(f[4] AS DOUBLE) AS thrshld,
       TRY_CAST(f[5] AS DOUBLE) AS score,
       TRY_CAST(f[6] AS DOUBLE) AS e_value
     FROM p"""
  }

  private def checkm2Oracle: String = {
    val vals = checkm2Rows.map { r =>
      s"(${lit1(r._1)}, ${r._2}, ${r._3}, ${lit1(r._4)}, ${r._5}, " +
        s"${r._6}, ${r._7}, ${r._8}, ${r._9}, ${r._10}, ${r._11}, " +
        s"${lit1(r._12)})"
    }.mkString(", ")
    s"""WITH w(bin, completeness, contamination,
       completeness_model_used, translation_table_used, coding_density,
       contig_n50, average_gene_length, genome_size, gc_content,
       total_coding_sequences, additional_notes) AS (VALUES $vals)
     SELECT 'samp_9' AS sample, bin,
       CAST(completeness AS DOUBLE) AS completeness,
       CAST(contamination AS DOUBLE) AS contamination,
       completeness_model_used,
       CAST(translation_table_used AS INT) AS translation_table_used,
       CAST(coding_density AS DOUBLE) AS coding_density,
       CAST(contig_n50 AS BIGINT) AS contig_n50,
       CAST(average_gene_length AS DOUBLE) AS average_gene_length,
       CAST(genome_size AS BIGINT) AS genome_size,
       CAST(gc_content AS DOUBLE) AS gc_content,
       CAST(total_coding_sequences AS BIGINT)
         AS total_coding_sequences,
       additional_notes
     FROM w"""
  }

  private def eukccOracle: String = {
    val vals = eukccRows.map { case (b, cp, cn, l) =>
      s"(${lit1(b)}, $cp, $cn, ${lit1(l)})"
    }.mkString(", ")
    s"""WITH w(bin, completeness, contamination, ncbi_lng)
       AS (VALUES $vals)
     SELECT 'samp_9' AS sample,
       regexp_replace(bin, '\\.fa$$', '') AS bin,
       CAST(completeness AS DOUBLE) AS completeness,
       CAST(contamination AS DOUBLE) AS contamination,
       ncbi_lng AS ncbi_lineage,
       regexp_extract(ncbi_lng, '([^-]*)$$', 1) AS ncbi_tax
     FROM w"""
  }

  private def antismashCountsOracle: String = {
    val vals = antismashCountRows.map { case (r, t, a, b, c, d) =>
      s"(${lit1(r)}, $t, $a, $b, $c, ${lit1(d)})"
    }.mkString(", ")
    val unions = antismashCountGroups.map { g =>
      s"""SELECT 'samp_9' AS sample, '$g' AS "group",
         CAST("$g" AS INT) AS "count" FROM w"""
    }.mkString(" UNION ALL ")
    s"""WITH w(record, total_count, ${antismashCountGroups
      .map(g => s""""$g"""").mkString(", ")}, description)
       AS (VALUES $vals)
     $unions"""
  }

  private def antismashRegionsOracle: String = {
    val vals = antismashRegionRows.map { r =>
      s"(${lit1(r._1)}, ${lit1(r._2)}, ${lit1(r._3)}, ${r._4}, " +
        s"${r._5}, ${r._6}, ${lit1(r._7)}, ${lit1(r._8)}, " +
        s"${lit1(r._9)}, ${lit1(r._10)}, ${lit1(r._11)})"
    }.mkString(", ")
    s"""WITH w(file, record_id, record_desc, region, start, "end",
       contig_edge, product, kcb_hit, kcb_acc, kcb_sim)
       AS (VALUES $vals)
     SELECT 'samp_9' AS sample, record_id AS contig,
       CAST(region AS INT) AS region, CAST(start AS BIGINT) AS start,
       CAST("end" AS BIGINT) AS "end",
       CAST(contig_edge AS BOOLEAN) AS contig_edge, product,
       kcb_hit AS "KCB_hit", kcb_acc AS "KCB_acc",
       kcb_sim AS "KCB_sim"
     FROM w"""
  }

  private def gtdbToNcbiOracle: String = {
    val vals = gtdbToNcbiRows.map { case (b, g, n) =>
      s"(${lit1(b)}, ${lit1(g)}, ${lit1(n)})"
    }.mkString(", ")
    s"""WITH w(genome_id, gtdb_classification, ncbi) AS (VALUES $vals)
     SELECT 'samp_9' AS sample, genome_id AS bin, gtdb_classification,
       ncbi AS ncbi_classification
     FROM w"""
  }

  private def gtdbOracle: String = {
    val vals = gtdbRows.map { r =>
      Seq(r._1, r._2, r._3, r._4, r._5, r._6, r._7)
        .map(lit1).mkString("(", ", ", ")")
    }.mkString(", ")
    val rankSel = gtdbRanks.zipWithIndex.map { case (rk, i) =>
      val piece = s"string_split_regex(classification, ';[a-z]__')" +
        s"[${i + 1}]"
      if (rk == "domain")
        s"regexp_replace($piece, '^d__', '') AS domain"
      else s"""$piece AS "$rk""""
    }.mkString(", ")
    s"""WITH w(user_genome, classification, fastani_ani, fastani_af,
       classification_method, red_value, warnings) AS (VALUES $vals),
     n AS (SELECT user_genome,
         NULLIF(classification, 'N/A') AS classification,
         NULLIF(fastani_ani, 'N/A') AS fastani_ani,
         NULLIF(fastani_af, 'N/A') AS fastani_af,
         NULLIF(classification_method, 'N/A')
           AS classification_method,
         NULLIF(red_value, 'N/A') AS red_value,
         NULLIF(warnings, 'N/A') AS warnings
       FROM w)
     SELECT 'samp_9' AS sample, user_genome AS bin, classification,
       $rankSel,
       CAST(fastani_ani AS DOUBLE) AS fastani_ani,
       CAST(fastani_af AS DOUBLE) AS fastani_af,
       classification_method,
       CAST(red_value AS DOUBLE) AS red_value, warnings
     FROM n"""
  }

  private def checkmOracle: String = {
    val vals = checkmRows.map { r =>
      (lit1(r._1) +: lit1(r._2) +: Seq(r._3, r._4, r._5, r._6, r._7,
        r._8, r._9, r._10, r._11).map(_.toString) :+ r._12.toString :+
        r._13.toString :+ r._14.toString).mkString("(", ", ", ")")
    }.mkString(", ")
    s"""WITH w(bin, marker_lineage, n_genomes, n_markers,
       n_marker_sets, n0, n1, n2, n3, n4, n5_plus, completeness,
       contamination, strain_heterogeneity) AS (VALUES $vals)
     SELECT 'samp_9' AS sample, bin, marker_lineage,
       CAST(n_genomes AS INT) AS n_genomes,
       CAST(n_markers AS INT) AS n_markers,
       CAST(n_marker_sets AS INT) AS n_marker_sets,
       CAST(n0 AS INT) AS n0, CAST(n1 AS INT) AS n1,
       CAST(n2 AS INT) AS n2, CAST(n3 AS INT) AS n3,
       CAST(n4 AS INT) AS n4, CAST(n5_plus AS INT) AS n5_plus,
       CAST(completeness AS DOUBLE) AS completeness,
       CAST(contamination AS DOUBLE) AS contamination,
       CAST(strain_heterogeneity AS DOUBLE) AS strain_heterogeneity
     FROM w"""
  }

  private def drepOracle: String = {
    val cvals = drepCdbRows.map { case (g, sc, th, cm, ca, pc) =>
      s"(${lit1(g)}, ${lit1(sc)}, $th, ${lit1(cm)}, ${lit1(ca)}, $pc)"
    }.mkString(", ")
    val svals = drepSdbRows.map { case (g, sc) => s"(${lit1(g)}, $sc)" }
      .mkString(", ")
    val rvals = drepRepGenomes.map(g => s"(${lit1(g)})").mkString(", ")
    s"""WITH cdb(genome, secondary_cluster, threshold, cluster_method,
       comparison_algorithm, primary_cluster) AS (VALUES $cvals),
     sdb(genome, drep_score) AS (VALUES $svals),
     rep(genome) AS (VALUES $rvals)
     SELECT 'samp_9' AS sample,
       regexp_replace(c.genome, '\\.fa$$', '') AS bin,
       c.secondary_cluster, CAST(c.threshold AS DOUBLE) AS threshold,
       c.cluster_method, c.comparison_algorithm,
       CAST(c.primary_cluster AS INT) AS primary_cluster,
       CAST(s.drep_score AS DOUBLE) AS drep_score,
       (r.genome IS NOT NULL) AS is_cluster_rep
     FROM cdb c
     LEFT JOIN sdb s ON c.genome = s.genome
     LEFT JOIN rep r ON c.genome = r.genome"""
  }

  private def benchmarksOracle: String = {
    val vals = benchmarkRows.map { case (p, sv, h, m, l, c) =>
      s"(${lit1(p)}, $sv, ${lit1(h)}, $m, $l, $c)"
    }.mkString(", ")
    s"""WITH w(path, s, h_m_s, max_rss, mean_load, cpu_time)
       AS (VALUES $vals)
     SELECT replace(NULLIF(regexp_extract(path,
         '(samp[_-]\\d+|GVHDsamp[_-]\\d+|coassembly[_-]\\d+)', 1), ''),
         '-', '_') AS sample,
       NULLIF(regexp_extract(path, 'benchmarks/([^/]+)/', 1), '')
         AS rule,
       CAST(s AS DOUBLE) AS s, h_m_s,
       CAST(max_rss AS DOUBLE) AS max_rss,
       CAST(mean_load AS DOUBLE) AS mean_load,
       CAST(cpu_time AS DOUBLE) AS cpu_time,
       CAST('2026-08-01 12:00:00' AS TIMESTAMP) AS mod_time
     FROM w"""
  }

  private def krakenReportOracle: String = {
    val vals = krakenReportText.split("\n").map(lit1)
      .map(l => s"($l)").mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT string_split(line, chr(9)) AS f FROM raw
           WHERE length(trim(line)) > 0)
     SELECT 'samp_447' AS sample,
       TRY_CAST(f[1] AS DOUBLE) AS percent_abund,
       TRY_CAST(f[2] AS BIGINT) AS count_w_subtax,
       TRY_CAST(f[3] AS BIGINT) AS count_direct,
       trim(f[4]) AS rank, TRY_CAST(f[5] AS INT) AS tax_id,
       regexp_replace(trim(f[6]), '^[a-z]__', '') AS name
     FROM p"""
  }

  private def lcaSummaryOracle: String = {
    val vals = lcaReportRows.map { r =>
      s"(${r._1}, ${r._2}, ${r._3}, ${lit1(r._4)}, ${r._5}, " +
        s"${lit1(r._6)}, ${lit1(r._7)}, ${lit1(r._8)})"
    }.mkString(", ")
    val rankSel = lcaLevels.zipWithIndex.map { case (rk, i) =>
      val piece =
        s"string_split_regex(lineage_std, ';[A-z]__')[${i + 1}]"
      if (rk == "Kingdom")
        s"""regexp_replace($piece, '^k__', '') AS "Kingdom""""
      else s"""$piece AS "$rk""""
    }.mkString(", ")
    s"""WITH w(percent_and_below, count_and_below, count_directly,
       rank, tax_id, tax_name, lineage_full, lineage_std)
       AS (VALUES $vals)
     SELECT 'samp_9' AS "SampleID",
       CAST(percent_and_below AS DOUBLE) AS percent_abundance,
       rank, CAST(tax_id AS INT) AS tax_id, tax_name, lineage_full,
       lineage_std, $rankSel
     FROM w"""
  }

  private def unirefIndexOracle: String = {
    val vals = unirefIndexText.split("\n").map(lit1)
      .map(l => s"($l)").mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT string_split(line, chr(9)) AS f FROM raw
           WHERE length(trim(line)) > 0)
     SELECT TRY_CAST(f[1] AS INT) AS id,
       TRY_CAST(f[2] AS BIGINT) AS "offset",
       TRY_CAST(f[3] AS INT) - 2 AS length
     FROM p"""
  }

  private def unirefLookupOracle: String = {
    val vals = unirefLookupText.split("\n").map(lit1)
      .map(l => s"($l)").mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT string_split(line, chr(9)) AS f FROM raw
           WHERE length(trim(line)) > 0)
     SELECT TRY_CAST(f[1] AS INT) AS id, f[2] AS uniref100,
       TRY_CAST(f[3] AS INT) AS extra
     FROM p"""
  }

  private def unirefTaxidOracle: String = {
    val vals = unirefTaxidText.split("\n").map(lit1)
      .map(l => s"($l)").mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT string_split(line, chr(9)) AS f FROM raw
           WHERE length(trim(line)) > 0)
     SELECT TRY_CAST(f[1] AS INT) AS id, TRY_CAST(f[2] AS INT) AS taxid
     FROM p"""
  }

  private def binAbundOracle: String = {
    val vals = binAbundRows.map { r =>
      s"(${lit1(r._1)}, ${lit1(r._2)}, ${r._3}, ${r._4}, ${r._5}, " +
        s"${r._6}, ${r._7}, ${r._8}, ${r._9}, ${r._10}, ${r._11}, " +
        s"${r._12})"
    }.mkString(", ")
    s"""WITH w(coverm_sample, bin, percent_abund, mean_depth,
       trimmed_mean_depth, covered_bases, variance, length, read_count,
       reads_per_base, rpkm, tpm) AS (VALUES $vals)
     SELECT 'samp_447' AS sample, bin,
       CAST(percent_abund AS DOUBLE) AS percent_abund,
       CAST(mean_depth AS DOUBLE) AS mean_depth,
       CAST(trimmed_mean_depth AS DOUBLE) AS trimmed_mean_depth,
       CAST(covered_bases AS BIGINT) AS covered_bases,
       CAST(variance AS DOUBLE) AS variance,
       CAST(length AS BIGINT) AS length,
       CAST(read_count AS BIGINT) AS read_count,
       CAST(reads_per_base AS DOUBLE) AS reads_per_base,
       CAST(rpkm AS DOUBLE) AS rpkm, CAST(tpm AS DOUBLE) AS tpm
     FROM w"""
  }

  private def contigAbundOracle: String = {
    val vals = contigAbundRows.map { r =>
      s"(${lit1(r._1)}, ${lit1(r._2)}, ${r._3}, ${r._4}, ${r._5}, " +
        s"${r._6}, ${r._7}, ${r._8}, ${r._9}, ${r._10}, ${r._11})"
    }.mkString(", ")
    s"""WITH w(coverm_sample, contig, mean_depth, trimmed_mean_depth,
       covered_bases, variance, length, read_count, reads_per_base,
       rpkm, tpm) AS (VALUES $vals)
     SELECT 'samp_447' AS sample, contig,
       CAST(mean_depth AS DOUBLE) AS mean_depth,
       CAST(trimmed_mean_depth AS DOUBLE) AS trimmed_mean_depth,
       CAST(covered_bases AS BIGINT) AS covered_bases,
       CAST(variance AS DOUBLE) AS variance,
       CAST(length AS BIGINT) AS length,
       CAST(read_count AS BIGINT) AS read_count,
       CAST(reads_per_base AS DOUBLE) AS reads_per_base,
       CAST(rpkm AS DOUBLE) AS rpkm, CAST(tpm AS DOUBLE) AS tpm
     FROM w"""
  }

  private def contigBlastOracle: String = {
    val vals = contigBlastText.split("\n").map(lit1)
      .map(l => s"($l)").mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT string_split(line, chr(9)) AS f FROM raw
           WHERE length(trim(line)) > 0)
     SELECT 'samp_2233' AS sample, 'guanitoxin' AS search_name,
       f[1] AS query, f[2] AS subject,
       TRY_CAST(f[3] AS DOUBLE) AS percent_id,
       TRY_CAST(f[4] AS INT) AS alignment_length,
       TRY_CAST(f[5] AS INT) AS mismatches,
       TRY_CAST(f[6] AS INT) AS gap_openings,
       TRY_CAST(f[7] AS BIGINT) AS query_start,
       TRY_CAST(f[8] AS BIGINT) AS query_end,
       TRY_CAST(f[9] AS BIGINT) AS subject_start,
       TRY_CAST(f[10] AS BIGINT) AS subject_end,
       TRY_CAST(f[11] AS DOUBLE) AS e_value,
       TRY_CAST(f[12] AS DOUBLE) AS bit_score
     FROM p"""
  }

  private def geneAbundOracle: String = {
    val vals = Fixtures.rpkm.split("\n").zipWithIndex
      .map { case (l, i) => s"(CAST($i AS BIGINT), ${lit1(l)})" }
      .mkString(", ")
    s"""WITH raw(idx, line) AS (VALUES $vals),
     body AS (SELECT line FROM raw WHERE idx >= 4
              AND length(trim(line)) > 0),
     p AS (SELECT string_split(line, chr(9)) AS f FROM body),
     t AS (SELECT f[1] AS gene_header,
         TRY_CAST(f[2] AS INT) AS length,
         TRY_CAST(f[3] AS BIGINT) AS bases,
         TRY_CAST(f[4] AS DOUBLE) AS coverage,
         TRY_CAST(f[5] AS BIGINT) AS reads,
         TRY_CAST(f[6] AS DOUBLE) AS rpkm,
         TRY_CAST(f[7] AS BIGINT) AS frags,
         TRY_CAST(f[8] AS DOUBLE) AS fpkm
       FROM p WHERE f[1] <> '#Name'),
     w AS (SELECT *, fpkm / sum(fpkm) OVER () * 1000000.0 AS tpm
           FROM t),
     g AS (SELECT *, string_split(gene_header, ' # ') AS gp FROM w),
     k AS (SELECT *, string_split(gp[5], ';') AS kv FROM g),
     c AS (SELECT *,
         string_split(regexp_replace(kv[1], '^.*=', ''), '_') AS idp
       FROM k)
     SELECT gp[1] AS gene,
       'samp_9_' || idp[1] AS contig, 'samp_9' AS sample,
       TRY_CAST(gp[2] AS BIGINT) AS left_edge,
       TRY_CAST(gp[3] AS BIGINT) AS right_edge,
       TRY_CAST(gp[4] AS INT) AS strand,
       regexp_replace(kv[2], '^.*=', '') AS partial,
       regexp_replace(kv[3], '^.*=', '') AS start_type,
       regexp_replace(kv[4], '^.*=', '') AS rbs_motif,
       regexp_replace(kv[5], '^.*=', '') AS rbs_spacer,
       TRY_CAST(regexp_replace(kv[6], '^.*=', '') AS DOUBLE)
         AS gc_content,
       TRY_CAST(idp[1] AS BIGINT) AS contig_num,
       TRY_CAST(idp[2] AS INT) AS gene_num,
       length, bases, coverage, reads, rpkm, frags, fpkm, tpm
     FROM c"""
  }

  private def tophitOracle: String = {
    val vals = tophitText.split("\n").map(lit1)
      .map(l => s"($l)").mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT string_split(line, chr(9)) AS f FROM raw
           WHERE length(trim(line)) > 0)
     SELECT 'samp_9' AS sample, f[1] AS target,
       regexp_replace(f[1], 'UniRef100_', '') AS uniref100_id,
       TRY_CAST(f[2] AS INT) AS num_seqs_aligned,
       TRY_CAST(f[3] AS DOUBLE) AS unique_coverage_of_target,
       TRY_CAST(f[4] AS DOUBLE) AS target_coverage,
       TRY_CAST(f[5] AS DOUBLE) AS average_seq_identity,
       TRY_CAST(f[6] AS INT) AS taxonomy
     FROM p"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("s_tophit", sTophit _, Some(tophitOracle)),
    Gate("s_gene_abund", sGeneAbund _, Some(geneAbundOracle)),
    Gate("s_uniref_index", sUnirefIndex _, Some(unirefIndexOracle)),
    Gate("s_uniref_lookup", sUnirefLookup _, Some(unirefLookupOracle)),
    Gate("s_uniref_taxid", sUnirefTaxid _, Some(unirefTaxidOracle)),
    Gate("s_bin_abund", sBinAbund _, Some(binAbundOracle)),
    Gate("s_contig_abund", sContigAbund _, Some(contigAbundOracle)),
    Gate("s_contig_blast", sContigBlast _, Some(contigBlastOracle)),
    Gate("s_kraken_report", sKrakenReport _, Some(krakenReportOracle)),
    Gate("s_lca_summary", sLcaSummary _, Some(lcaSummaryOracle)),
    Gate("s_gtdb", sGtdb _, Some(gtdbOracle)),
    Gate("s_checkm", sCheckm _, Some(checkmOracle)),
    Gate("s_drep", sDrep _, Some(drepOracle)),
    Gate("s_benchmarks", sBenchmarks _, Some(benchmarksOracle)),
    Gate("s_gtdb_to_ncbi", sGtdbToNcbi _, Some(gtdbToNcbiOracle)),
    Gate("s_kofam", sKofam _, Some(kofamOracle)),
    Gate("s_checkm2", sCheckm2 _, Some(checkm2Oracle)),
    Gate("s_eukcc", sEukcc _, Some(eukccOracle)),
    Gate("s_antismash_counts", sAntismashCounts _, Some(antismashCountsOracle)),
    Gate("s_antismash_regions", sAntismashRegions _,
      Some(antismashRegionsOracle)))
}
